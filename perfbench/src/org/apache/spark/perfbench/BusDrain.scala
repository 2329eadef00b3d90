package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the tracer drains the
  * bus before it reads its counters, so every event of an operation is
  * counted in that operation (the bus is package-private to Spark).
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
