package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A timed interval: `parent` is the id of the enclosing span (-1 at the
  * root), `op` the operation it belongs to.
  */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
    parent: Int, op: Int)

/** The traced run's instrument: spans around the benchmark's calls into
  * each layer, plus a [[SparkListener]] and a [[QueryExecutionListener]]
  * registered on the benchmark's own session that count the Spark work
  * of one operation. Spans stay in memory until [[spansJson]].
  */
final class Tracer(spark: SparkSession) {
  private val SpanProperty = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil // driver-thread span stack
  @volatile private var current = -1 // innermost open span, read by the bus
  @volatile private var opId = -1
  private var nextId = 0

  // counters of the current operation, written from the listener bus
  private var jobs, stages, tasks = 0L
  private var taskCpuNs, inputBytes, shuffleBytes, spillBytes, outputBytes = 0L
  private var planMs = 0.0
  private val jobStart = mutable.Map.empty[Int, (Long, Int)]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def record(name: String, start: Double, end: Double, parent: Int): Int =
    synchronized {
      val id = nextId
      nextId += 1
      spans += Span(id, name, start, end, parent, opId)
      id
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += 1
      // the submitting thread's innermost span, carried as a local
      // property (inherited by the threads an operation starts)
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(-1)
      jobStart(e.jobId) = (e.time, parent)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (s, parent) =>
        jobIntervals += ((s, e.time))
        record(s"spark.job.${e.jobId}", s.toDouble, e.time.toDouble, parent)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        taskCpuNs += m.executorCpuTime
        inputBytes += m.inputMetrics.bytesRead
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.diskBytesSpilled
        outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val phases = qe.tracker.phases
        planMs += Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs).sum
        val end = System.currentTimeMillis().toDouble
        record(s"query.$funcName", end - durationNs / 1e6, end, current)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(): Unit = {
    BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Times `body` as a span nested in the innermost open span. */
  def span[T](name: String)(body: => T): (T, Double) = {
    val parent = open.headOption.getOrElse(-1)
    val id = synchronized { val i = nextId; nextId += 1; i }
    open = id :: open
    current = id
    spark.sparkContext.setLocalProperty(SpanProperty, id.toString)
    val start = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e6)
    } finally {
      open = open.tail
      current = open.headOption.getOrElse(-1)
      spark.sparkContext.setLocalProperty(SpanProperty, open.headOption.map(_.toString).orNull)
      synchronized {
        spans += Span(id, name, start, System.currentTimeMillis().toDouble, parent, opId)
      }
    }
  }

  /** Starts counting a new operation's Spark work. */
  def begin(op: Int): Unit = {
    BusDrain(spark.sparkContext)
    synchronized {
      opId = op
      jobs = 0; stages = 0; tasks = 0
      taskCpuNs = 0; inputBytes = 0; shuffleBytes = 0; spillBytes = 0; outputBytes = 0
      planMs = 0.0
      jobIntervals.clear()
    }
    gc0 = gcMs
  }

  private var gc0 = 0L
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** The Spark counters since [[begin]], for an operation of `wallMs`. */
  def end(wallMs: Double): Map[String, Double] = {
    BusDrain(spark.sparkContext)
    synchronized {
      // union of the job intervals: time with at least one job running
      var inJob = 0L
      var reach = Long.MinValue
      jobIntervals.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) {
          inJob += e - math.max(s, reach)
          reach = e
        }
      }
      Map(
        "spark.jobs" -> jobs.toDouble,
        "spark.stages" -> stages.toDouble,
        "spark.tasks" -> tasks.toDouble,
        "spark.in_job_ms" -> inJob.toDouble,
        "spark.driver_ms" -> math.max(0.0, wallMs - inJob),
        "spark.plan_ms" -> planMs,
        "spark.task_cpu_ms" -> taskCpuNs / 1e6,
        "spark.gc_ms" -> (gcMs - gc0).toDouble,
        "spark.input_bytes" -> inputBytes.toDouble,
        "spark.shuffle_write_bytes" -> shuffleBytes.toDouble,
        "spark.spill_bytes" -> spillBytes.toDouble,
        "spark.output_bytes" -> outputBytes.toDouble)
    }
  }

  def spansJson: Iterator[String] = synchronized { spans.toList }.iterator.map { s =>
    Json(Map("id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "parent" -> s.parent, "op" -> s.op))
  }
}
