package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** The benchmark's JVM: sets a workload up, warms it up, then times
  * whole rounds of its operations for a fixed wall-clock budget, and
  * writes every sample plus the facts the oracle checks to one JSON file.
  *
  *   perfbench.BenchMain --workload etl_bulk --inputs DIR --work DIR
  *     --config mapping_config.xml --threads 4 --seconds 20 --trace 0
  *     --setups 3 --out result.json
  *
  * The set-up samples are `--setups` set-ups after the measurement, each
  * from a stopped session after a full GC: session start, config parse,
  * pipeline and dimension construction, the seed index build. The fresh
  * JVM's time to ready is one sample a run, so it is recorded apart
  * (`cold_setup_s`) and not among them.
  * `--trace 1` alternates plain rounds with traced rounds: a traced
  * operation first probes each layer, then runs with the listeners on.
  */
object BenchMain {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    val work = Paths.get(opts("work"))
    def session(): SparkSession = {
      val spark = SparkSession.builder()
        .appName("perfbench")
        .master(s"local[${opts("threads")}]")
        // as the repository's Bench, Verify and tests run their sessions
        .config("spark.sql.shuffle.partitions", opts("threads"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark
    }
    def workload(spark: SparkSession): Workload = {
      val wl = Workload(opts("workload"), spark, Paths.get(opts("inputs")), work,
        opts("config"))
      wl.setup()
      wl
    }
    var spark = session()
    try {
      val wl = workload(spark)
      // fresh JVM to ready
      val cold = (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      val run = new Runner(spark, wl, work, opts("seconds").toDouble, opts("trace") == "1").run()
      // set up again in this JVM, each time from a stopped session
      val setups = (1 to opts("setups").toInt).map { _ =>
        spark.stop()
        System.gc()
        val t0 = System.nanoTime()
        spark = session()
        workload(spark)
        (System.nanoTime() - t0) / 1e9
      }
      val record = run + ("cold_setup_s" -> cold) + ("setup_samples" -> setups)
      Files.write(Paths.get(opts("out")), Json(record).getBytes(UTF_8))
    } finally spark.stop()
  }
}

final class Runner(spark: SparkSession, wl: Workload, work: Path, seconds: Double,
    trace: Boolean) {
  private val cpu = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val tracer = new Tracer(spark)
  private var seq = 0

  private def freshDir(): Path = {
    seq += 1
    work.resolve("out").resolve(f"op-$seq%05d")
  }

  /** One operation: timed call, then the untimed check and clean-up. */
  private def plain(round: Int, i: Int): Map[String, Any] = {
    val out = freshDir()
    val j0 = jit.getTotalCompilationTime
    val g0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = cpu.getProcessCpuTime
    val t0 = System.nanoTime()
    wl.op(i, out)
    val wall = (System.nanoTime() - t0) / 1e9
    val cpuS = (cpu.getProcessCpuTime - c0) / 1e9
    val jitMs = jit.getTotalCompilationTime - j0
    val codegens = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - g0
    val check = wl.check(i, out)
    Fs.deleteTree(out)
    Map("round" -> round, "step" -> i, "wall_s" -> wall, "cpu_s" -> cpuS,
      "jit_ms" -> jitMs, "codegen_compiles" -> codegens, "check" -> check)
  }

  /** A traced operation: layer probes, then the operation with the
    * listeners counting its Spark work.
    */
  private def traced(round: Int, i: Int): Map[String, Any] = {
    val scratch = freshDir()
    val layers = tracer.span("layers")(wl.layers(i, tracer, scratch))._1
    Fs.deleteTree(scratch)
    val out = freshDir()
    tracer.begin(seq)
    val c0 = cpu.getProcessCpuTime
    val (_, wallMs) = tracer.span("operation")(wl.op(i, out))
    val cpuS = (cpu.getProcessCpuTime - c0) / 1e9
    val sparkCounts = tracer.end(wallMs)
    val check = wl.check(i, out)
    Fs.deleteTree(out)
    val opLayer = layers.get("pipeline.annotate_ms") match {
      case Some(annotate) => Map("pipeline.run_ms" -> (wallMs - annotate))
      case None => Map("dedup.step_ms" -> wallMs)
    }
    Map("round" -> round, "step" -> i, "wall_s" -> wallMs / 1e3, "cpu_s" -> cpuS,
      "check" -> check,
      "layers" -> (layers ++ opLayer ++ sparkCounts ++ wl.counts(i, check)))
  }

  private def round(r: Int, op: (Int, Int) => Map[String, Any]): Map[String, Any] = {
    wl.beginRound()
    val ops = (0 until wl.opsPerRound).map(op(r, _))
    Map("round" -> r, "ops" -> ops, "check" -> wl.endRound())
  }

  private def roundWall(r: Map[String, Any]): Double =
    r("ops").asInstanceOf[Seq[Map[String, Any]]].map(_("wall_s").asInstanceOf[Double]).sum

  def run(): Map[String, Any] = {
    // warm-up: at least two whole rounds and three operations, then more
    // while a round is faster than the best earlier one by 3%, for at
    // most `seconds` in all
    val warm = ArrayBuffer.empty[Map[String, Any]]
    val w0 = System.nanoTime()
    def falling = roundWall(warm.last) < 0.97 * warm.init.map(roundWall).min
    while (warm.size < 2 || warm.size * wl.opsPerRound < 3 ||
        (falling && (System.nanoTime() - w0) / 1e9 < seconds))
      warm += round(-1 - warm.size, plain)

    val rounds = ArrayBuffer.empty[Map[String, Any]]
    val m0 = System.nanoTime()
    // traced mode runs plain and traced rounds in the order P T T P ...,
    // so the tracing overhead is measured in the same JVM and a drift
    // that is linear in time cancels
    while ((System.nanoTime() - m0) / 1e9 < seconds || rounds.size < (if (trace) 4 else 1)) {
      rounds += (if (trace && Set(1, 2)(rounds.size % 4)) {
        tracer.attach()
        try round(rounds.size, traced) finally tracer.detach()
      } else round(rounds.size, plain))
    }
    if (trace) {
      val spans = work.resolve("spans.jsonl")
      Files.write(spans, tracer.spansJson.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    Map(
      "warmup" -> warm.toSeq,
      "rounds" -> rounds.toSeq,
      "measured_s" -> (System.nanoTime() - m0) / 1e9,
      "peak_rss_mb" -> vmHwmMb)
  }

  /** The process's peak resident set (VmHWM), in MB. */
  private def vmHwmMb: Double = {
    val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
      .linesIterator.find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
