package perfbench

import graft.config.XmlConfigParser
import graft.operators.Dedup
import graft.pipeline.{ValidationPipeline, ValidationSummary}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One workload: set-up, then rounds of operations. Each operation
  * writes under a fresh `out` directory that the runner deletes after
  * [[check]]; [[check]] and the round hooks are not timed.
  */
trait Workload {
  def setup(): Unit
  def opsPerRound: Int
  def beginRound(): Unit = ()
  def op(i: Int, out: Path): Unit
  /** Facts about operation i's outputs, compared with the oracle. */
  def check(i: Int, out: Path): Map[String, Any]
  /** Facts about the state a round leaves behind. */
  def endRound(): Map[String, Any] = Map.empty
  /** Traced runs only: the layer probes for operation i, run before it. */
  def layers(i: Int, t: Tracer, scratch: Path): Map[String, Double]
  /** Traced runs only: per-layer counts read from operation i's check. */
  def counts(i: Int, check: Map[String, Any]): Map[String, Double]
}

object Workload {
  def apply(name: String, spark: SparkSession, inputs: Path, work: Path,
      config: String): Workload = name match {
    case "etl_bulk" => new EtlBulk(spark, inputs, config)
    case "etl_drops" => new EtlDrops(spark, inputs, config)
    case "dedup_ingest" => new DedupIngest(spark, inputs, work)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** The CSV-drop job: config parse, the Production.Operators dimension and
  * the pipeline are set up once; an operation validates and sinks CSVs.
  */
abstract class EtlWorkload(spark: SparkSession, inputs: Path, config: String)
    extends Workload {
  protected var pipeline: ValidationPipeline = _
  protected val drops: Path = inputs.resolve("drops")
  protected lazy val files: Seq[Path] =
    Files.list(drops).toArray.map(_.asInstanceOf[Path]).toSeq
      .filter(_.getFileName.toString.endsWith(".csv")).sortBy(_.toString)

  def setup(): Unit = {
    val cfg = XmlConfigParser.parseFile(config)
    val dim = spark.read.option("header", "true")
      .schema("operator_id STRING, operator_name STRING")
      .csv(inputs.resolve("operators.csv").toString)
      .persist(StorageLevel.MEMORY_ONLY)
    dim.count()
    pipeline = new ValidationPipeline(cfg, Map("Production.Operators" -> dim))
  }

  def opsPerRound: Int = 1

  protected def summaryFacts(s: ValidationSummary): Map[String, Any] =
    Map("total" -> s.total, "valid" -> s.valid, "invalid" -> s.invalid,
      "errors" -> s.errorCount)

  /** Row counts of both sinks by input file (and by ErrorType for the
    * error sink), the valid rows not marked VALID, and the longest
    * FieldValue.
    */
  protected def sinkFacts(valid: String, errors: String): Map[String, Any] = {
    val file = substring_index(col("FileSource"), "/", -1)
    val v = spark.read.parquet(valid)
      .groupBy(file.as("f"))
      .agg(count(lit(1)), sum(when(col("ValidationStatus") === "VALID", 0).otherwise(1)))
      .collect()
    val e = spark.read.parquet(errors)
      .groupBy(file.as("f"), col("ErrorType"))
      .agg(count(lit(1)), max(length(col("FieldValue"))))
      .collect()
    Map(
      "valid_rows" -> v.map(r => r.getString(0) -> r.getLong(1)).toMap,
      "not_valid_status" -> v.map(_.getLong(2)).sum,
      "error_rows" -> e.groupBy(_.getString(0)).map { case (f, rs) =>
        f -> rs.map(r => r.getString(1) -> r.getLong(2)).toMap },
      "max_field_value_len" -> (e.map(_.getInt(3)) :+ 0).max)
  }

  /** Times the pipeline's layers on one file, each materialized to the
    * noop sink: read, + row rules, + global rules.
    */
  protected def layerTimes(t: Tracer, file: String): (Double, Double, Double) = {
    def noop(df: => DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val (_, read) = t.span("pipeline.read")(noop(pipeline.readCsv(spark, file)))
    val (_, rows) = t.span("rules.row")(
      noop(pipeline.annotateRowRules(pipeline.readCsv(spark, file))))
    val (_, all) = t.span("pipeline.annotate")(
      noop(pipeline.annotate(pipeline.readCsv(spark, file))))
    (read, rows, all)
  }

  protected def parseMs(t: Tracer): Double =
    t.span("config.parse")(XmlConfigParser.parseFile(config))._2

  def counts(i: Int, check: Map[String, Any]): Map[String, Double] = {
    val s = check("summaries").asInstanceOf[Map[String, Map[String, Any]]].values
    Map(
      "pipeline.valid_rows" -> s.map(_("valid").asInstanceOf[Long]).sum.toDouble,
      "pipeline.error_rows" -> s.map(_("errors").asInstanceOf[Long]).sum.toDouble)
  }
}

/** etl_bulk: one large drop through [[ValidationPipeline.run]]. */
final class EtlBulk(spark: SparkSession, inputs: Path, config: String)
    extends EtlWorkload(spark, inputs, config) {
  private var last: ValidationSummary = _
  private def input = files.head.toString

  def op(i: Int, out: Path): Unit =
    last = pipeline.run(spark, input, s"$out/valid", s"$out/errors")

  def check(i: Int, out: Path): Map[String, Any] =
    Map("summaries" -> Map(files.head.getFileName.toString -> summaryFacts(last)),
      "failed_files" -> Seq.empty[String]) ++
      sinkFacts(s"$out/valid", s"$out/errors")

  def layers(i: Int, t: Tracer, scratch: Path): Map[String, Double] = {
    val parse = parseMs(t)
    val (read, rows, all) = layerTimes(t, input)
    Map("config.parse_ms" -> parse, "pipeline.read_ms" -> read,
      "rules.row_ms" -> (rows - read), "pipeline.global_ms" -> (all - rows),
      "pipeline.annotate_ms" -> all)
  }
}

/** etl_drops: many small drops through [[ValidationPipeline.runBatch]],
  * the reference's per-file loop.
  */
final class EtlDrops(spark: SparkSession, inputs: Path, config: String)
    extends EtlWorkload(spark, inputs, config) {
  private var last: graft.pipeline.BatchResult = _

  def op(i: Int, out: Path): Unit =
    last = pipeline.runBatch(spark, s"$drops/production_data_*.csv",
      s"$out/valid", s"$out/errors")

  def check(i: Int, out: Path): Map[String, Any] =
    Map(
      "summaries" -> last.files.flatMap(f =>
        f.summary.map(s => f.file.split('/').last -> summaryFacts(s))).toMap,
      "failed_files" -> last.files.filterNot(_.succeeded)
        .map(f => s"${f.file}: ${f.error.getOrElse("")}")) ++
      sinkFacts(s"$out/valid/*", s"$out/errors/*")

  def layers(i: Int, t: Tracer, scratch: Path): Map[String, Double] = {
    val parse = parseMs(t)
    val per = files.map(f => layerTimes(t, f.toString))
    val read = per.map(_._1).sum
    val rows = per.map(_._2).sum
    val all = per.map(_._3).sum
    Map("config.parse_ms" -> parse, "pipeline.read_ms" -> read,
      "rules.row_ms" -> (rows - read), "pipeline.global_ms" -> (all - rows),
      "pipeline.annotate_ms" -> all)
  }
}

/** dedup_ingest: a MinHash index seeded over a corpus, then micro-batches
  * folded in with [[Dedup.ingestDedupBatchTo]]. Every round restores the
  * seed index, so each round folds the same batches into the same state.
  */
final class DedupIngest(spark: SparkSession, inputs: Path, work: Path) extends Workload {
  private val docs = inputs.resolve("docs")
  private val seedIndex = work.resolve("seed_index")
  private val index = work.resolve("index")
  private val schema = "doc_id BIGINT, text STRING"
  private lazy val batches: Seq[Path] =
    Files.list(docs).toArray.map(_.asInstanceOf[Path]).toSeq
      .filter(_.getFileName.toString.startsWith("batch_")).sortBy(_.toString)

  private def read(p: Path): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(p.toString)

  def setup(): Unit =
    Dedup.writeMinHashIndex(read(docs.resolve("seed.csv")), "doc_id", "text",
      seedIndex.toString, mode = "overwrite")

  def opsPerRound: Int = batches.size

  override def beginRound(): Unit = {
    Fs.deleteTree(index)
    Fs.copyTree(seedIndex, index)
  }

  def op(i: Int, out: Path): Unit = {
    val batch = read(batches(i)).persist()
    try Dedup.ingestDedupBatchTo(spark, batch, "doc_id", "text", index.toString,
      batchId = Some(i.toLong),
      sink = n => n.select(col("doc_id")).write.parquet(s"$out/novel"))
    finally { batch.unpersist(); () }
  }

  private def digest(ids: Array[Long]): Seq[Long] =
    Seq(ids.length.toLong, ids.foldLeft(0L)((s, x) => s + Fs.mix64(x)))

  def check(i: Int, out: Path): Map[String, Any] = {
    val ids = spark.read.parquet(s"$out/novel").collect().map(_.getLong(0))
    Map("novel" -> digest(ids))
  }

  override def endRound(): Map[String, Any] = {
    val ids = spark.read.parquet(s"$index/shingles").select("id").collect().map(_.getLong(0))
    val postings = spark.read.parquet(s"$index/bands").count()
    Map("index_ids" -> digest(ids.distinct), "index_rows" -> ids.length.toLong,
      "index_postings" -> postings)
  }

  def layers(i: Int, t: Tracer, scratch: Path): Map[String, Double] = {
    val batch = read(batches(i)).persist()
    try {
      val (pairs, probe) = t.span("dedup.probe")(
        Dedup.minHashProbeIndex(spark, batch, "doc_id", "text", index.toString).count())
      // the append is timed on a copy: the operation itself appends next
      val copy = scratch.resolve("index")
      Fs.copyTree(index, copy)
      val (_, append) = t.span("dedup.append")(
        Dedup.writeMinHashIndex(batch, "doc_id", "text", copy.toString, mode = "append"))
      Fs.deleteTree(copy)
      Map("dedup.probe_ms" -> probe, "dedup.append_ms" -> append,
        "dedup.pairs" -> pairs.toDouble)
    } finally { batch.unpersist(); () }
  }

  def counts(i: Int, check: Map[String, Any]): Map[String, Double] = {
    // the index after this step's append, per byte of document CSV
    // ingested so far (seed corpus and batches 0..i)
    val ingested = (docs.resolve("seed.csv") +: batches.take(i + 1)).map(Files.size).sum
    Map(
      "dedup.novel_rows" -> check("novel").asInstanceOf[Seq[Long]].head.toDouble,
      "dedup.index_bytes_per_input_byte" -> Fs.treeBytes(index) / ingested.toDouble)
  }
}
