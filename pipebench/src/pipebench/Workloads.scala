package pipebench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.{CorpusCuration, GraftApi, GraftSession, MixStage}
import graft.ml.{Inference, ModelRegistry}
import graft.monitoring.PlanMetrics
import graft.operators.{Analytics, Caches, MissingValues, TimeSeries}
import graft.sources.{Formats, Tables}

/** Operation accounting: every call into graft the benchmark makes is
  * one attempted operation. A failure is counted, its reason goes to
  * stderr, and the operation records no latency sample. */
final class Ops {
  final case class Sample(kind: String, name: String, seconds: Double)
  val samples = mutable.ArrayBuffer.empty[Sample]
  var attempted = 0
  var failed = 0

  def apply[T](kind: String, name: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      samples += Sample(kind, name, (System.nanoTime() - t0) / 1e9)
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[pipebench] operation $name failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** An operation that could not run because one it needs failed. */
  def skipped(name: String, cause: String): None.type = {
    attempted += 1
    failed += 1
    System.err.println(s"[pipebench] operation $name skipped: $cause failed")
    None
  }
}

/** One timed unit of work: its wall time and the input rows it covered. */
final case class UnitResult(wallS: Double, rows: Long)

/** A benchmark workload over one input directory. `unit` runs one
  * timed unit (a weather pipeline pass or a curation pass);
  * `finish` writes what the correctness check needs into `out`. */
trait Workload {
  def prepare(spark: SparkSession): Unit = ()
  def hasMore: Boolean = true
  def unit(spark: SparkSession, tr: Trace, ops: Ops): UnitResult
  def finish(out: String): Map[String, Double] = Map.empty
}

object Workloads {
  def make(name: String, data: String, work: String): Workload = name match {
    case "weather_pipeline" => new WeatherPipeline(data, work)
    case "corpus_curation"  => new CorpusCurationRun(data, work)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Construct → plan → execute one DataFrame-returning call; the plan
    * phase is forced separately only while tracing. */
  def phased[T](tr: Trace, build: => DataFrame)(act: DataFrame => T): (DataFrame, T) = {
    val df = tr.phase("construct")(build)
    if (tr.enabled) tr.phase("plan")(df.queryExecution.executedPlan)
    (df, tr.phase("exec")(act(df)))
  }

  def rowCount(spark: SparkSession, path: String): Long =
    spark.read.parquet(path).count()
}

/** The reference weather system end to end, one pass per unit:
  * the collector lands one JSON-lines batch (Formats.readJsonl →
  * Formats.quarantine → clean rows appended as parquet to the live
  * events table), the processor writes ingest, validation, dedup,
  * features, range join and quality report as parquet, the predictor
  * trains, cross-validates, registers and predicts, and the dashboard
  * runs its seven reads. Every written step and every read uses
  * exactly the arguments of its SparkEntry.queries entry, so its oracle
  * SQL applies verbatim over the snapshot the pass saw. Each append is
  * followed by Tables.invalidate(): the Tables handle memo assumes a
  * table dir never changes within a session. */
final class WeatherPipeline(data: String, work: String) extends Workload {
  // one walk-forward fold: each fold is a full random-forest fit, whose
  // job count (not the input size) sets its cost
  private val cvFolds = 1
  private val live = s"$work/live"
  private val eventsDir = s"$live/events.parquet"
  private val out = s"$work/outputs"
  private val registry = new ModelRegistry(s"$work/registry")
  private val batches = Files.list(Paths.get(s"$data/appends")).iterator().asScala
    .map(_.toString).filter(_.endsWith(".jsonl")).toSeq.sorted
  private var nextBatch = 0
  private var eventRows, lineitemRows, rowsIn, rowsQuarantined = 0L
  private var filesScanned, tracedReads = 0L
  private val appendLog, readLog = mutable.ArrayBuffer.empty[String]
  var holdoutRmse = Double.NaN

  private def snapshotFiles: Seq[String] =
    Files.list(Paths.get(eventsDir)).iterator().asScala.map(_.getFileName.toString)
      .filter(f => f.endsWith(".parquet") && !f.startsWith(".") && !f.startsWith("_"))
      .toSeq.sorted

  override def prepare(spark: SparkSession): Unit = {
    Files.createDirectories(Paths.get(eventsDir))
    Files.copy(Paths.get(s"$data/events.parquet"), Paths.get(s"$eventsDir/part-base.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(s"$data/lineitem.parquet"), Paths.get(s"$live/lineitem.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    eventRows = Workloads.rowCount(spark, s"$eventsDir/part-base.parquet")
    lineitemRows = Workloads.rowCount(spark, s"$live/lineitem.parquet")
    Tables.invalidate()
  }

  override def hasMore: Boolean = nextBatch < batches.size

  def unit(spark: SparkSession, tr: Trace, ops: Ops): UnitResult = {
    val t0 = System.nanoTime()
    append(spark, tr, ops)
    GraftSession.tune(spark)
    val ev = Tables.events(spark, live)
    def written(key: String, span: String)(build: => DataFrame): Unit =
      ops("step", span)(tr.span(span) {
        Workloads.phased(tr, build)(_.write.mode("overwrite").parquet(s"$out/$key"))
      })
    written("q_json_ingest", "Analytics.jsonIngest")(Analytics.jsonIngest(ev))
    written("q_validate_ingest", "Analytics.validateIngest")(Analytics.validateIngest(ev))
    written("q_dedup_key", "Analytics.dedupByKey")(Analytics.dedupByKey(ev))
    written("q_feature_pipeline", "TimeSeries.featurePipeline")(TimeSeries.featurePipeline(ev))
    written("q_range_join", "TimeSeries.rangeJoin")(TimeSeries.rangeJoin(ev))
    written("q_quality_report", "GraftApi.qualityReport")(
      GraftApi.qualityReport(ev, TimeSeries.weatherView(ev), MissingValues.maskedView(ev)))
    val engineered = TimeSeries.featurePipeline(ev, passthrough = Seq("ts"))
    val trained = ops("step", "Inference.train")(tr.span("Inference.train") {
      tr.phase("exec")(Inference.train(engineered))
    })
    // the labeled frame Inference.train fits on, built from public parts
    val labeled = Inference.fillZeros(engineered, Inference.defaultFeatures)
      .filter(col("value_future").isNotNull)
      .withColumn("label", col("value_future"))
    val cv = ops("step", "Inference.walkForwardCvMetrics")(
      tr.span("Inference.walkForwardCvMetrics") {
        tr.phase("exec")(Inference.walkForwardCvMetrics(labeled, cvFolds))
      })
    val registered = (trained, cv) match {
      case (Some((model, holdout)), Some(cvm)) =>
        holdoutRmse = holdout("rmse")
        ops("step", "ModelRegistry.register")(tr.span("ModelRegistry.register") {
          tr.phase("exec")(registry.register("temperature", model, holdout ++ cvm))
        })
      case _ => ops.skipped("ModelRegistry.register", "Inference.train or walkForwardCvMetrics")
    }
    if (registered.isDefined) written("predict", "GraftApi.predict")(GraftApi.predict(ev, registry))
    else ops.skipped("GraftApi.predict", "ModelRegistry.register")
    val bookkeeping = reads(spark, tr, ops)
    UnitResult((System.nanoTime() - t0) / 1e9 - bookkeeping, eventRows)
  }

  private def append(spark: SparkSession, tr: Trace, ops: Ops): Unit = {
    val batch = batches(nextBatch)
    nextBatch += 1
    ops("step", "append")(tr.span("append") {
      val raw = tr.phase("construct")(Formats.readJsonl(spark, batch, WeatherPipeline.jsonSchema))
      val scope = Caches.newScope("append")
      try {
        val (clean, bad) = tr.phase("construct")(Caches.in(scope)(Formats.quarantine(raw)))
        tr.phase("exec") {
          clean.write.mode("append").parquet(eventsDir)
          (clean.count(), bad.count())
        }
      } finally {
        Caches.releasePinned(scope)
        Tables.invalidate()
      }
    }).foreach { case (nClean, nBad) =>
      eventRows += nClean
      rowsIn += nClean + nBad
      rowsQuarantined += nBad
      appendLog += s"""{"batch": "${Paths.get(batch).getFileName}", "clean": $nClean, """ +
        s""""quarantined": $nBad, "files": [${snapshotFiles.map(f => s""""$f"""").mkString(", ")}]}"""
    }
  }

  /** The dashboard reads; returns the seconds spent digesting results
    * for the check, which the caller leaves out of the unit's wall. */
  private def reads(spark: SparkSession, tr: Trace, ops: Ops): Double = {
    val snapshot = appendLog.size
    var bookkeeping = 0L
    for ((key, span, build) <- WeatherPipeline.reads) {
      ops("read", span)(tr.span(span) {
        Workloads.phased(tr, build(spark, live))(_.collect())
      }).foreach { case (df, got) =>
        val t0 = System.nanoTime()
        if (tr.enabled) {
          filesScanned += PlanMetrics.metricSum(df, "numFiles")
          tracedReads += 1
        }
        readLog += s"""{"key": "$key", "snapshot": $snapshot, "rows": ${got.length}, """ +
          s""""digest": "${Digest.of(got, df.schema)}"}"""
        bookkeeping += System.nanoTime() - t0
      }
    }
    bookkeeping / 1e9
  }

  override def finish(out: String): Map[String, Double] = {
    Files.write(Paths.get(s"$out/appends.jsonl"), appendLog.asJava)
    Files.write(Paths.get(s"$out/reads.jsonl"), readLog.asJava)
    Map("ml.holdout_rmse" -> holdoutRmse,
      "append.quarantined_frac" -> (if (rowsIn == 0) 0.0 else rowsQuarantined.toDouble / rowsIn),
      "read.files_scanned" -> (if (tracedReads == 0) 0.0 else filesScanned.toDouble / tracedReads))
  }
}

object WeatherPipeline {
  val jsonSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def ev(s: SparkSession, d: String): DataFrame = {
    GraftSession.tune(s); Tables.events(s, d)
  }

  /** The dashboard reads: (oracle key, span, the SparkEntry.queries call). */
  val reads: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("q_load_timerange", "Analytics.loadTimerange", (s, d) => {
      GraftSession.tune(s)
      Analytics.loadTimerange(Tables.eventsRaw(s, d), "2024-01-10 00:00:00", "2024-01-20 00:00:00")
    }),
    ("q_metrics", "Analytics.metrics", (s, d) => Analytics.metrics(ev(s, d))),
    ("q_latest_per_key", "Analytics.latestPerKey", (s, d) => Analytics.latestPerKey(ev(s, d))),
    ("q_group_compare", "Analytics.groupCompare", (s, d) => Analytics.groupCompare(ev(s, d))),
    ("q_corr_matrix", "Analytics.corrMatrix",
      (s, d) => Analytics.corrMatrix(TimeSeries.weatherView(ev(s, d)))),
    ("q1_pricing", "Analytics.pricingSummary", (s, d) => Analytics.pricingSummary(Tables.lineitem(s, d))),
    ("q_topk_revenue", "Analytics.topkRevenue", (s, d) => Analytics.topkRevenue(Tables.lineitem(s, d))))
}

/** GraftApi.curatePlan → .frame → curated parquet, with the argument
  * set of SparkEntry's q_curate entry (src0 is the decontamination
  * benchmark; span cut k = 20; per-source quota 10). */
final class CorpusCurationRun(data: String, work: String) extends Workload {
  private lazy val nDocs = Workloads.rowCount(SparkSession.active, s"$data/documents.parquet")
  private var keepRatios = Map.empty[String, Double]

  def unit(spark: SparkSession, tr: Trace, ops: Ops): UnitResult = {
    val t0 = System.nanoTime()
    val docs = Tables.documents(spark, data)
    val plan = ops("step", "GraftApi.curatePlan")(tr.span("GraftApi.curatePlan") {
      tr.phase("construct")(GraftApi.curatePlan(
        docs.filter(col("source") =!= "src0"),
        spanDedupK = Some(20),
        benchmark = Some(docs.filter(col("source") === "src0")),
        mix = Some(MixStage.PerSource(10))))
    })
    val frame = plan match {
      case Some(p) => ops("step", "CorpusCuration.frame")(tr.span("CorpusCuration.frame") {
        tr.phase("construct")(p.frame)
      })
      case None => ops.skipped("CorpusCuration.frame", "GraftApi.curatePlan")
    }
    frame match {
      case Some(f) => ops("step", "curate.write")(tr.span("curate.write") {
        if (tr.enabled) tr.phase("plan")(f.queryExecution.executedPlan)
        tr.phase("exec")(f.write.mode("overwrite").parquet(s"$work/outputs/q_curate"))
      })
      case None => ops.skipped("curate.write", "CorpusCuration.frame")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    // the keep-ratio counts are extra jobs: traced units only, after timing
    if (tr.enabled && frame.isDefined) keepRatios = CorpusCurationRun.keepRatios(plan.get)
    plan.foreach(_.release())
    UnitResult(wall, nDocs)
  }

  override def finish(out: String): Map[String, Double] = keepRatios
}

object CorpusCurationRun {
  private val short = Map("strip_markup" -> "strip", "quality_filter" -> "quality",
    "exact_dedup" -> "keep_best", "decontaminate" -> "decontam", "near_dup" -> "near_dup",
    "span_dedup" -> "spans", "redact_pii" -> "redact", "stratified_sample" -> "sample")

  /** docs_out / docs_in of every stage in the curation's manifest. */
  def keepRatios(plan: CorpusCuration): Map[String, Double] =
    plan.manifest.collect().toSeq.filter(_.getAs[String]("stage") != "input").map { r =>
      val in = r.getAs[Long]("docs_in")
      s"curate.${short.getOrElse(r.getAs[String]("stage"), r.getAs[String]("stage"))}.keep_ratio" ->
        (if (in == 0) 0.0 else r.getAs[Long]("docs_out").toDouble / in)
    }.toMap
}
