package pipebench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

import graft.{GraftSession, SparkEntry}

/** One benchmark run in one JVM: set up once (session + an untimed
  * warm-up unit on the small `warm` input, counted from process start;
  * a second weather set-up would repeat its random-forest warm-up, which
  * the run's time budget cannot afford), then run timed units of the
  * workload for `--seconds` and write `result.json` plus the
  * correctness artifacts into `--work`. With `--trace 1` the units are
  * untraced, traced, untraced, and the traced one feeds the per-layer
  * metrics.
  *
  * Usage: pipebench.Main --workload W --data DIR --work DIR --seconds S --trace 0|1
  */
object Main {
  val cores = 4

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val data = a("data")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    Files.createDirectories(Paths.get(work))

    // set-up: session + one untimed warm-up unit on the small input,
    // counted from process start (class loading, JIT and codegen land here)
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val warm = Workloads.make(workload, s"$data/warm", s"$work/warm")
    val warmOps = new Ops
    warm.prepare(spark)
    warm.unit(spark, new Trace(spark.sparkContext, "warm"), warmOps)
    if (warmOps.failed > 0)
      throw new IllegalStateException(s"warm-up failed ${warmOps.failed} of ${warmOps.attempted} operations")
    val setupS = (System.currentTimeMillis() - processStart) / 1e3
    val jitSetupMs = Trace.jitMs

    val runId = s"$workload-${System.currentTimeMillis()}"
    val tr = new Trace(spark.sparkContext, runId)
    val rec = new Recorder
    if (traced) spark.sparkContext.addSparkListener(rec)
    val w = Workloads.make(workload, data, work)
    w.prepare(spark)
    val ops = new Ops
    val units = mutable.ArrayBuffer.empty[(Boolean, UnitResult)]
    var gcMs = 0L
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // a traced run traces its first unit, which is then comparable with
    // the first (untraced) unit of an untraced run, and runs one untraced
    // unit after it. Otherwise a unit starts only if it would end within
    // `seconds`.
    val minUnits = if (traced) 2 else 1
    while (w.hasMore && (units.size < minUnits || elapsed + units.last._2.wallS <= seconds)) {
      tr.enabled = traced && units.isEmpty
      val gc0 = Trace.gcMs
      val u = w.unit(spark, tr, ops)
      if (tr.enabled) gcMs += Trace.gcMs - gc0
      units += ((tr.enabled, u))
    }
    tr.enabled = false
    Bridge.drainListenerBus(spark)
    val extra = w.finish(work)
    val perLayer = if (traced) layerMetrics(tr, rec, units.toSeq, gcMs, jitSetupMs) ++ extra else extra
    if (traced) tr.write(Paths.get(s"$work/spans.jsonl"), workload)

    val oracleKeys = Seq("q_json_ingest", "q_validate_ingest", "q_dedup_key", "q_feature_pipeline",
      "q_range_join", "q_quality_report", "q_curate") ++ WeatherPipeline.reads.map(_._1)
    val oracles = SparkEntry.oracleSql
    Files.write(Paths.get(s"$work/oracle_sql.json"), Json.obj(oracleKeys.map(k =>
      k -> Json.str(oracles(k)))).getBytes(UTF_8))

    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> ops.attempted.toString,
      "failed" -> ops.failed.toString,
      "setup_s" -> Json.num(setupS),
      "units" -> Json.arr(units.map { case (t, u) =>
        Json.obj(Seq("traced" -> t.toString, "wall_s" -> Json.num(u.wallS), "rows" -> u.rows.toString))
      }),
      "ops" -> Json.arr(ops.samples.map(s =>
        Json.obj(Seq("kind" -> Json.str(s.kind), "name" -> Json.str(s.name), "s" -> Json.num(s.seconds))))),
      "peak_rss_mb" -> Json.num(Trace.peakRssMb),
      "per_layer" -> Json.obj(perLayer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    Files.write(Paths.get(s"$work/result.json"), result.getBytes(UTF_8))
    spark.stop()
  }

  /** Per-span and whole-run metrics over the traced unit. Span metrics
    * are means per call; `trace.top_self_s` is the top-level spans' self
    * time for comparison with `trace.wall_s`, and `trace.overhead_s` the
    * traced unit's wall minus the later untraced one's (an upper bound:
    * the later unit is also one unit warmer). */
  def layerMetrics(tr: Trace, rec: Recorder, units: Seq[(Boolean, UnitResult)],
                   gcMs: Long, jitSetupMs: Long): Map[String, Double] = {
    val tracedUnits = units.filter(_._1).map(_._2)
    val untracedUnits = units.filterNot(_._1).map(_._2)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val tracedWall = mean(tracedUnits.map(_.wallS))
    val self = tr.selfNs
    val calls = tr.spans.groupBy(_.name).map { case (n, ss) => n -> ss.size }
    val selfBy = tr.spans.indices.groupBy(i => tr.spans(i).name)
      .map { case (n, is) => n -> is.map(self(_)).sum / 1e9 }
    val spanMetrics = calls.toSeq.flatMap { case (name, n) =>
      val acc = rec.bySpan.getOrElse(name, new rec.Acc)
      Seq(s"$name.self_s" -> selfBy(name) / n,
        s"$name.jobs" -> acc.jobs.toDouble / n,
        s"$name.task_cpu_s" -> acc.cpuNs / 1e9 / n,
        s"$name.shuffle_bytes" -> acc.shuffleBytes.toDouble / n)
    }
    val topSelf = tr.spans.indices.filter(tr.spans(_).parent < 0).map(self(_)).sum / 1e9
    val t = rec.total
    val tracedTotal = tracedUnits.map(_.wallS).sum
    spanMetrics.toMap ++ Map(
      "spark.construct_s" -> tr.phaseNs("construct") / 1e9,
      "spark.plan_s" -> tr.phaseNs("plan") / 1e9,
      "spark.exec_s" -> tr.phaseNs("exec") / 1e9,
      "spark.jobs" -> t.jobs.toDouble,
      "spark.stages" -> t.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "spark.task_cpu_s" -> t.cpuNs / 1e9,
      "spark.task_gc_s" -> t.gcMs / 1e3,
      "spark.sched_wait_s" -> t.schedWaitMs / 1e3,
      "spark.shuffle_fetch_wait_s" -> t.fetchWaitMs / 1e3,
      "spark.spill_bytes" -> t.spillBytes.toDouble,
      "spark.core_util" -> (if (tracedTotal > 0) t.cpuNs / 1e9 / (tracedTotal * cores) else 0.0),
      "jvm.gc_s" -> gcMs / 1e3,
      "jvm.jit_s" -> jitSetupMs / 1e3,
      "trace.units" -> tracedUnits.size.toDouble,
      "trace.wall_s" -> tracedWall,
      "trace.top_self_s" -> (if (tracedUnits.isEmpty) 0.0 else topSelf / tracedUnits.size),
      "trace.overhead_s" -> (tracedWall - mean(untracedUnits.map(_.wallS))))
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ", ", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
