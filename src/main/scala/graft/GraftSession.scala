package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine: the one place that decides
  * how a graft session is configured. Every program builds its session
  * through [[builder]]; [[tune]] brings a session built elsewhere (the
  * driver's, the benchmark's) to the same runtime confs.
  *
  * Local testing runs `local[N]`, but every config here is chosen for
  * cluster scale: AQE (runtime re-plan, skew-join splitting, partition
  * coalescing), shuffle partitions sized to the parallelism at hand
  * rather than the 200 default, UTC session time for deterministic
  * time semantics (reference stores UTC timestamps —
  * weather_collector.py stores ISO timestamps).
  */
object GraftSession {
  /** Parallelism: SPARK_GRAFT_CPUS if set, else all cores. Shuffle
    * partitions are sized to this (not the 200 default) so local runs
    * don't fragment into hundreds of tiny tasks. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private val excludedRules = "spark.sql.optimizer.excludedRules"

  /** Runtime-settable confs, applied by [[builder]] at build time and
    * by [[tune]] on an existing session. The nanos flag must be set
    * BEFORE any events.parquet read: testdata events.ts may be parquet
    * TIMESTAMP(NANOS), which Spark reads as LongType (nanos) with the
    * flag (Tables.events converts) and otherwise fails the scan outright
    * ("Illegal Parquet type") — the driver-re-encode drift
    * TsEncodingSpec locks against. */
  private[graft] val runtimeConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // InferFiltersFromGenerate re-evaluates the generator child as a
    // `size(e) > 0 AND isnotnull(e)` pre-filter — for this engine's
    // explode(<kernel>(text)) scan shape that is one to two EXTRA
    // tokenize/hash passes per row at the scan (17 bench queries
    // carried it; q_dedup_spans paid shinglehashpos(wstokens(text))
    // three times per row). An inner Generate already emits nothing
    // for null/empty arrays, so at every scale the inferred filter
    // only duplicates work; scale-independent, not a local tune.
    excludedRules ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")

  def builder(master: String = s"local[${GraftSession.cpus}]",
              shufflePartitions: Int = GraftSession.cpus)
      : SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft-warehouse"))
      // plans operators.fence (a no-op node the optimizer cannot push
      // filters through) as its child
      .withExtensions(_.injectPlannerStrategy(_ =>
        org.apache.spark.sql.graftbridge.FenceStrategy))
    runtimeConfs.foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** A session from [[builder]] with its defaults, logging at WARN. */
  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Apply [[runtimeConfs]] to an externally-built session (the
    * driver passes in its own). The excluded-rule list is APPENDED to
    * rather than clobbered (r20 ADVICE) — the exclusion is
    * session-global, so an external session's own exclusions must
    * survive the tune. */
  def tune(spark: SparkSession): SparkSession = {
    runtimeConfs.foreach {
      case (k, rule) if k == excludedRules =>
        val existing = spark.conf.get(k, "")
        spark.conf.set(k, (existing.split(",").map(_.trim).filter(_.nonEmpty)
          :+ rule).distinct.mkString(","))
      case (k, v) => spark.conf.set(k, v)
    }
    spark
  }
}
