package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
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
  def builder(master: String = s"local[${GraftSession.cpus}]",
              shufflePartitions: Int = GraftSession.cpus)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft-warehouse"))
      // testdata events.ts is parquet TIMESTAMP(NANOS); Spark reads it
      // as LongType (nanos) with this flag — Tables.events converts.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // InferFiltersFromGenerate re-evaluates the generator child as a
      // `size(e) > 0 AND isnotnull(e)` pre-filter — for this engine's
      // explode(<kernel>(text)) scan shape that is one to two EXTRA
      // tokenize/hash passes per row at the scan (17 bench queries
      // carried it; q_dedup_spans paid shinglehashpos(wstokens(text))
      // three times per row). An inner Generate already emits nothing
      // for null/empty arrays, so at every scale the inferred filter
      // only duplicates work; scale-independent, not a local tune.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // plans operators.fence (a no-op node the optimizer cannot push
      // filters through) as its child
      .withExtensions(_.injectPlannerStrategy(_ =>
        org.apache.spark.sql.graftbridge.FenceStrategy))

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Apply graft configs to an externally-built session (Verify/Bench
    * create their own). Runtime-settable configs only. The nanos flag
    * must be set BEFORE any events.parquet read: without it a
    * TIMESTAMP(NANOS)-encoded file fails the scan outright ("Illegal
    * Parquet type"), the exact driver-re-encode drift TsEncodingSpec
    * locks against. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // see builder: the inferred generate-filter re-runs expensive
    // kernel children per row for zero pruning benefit here. APPEND to
    // any externally configured excluded-rule list rather than
    // clobbering it (r20 ADVICE) — the exclusion is session-global, so
    // an external session's own exclusions must survive the tune.
    val inferRule =
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    val existing = spark.conf.get("spark.sql.optimizer.excludedRules", "")
    val merged = (existing.split(",").map(_.trim).filter(_.nonEmpty)
      :+ inferRule).distinct.mkString(",")
    spark.conf.set("spark.sql.optimizer.excludedRules", merged)
    spark
  }
}
