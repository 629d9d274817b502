package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Regression locks on the physical-plan properties the 100 TB design
  * depends on. If a refactor silently reintroduces a shuffle, drops a
  * pushed filter, or un-broadcasts a dim join, these fail. */
class PlanSpec extends AnyFunSuite {
  import TestSession._

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("no declared query plans a Generate above a Join (excluded-rule safety)") {
    // GraftSession excludes InferFiltersFromGenerate session-wide: that
    // is safe exactly while every generator sits on a scan-side subtree,
    // where the inferred `size(kernel(..)) > 0` pre-filter can only
    // re-evaluate the generator's kernel child per row (an inner
    // Generate already emits nothing for null/empty arrays) and can
    // never push through a join to prune the OTHER side. This pins the
    // invariant (r20 verdict item 3): a future operator that explodes
    // the OUTPUT of a join would silently lose real pruning under the
    // exclusion — move its generate below the join, or scope the
    // exclusion, before shipping it as a declared query.
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
    try {
      val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
        val plan =
          SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan
        plan.collect {
          case g: Generate if g.child.collectFirst { case j: Join => j }.isDefined => g
        }.nonEmpty
      }
      assert(offenders.isEmpty,
        s"queries planning a Generate above a Join: $offenders")
    } finally graft.operators.Caches.releaseAll() // eager queries cache
  }

  test("dim joins broadcast (no sort-merge join in q_join_enrich)") {
    val p = planOf("q_join_enrich")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("time-range predicate pushes to the parquet scan") {
    val p = planOf("q_load_timerange")
    assert(p.contains("GreaterThanOrEqual(ts,"), s"range lower bound not pushed:\n$p")
    assert(p.contains("LessThan(ts,"), s"range upper bound not pushed:\n$p")
  }

  test("feature pipeline computes all windowed features in ONE Window operator") {
    val df = SparkEntry.queries("q_feature_pipeline")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.split("Window \\[").length - 1 == 1, s"expected 1 Window operator:\n$p")
  }

  test("pricing aggregate is partial (two HashAggregate phases, one Exchange)") {
    val p = planOf("q1_pricing")
    assert(p.split("HashAggregate").length - 1 >= 2, p)
  }

  test("sketch check is ONE aggregation pass: no join, one hash exchange family") {
    // the r13 review fix: sketch + exact distinct + count in one
    // groupBy — a daily-frame-to-exact-frame join dropped null-key
    // groups and paid a second corpus aggregation + join shuffle. The
    // distinct rewrite may add an Expand/partial layer, but there
    // must be NO join and no second corpus-sized aggregation DAG.
    val p = planOf("q_distinct_sketch_check")
    assert(!p.contains("Join"), s"sketch check must not plan a join:\n$p")
    assert(p.split("Scan parquet").length - 1 == 1,
      s"sketch check must scan events exactly once:\n$p")
  }

  test("events scans prune columns (no props column where unused)") {
    val df = SparkEntry.queries("q_lag_features")(spark, sfDir)
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!scan.contains("props"), s"lag features must not read props: $scan")
    assert(!scan.contains("event_type"), s"lag features must not read event_type: $scan")
  }

  test("asof join is one hash shuffle and one Window (union-merge, no range join)") {
    val p = planOf("q_asof_join")
    assert(p.split("Exchange hashpartitioning").length - 1 == 1,
      s"expected exactly one hash Exchange:\n$p")
    assert(p.split("Window \\[").length - 1 == 1, s"expected 1 Window operator:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("sourceOverlap: no STRING column crosses a hash exchange") {
    // the round-9 rewrite dictionary-encodes `source` to a small int
    // before the shingle explode, so the ONE corpus-sized exchange
    // (per-shingle collect_set) moves (int64, int) rows; the label
    // strings reappear only in the final ≤nSources²/2-row projection.
    // This locks the encoding: a refactor that puts the STRING back on
    // the shingle exchange fails here, not in a bench diff. (The
    // label-cardinality dictionary/totals collects at construction are
    // separate bounded jobs, not part of this plan.)
    //
    // r21: the corpus-sized shingle exchange now lives INSIDE the
    // cached masks plan — the single-partition masks cache satisfies
    // the final pair-agg's clustered distribution trivially, so the
    // OUTER plan has zero hash exchanges (the point of the change) —
    // descend into InMemoryRelation children to keep the lock on the
    // exchange that actually moves corpus-sized rows.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.types.StringType
    def hashExchanges(p: SparkPlan): Seq[ShuffleExchangeExec] =
      p.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => Seq(e)
        case im: InMemoryTableScanExec =>
          hashExchanges(im.relation.cachedPlan)
      }.flatten
    // AQE off for plan inspection: exchanges are inserted by the
    // EnsureRequirements preparation (absent from sparkPlan) and the
    // adaptive wrapper hides them from executedPlan until execution
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // driverFoldMaxK = -1: inspect the DISTRIBUTED arm (the 100 TB
      // path) — the default k≤20 driver fold returns a LocalRelation
      // with no exchanges at all
      val out = graft.operators.Dedup.sourceOverlap(
        Tables.documents(spark, sfDir), driverFoldMaxK = -1)
      val hashEx = hashExchanges(out.queryExecution.executedPlan)
      assert(hashEx.nonEmpty, "expected hash exchanges in sourceOverlap")
      hashEx.foreach { e =>
        val strs = e.output.filter(_.dataType == StringType).map(_.name)
        assert(strs.isEmpty,
          s"string column(s) on a hash exchange: ${strs.mkString(", ")}")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      graft.operators.Caches.releaseAll()
    }
  }

  test("decontaminateSpans: no text or token array crosses a hash exchange") {
    // the operator's scale claim (contaminationIntervals scaladoc):
    // corpus-sized shuffles move only (hash, doc_id, pos) rows — the
    // token arrays reach the broadcast interval join-back and the
    // presentation RANGE sort, never a hash exchange. A refactor that
    // shuffles text with the window hashes fails here.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val docs = Tables.documents(spark, sfDir)
      val out = graft.operators.TextAnalysis.decontaminateSpans(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), k = 13)
      val hashEx = out.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      assert(hashEx.nonEmpty, "expected hash exchanges in decontaminateSpans")
      hashEx.foreach { e =>
        val bad = e.output.filter(a => a.dataType == StringType ||
          a.dataType == ArrayType(StringType, containsNull = false) ||
          a.dataType == ArrayType(StringType, containsNull = true)).map(_.name)
        assert(bad.isEmpty,
          s"text/token column(s) on a hash exchange: ${bad.mkString(", ")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("dedup pipelines plan no RDD deserialization boundary") {
    // spreadToCores must stay plan-side: a df.rdd probe (or any
    // Dataset->RDD hop) would show as DeserializeToObject / Scan
    // ExistingRDD in the physical plan of every dedup query
    Seq("q_dedup_minhash", "q_dedup_simhash", "q_ngram_jaccard",
        "q_dedup_exact").foreach { name =>
      val p = planOf(name)
      assert(!p.contains("DeserializeToObject"), s"$name deserializes:\n$p")
      assert(!p.contains("Scan ExistingRDD"), s"$name scans an RDD:\n$p")
    }
  }

  test("spreadToCores raises small inputs and passes large-stats frames through") {
    val par = spark.sparkContext.defaultParallelism
    val small = Tables.documents(spark, sfDir)
    val spreadPlan = graft.operators.spreadToCores(small)
      .queryExecution.executedPlan.toString
    assert(spreadPlan.contains(s"RoundRobinPartitioning($par)"),
      s"small table not spread to $par partitions:\n$spreadPlan")
    // a frame whose optimizer stats exceed par x maxPartitionBytes is
    // untouched (the 100 TB pass-through path)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
      val bigStats = graft.operators.spreadToCores(small)
      assert(!bigStats.queryExecution.executedPlan.toString
        .contains("RoundRobinPartitioning"),
        "large-stats input must pass through without a repartition")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("quality report costs one scan per derived view (4 total)") {
    // the fused report melts every global section out of a single
    // aggregate per input; a refactor back to per-check unions would
    // reintroduce a 5th (or more) lake scan
    val p = planOf("q_quality_report")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans <= 4, s"expected <= 4 parquet scans, found $scans:\n$p")
  }

  test("curation projections plan no Exchange (redact/filter are scan-local)") {
    // PII redaction and quality filtering are pure per-row projections:
    // any Exchange here means a refactor added a shuffle to operators
    // that must stream through the corpus scan untouched
    Seq("q_redact_pii", "q_quality_filter", "q_strip_markup",
        "q_blocklist_filter").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // the only allowed Exchange is the output orderBy's range
      // partitioning (driver-contract presentation); the operator body
      // below it must be a shuffle-free codegen projection
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"), s"$name body shuffles:\n$p")
      // the body is a Project directly over the parquet scan — no
      // aggregate, no window, no join interposed (AQE's pre-execution
      // string omits codegen markers, so lock the operator shape)
      val body = p.split("Exchange rangepartitioning").last
      assert(body.contains("Project") && body.contains("FileScan parquet"),
        s"$name body is not a scan-local projection:\n$body")
      assert(!body.contains("HashAggregate") && !body.contains("Window"),
        s"$name body grew non-projection operators:\n$body")
    }
  }

  test("tokenizeBpe plans as scan-local Generate: no hash exchange, no join") {
    // the merge loop runs inside the scan projection and the
    // posexplode is a Generate over its array — a refactor that makes
    // tokenization shuffle (e.g. a merge-table join) breaks the 100 TB
    // shape
    val df = SparkEntry.queries("q_tokenize_bpe")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), s"tokenize body shuffles:\n$p")
    val body = p.split("Exchange rangepartitioning").last
    assert(body.contains("Generate") && body.contains("FileScan parquet"),
      s"body is not a scan-local Generate:\n$body")
    assert(!body.contains("HashAggregate") && !body.contains("Join"),
      s"body grew non-projection operators:\n$body")
  }

  test("clusterEmbed: corpus side is a map + broadcast join, never hash-shuffled") {
    // training state is a bounded driver sample; the corpus-sized
    // stages must stay a codegen'd assignment map plus a broadcast
    // centroid join — any hash exchange means vectors started riding
    // a shuffle
    val df = SparkEntry.queries("q_cluster_embed")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"cluster assignment shuffles the corpus:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"centroid join must broadcast:\n$p")
  }

  test("mixByCluster: no embedding array crosses a hash exchange") {
    // assignment is the scan-local ivfAssign map — the embedding
    // arrays must be PROJECTED AWAY before any exchange (the bounds
    // aggregate and the rank window move (cid, id, salt) rows only);
    // an ArrayType column on a hash exchange means a refactor put
    // vectors back on a shuffle
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.types.ArrayType
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val out = SparkEntry.queries("q_mix_cluster")(spark, sfDir)
      val hashEx = out.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      assert(hashEx.nonEmpty, "expected hash exchanges in mixByCluster")
      hashEx.foreach { e =>
        val arrs = e.output.filter(_.dataType.isInstanceOf[ArrayType]).map(_.name)
        assert(arrs.isEmpty,
          s"array column(s) on a hash exchange: ${arrs.mkString(", ")}")
      }
      // the per-cluster bounds come back as a broadcast
      val p = out.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
        s"salt bounds must broadcast back:\n$p")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      graft.operators.Caches.releaseAll()
    }
  }

  test("stratified sample: literal-folded prefilter, rank window on survivors only") {
    // r21 shape: the per-source salt bounds are collected at build and
    // folded into the prefilter as a LITERAL map (saltBoundFilter) —
    // the rank-window plan is now scan → filter → ONE hash exchange →
    // window, with no join and no broadcast at all (the bounds
    // aggregate runs as its own bounded construction job). The former
    // lock expected three hash exchanges + a broadcast join-back.
    val df = SparkEntry.queries("q_stratified_sample")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.split("Exchange hashpartitioning").length - 1 == 1,
      s"expected exactly one hash Exchange (the rank window's):\n$p")
    assert(p.split("Window \\[").length - 1 == 1, s"expected 1 Window operator:\n$p")
    assert(!p.contains("Join"), s"no join in the folded rank plan:\n$p")
    // the literal fold shows up as a map lookup on the key
    assert(p.contains("try_element_at") || p.contains("TryElementAt") ||
      p.contains("map_contains") || p.contains("keys:"),
      s"expected the literal salt-bound map in the filter:\n$p")
  }

  test("mix_temperature: quota/bound joins broadcast, rank window per key, no sort-merge") {
    val p = planOf("q_mix_temperature")
    // the rank window must partition by the mix key (a global window
    // here would be the single-task sort the refinement exists to avoid)
    assert("row_number\\(\\) windowspecdefinition\\(lang#\\d+".r.findFirstIn(p).isDefined,
      s"rank window is not partitioned by lang:\n$p")
    // both small sides — the count-derived quota table and the salt
    // bounds — come back as broadcasts, never a shuffle of the corpus
    assert(p.split("BroadcastHashJoin").length - 1 >= 2,
      s"quota and salt-bound joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus side must never sort-merge:\n$p")
  }

  test("bigram LM: the fused model broadcasts; the token stream never shuffles") {
    // the score join keys on the Zipf-skewed token — the scale posture
    // is "model table broadcast, token stream never shuffles", so skew
    // never materializes. The model is ONE fused vocab-sized table
    // (c1 + per-token prev→p2 map), so the corpus stream crosses ONE
    // broadcast join, not two. AQE makes the final call from runtime
    // sizes, so assert on the POST-EXECUTION adaptive plan.
    val df = SparkEntry.queries("q_bigram_logprob")(spark, sfDir)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    assert(p.split("BroadcastHashJoin").length - 1 >= 1,
      s"fused model score join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the token stream must never sort-merge against the model:\n$p")
    graft.operators.Caches.releaseAll()
  }

  test("tfidf: df join-back broadcasts and the rank window re-uses the tf distribution") {
    // the exchange-free-window property is BROADCAST-DEPENDENT (r17
    // verdict): AQE must broadcast the vocab-sized df rollup so the
    // persisted doc_id-distributed tf table feeds the rank window
    // without re-exchanging. A silent flip to a shuffled token join
    // must fail here — the beyond-broadcast regime has its own
    // documented form (tfidfTopKSalted), chosen explicitly, never by
    // an AQE surprise. Post-execution adaptive plan, the bigram lock's
    // discipline.
    val df = SparkEntry.queries("q_tfidf_topk")(spark, sfDir)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    assert(p.split("BroadcastHashJoin").length - 1 >= 1,
      s"df join-back must broadcast at bench scale:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the tf table must never sort-merge on the Zipf-skewed token:\n$p")
    graft.operators.Caches.releaseAll()
  }

  test("weighted sample plans per-partition top-k (TakeOrdered), not a global sort") {
    val p = planOf("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit must plan TakeOrderedAndProject:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"a range-partitioned global sort defeats the top-k shape:\n$p")
  }

  test("mix_quality: ONE LM scoring pass feeds both branches via the cached scored frame") {
    val p = planOf("q_mix_quality")
    // bucketsByQuality is persistTracked: the salt-bounds branch and
    // the rank branch must BOTH read the cache, not re-run the token
    // shuffle (bench showed 2x the unigram cost before the persist)
    assert(p.split("InMemoryTableScan").length - 1 >= 2,
      s"scored frame must be read from cache by both branches:\n$p")
    assert("row_number\\(\\) windowspecdefinition\\(bucket#\\d+L".r.findFirstIn(p).isDefined,
      s"rank window is not partitioned by bucket:\n$p")
    graft.operators.Caches.releaseAll()
  }

  test("assign_ids: rank window partitions by bucket, offsets broadcast back") {
    val df = SparkEntry.queries("q_assign_ids")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the data-path rank window MUST be bucket-partitioned — an empty
    // partition spec here is the single-task global sort this operator
    // exists to avoid
    assert("row_number\\(\\) windowspecdefinition\\(_bucket#\\d+L, ".r
      .findFirstIn(p).isDefined,
      s"rank window is not partitioned by _bucket:\n$p")
    // exactly one SinglePartition exchange, and it belongs to the
    // offset cumulation (over <= nBuckets aggregated rows, not data)
    assert(p.split("Exchange SinglePartition").length - 1 == 1,
      s"expected exactly one single-partition exchange (the offset table):\n$p")
    // offsets come back as a broadcast, never a shuffle of the data side
    assert(p.contains("BroadcastHashJoin"), s"offset join must broadcast:\n$p")
    // two hash exchanges: the count aggregate and the rank window
    assert(p.split("Exchange hashpartitioning").length - 1 == 2,
      s"expected exactly two hash exchanges:\n$p")
  }

  test("chunk expansion stays scan-local (no hash exchange)") {
    // chunkDocs expands in-row (sequence+posexplode+slice) — any hash
    // exchange means a refactor moved the expansion off the scan
    // (markup's scan-local shape is locked by the stricter projection
    // test above)
    val p = planOf("q_chunk_docs")
    assert(!p.contains("Exchange hashpartitioning"), s"chunk body shuffles:\n$p")
  }

  test("keep-best dedups aggregate with map-side combine, no window") {
    // the r15 plan change (extends r14's dedupByKey result): keep-one-
    // per-key via max(struct(...)) — partial aggregation reduces each
    // task to one candidate per local key BEFORE the exchange, so the
    // shuffle carries the deduped set, not the corpus. A row_number
    // window here means the rewrite regressed to full-corpus exchange.
    for (q <- Seq("q_dedup_keepbest", "q_url_dedup")) {
      val p = planOf(q)
      assert(!p.contains("Window ["), s"$q must not plan a window:\n$p")
      assert(p.split("Exchange hashpartitioning").length - 1 == 1,
        s"$q must shuffle exactly once (on the dedup key):\n$p")
      // partial + final phases of the struct-extremum aggregate
      // (struct buffers plan SortAggregate on 4.1.2)
      assert(p.split("Aggregate").length - 1 >= 2,
        s"$q expected two-phase (partial-combined) aggregation:\n$p")
      assert(p.contains("partial"), s"$q expected a partial phase:\n$p")
    }
  }

  test("corpus stats is one partial-combined countDistinct aggregate") {
    val p = planOf("q_corpus_stats")
    // EXACTLY the two hash exchanges of Spark's two-phase countDistinct
    // rewrite (partial on (source, hash) → merge on source); a third
    // means a refactor split the rollup into separate aggregations
    assert(p.split("Exchange hashpartitioning").length - 1 == 2,
      s"corpus stats changed its exchange count:\n$p")
    assert(p.split("HashAggregate").length - 1 >= 2,
      s"expected partial aggregation:\n$p")
  }

  test("whole-surface audit: no query plans a cartesian product or stray RDD boundary") {
    // documented exceptions:
    // - broadcast NLJ is the INTENTIONAL exact-semantics form for the
    //   all-pairs cosine operators (scale path exists alongside)
    // - typed mapPartitions stages (multimodal codecs, ML vector
    //   assembly, the Misra-Gries k-counter loop) necessarily cross
    //   the Dataset<->object boundary
    // - eagerly-executing queries (IVF trains its quantizer, clusters
    //   resolves components) are excluded from blind plan-building
    //   here; their plan shapes are pinned by their own specs
    val eager = Set("q_ann_ivf", "q_dedup_clusters")
    val objectBoundaryOk =
      Set("q_media_features", "q_media_features_check", "q_ml_feature_prep",
        "q_heavy_hitters_check")
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(eager).foreach { name =>
        val p = planOf(name)
        assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
        if (!objectBoundaryOk(name)) {
          assert(!p.contains("DeserializeToObject") && !p.contains("Scan ExistingRDD"),
            s"$name crosses an object/RDD boundary:\n$p")
        }
      }
    graft.operators.Caches.releaseAll()
  }

  test("contamination report: no text crosses a hash exchange") {
    // both sides reduce to distinct (id, hash64) pairs BEFORE the
    // equi-join; the text strings must die inside their scan stages
    // (token strings never exist as columns at all — the kernel
    // hashes windows in-scan)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.types.StringType
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val d = Tables.documents(spark, sfDir)
      val out = graft.operators.TextAnalysis.contaminationReport(
        d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"))
      val hashEx = out.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      assert(hashEx.nonEmpty, "expected hash exchanges in contaminationReport")
      hashEx.foreach { e =>
        val strs = e.output.filter(_.dataType == StringType).map(_.name)
        assert(strs.isEmpty,
          s"string column(s) on a hash exchange: ${strs.mkString(", ")}")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("vocab drift plans two partial-combined wordcounts and a top-k, no window") {
    val p = planOf("q_vocab_drift")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 must be per-partition top-k + merge, not a global sort:\n$p")
    assert(!p.contains("Window"), s"no window expected:\n$p")
    assert(p.split("partial_count").length - 1 >= 2,
      s"expected both snapshots' wordcounts map-side combined:\n$p")
  }

  test("tfidf rank window gets the partial group-limit pushdown") {
    // WindowGroupLimit(Partial) BEFORE the doc_id exchange trims each
    // map partition to its own top-5 per doc — the difference between
    // shuffling (doc, token) rows for every distinct token and
    // shuffling at most 5 per (partition, doc) at 100 TB
    val p = planOf("q_tfidf_topk")
    assert(p.contains("WindowGroupLimit") && p.contains(", Partial"),
      s"expected partial window group limit:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("heavy hitters shuffles summaries, not the token stream") {
    // the ONLY hash exchange in the raw MG pipeline is the merge of
    // per-partition summaries (<= k rows each) — the token stream
    // itself must die inside its scan stage
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val p = graft.operators.TextAnalysis.heavyHitters(docs)
      .queryExecution.executedPlan.toString
    assert(p.split("Exchange hashpartitioning").length - 1 == 1,
      s"expected exactly the summary-merge exchange:\n$p")
    assert(p.indexOf("MapPartitions") > p.indexOf("Exchange hashpartitioning"),
      s"MG summarization must run BEFORE the exchange (plan prints top-down):\n$p")
  }

  test("decontamination broadcasts the benchmark shingle set") {
    val p = planOf("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark side must broadcast (corpus side must never shuffle for the match):\n$p")
  }

  test("composition eliminates interior presentation sorts") {
    // operators end with an orderBy for driver-contract presentation;
    // when operators COMPOSE (joins/aggregates between them), Catalyst's
    // EliminateSorts must strip the interior sorts so a 100 TB pipeline
    // pays at most the one terminal sort its consumer asked for
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val p = GraftApi.curateCorpus(docs).queryExecution.executedPlan.toString
    val rangeExchanges = p.split("Exchange rangepartitioning").length - 1
    assert(rangeExchanges <= 1,
      s"expected at most the terminal sort, found $rangeExchanges range exchanges:\n$p")
    graft.operators.Caches.releaseAll()
  }

  test("partitioned lake writes create prunable directories") {
    val out = tempDir("graft-lake").toString
    val ev = Tables.events(spark, sfDir)
      .withColumn("day", to_date(col("ts")).cast("string"))
    Tables.writePartitioned(ev, out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("day=")) > 5, dirs.mkString(","))
    // partition-pruned read touches one directory
    val one = spark.read.parquet(out).filter(col("day") === dirs.head.stripPrefix("day="))
    assert(one.count() > 0)
    val scanned = one.queryExecution.executedPlan.toString
    assert(scanned.contains("PartitionFilters"), scanned)
  }
}
