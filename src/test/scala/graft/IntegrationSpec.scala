package graft

import org.apache.spark.ml.regression.LinearRegressionModel
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{FeaturePrep, ModelRegistry, Models, TemporalSplit}
import graft.monitoring.PerformanceTracker
import graft.operators.TimeSeries
import graft.sources.Tables

/** End-to-end chain — the Spark mirror of the reference's integration
  * suite (tests/test_integration.py: collect → process → train →
  * predict, and the save/load/predict cycle): the raw events table
  * flows through the feature pipeline, feature prep, a temporal split,
  * model training, full-frame prediction, and a registry round-trip.
  */
class IntegrationSpec extends AnyFunSuite {
  import TestSession._

  test("migration facade mirrors the reference API end-to-end") {
    val ev = Tables.events(spark, sfDir)
    val weather = TimeSeries.weatherView(ev)
    val masked = graft.operators.MissingValues.maskedView(ev)
    assert(GraftApi.processPipeline(ev).count() == ev.count())
    assert(GraftApi.createTimeFeatures(ev).columns.contains("hour_sin"))
    assert(GraftApi.encodeCategorical(ev).columns.contains("type_code"))
    val checks = GraftApi.runQualityChecks(ev, weather, masked)
    assert(checks.keySet == Set("duplicates", "missing_data", "range_check", "high_null"))
    checks.values.foreach(df => assert(df.count() > 0))
    assert(GraftApi.keyMetrics(ev).count() == 1)
  }

  test("ingest -> features -> train -> predict -> registry round-trip") {
    // process: engineered features off the raw table (one Window op)
    val feats = TimeSeries.featurePipeline(Tables.events(spark, sfDir))
      .join(Tables.events(spark, sfDir).select("event_id", "ts"), "event_id")
    // train on rows with a defined target (the last horizon rows of
    // each entity have none — same as the reference's dropna)
    val labeled = feats
      .filter(col("value_future").isNotNull && col("value_lag_1").isNotNull &&
        col("rolling_std_24").isNotNull)
      .withColumn("label", col("value_future"))
    val assembled = FeaturePrep.assemble(labeled,
      Seq("value", "value_lag_1", "rolling_mean_24", "rolling_std_24", "hour_sin", "hour_cos"))
      .cache()

    val (train, test) = TemporalSplit.split(assembled)
    assert(train.count() > 0 && test.count() > 0)

    val lr = new org.apache.spark.ml.regression.LinearRegression().setMaxIter(50)
    val model = lr.fit(train)
    // the synthetic value series has no 24-step-ahead signal, so (like
    // the reference's test_finite_metrics) assert well-formedness of
    // the metrics, not forecasting skill on noise
    val metrics = Models.regressionMetrics(model.transform(test))
    assert(metrics("mse") >= 0 && !metrics("mse").isNaN)
    assert(!metrics("r2").isNaN && !metrics("mae").isNaN)

    // predict over the FULL frame: one prediction per input row
    val preds = model.transform(assembled)
    assert(preds.count() == assembled.count())

    // save/load/predict cycle through the registry
    val dir = tempDir("graft-e2e").toString
    val reg = new ModelRegistry(dir)
    reg.register("temperature", model, metrics)
    val loaded = reg.load("temperature", LinearRegressionModel)
    val a = preds.agg(sum("prediction")).collect()(0).getDouble(0)
    val b = loaded.transform(assembled).agg(sum("prediction")).collect()(0).getDouble(0)
    assert(math.abs(a - b) < 1e-6)
  }

  test("quality report rolls all checks into one partitioned artifact") {
    val ev = Tables.events(spark, sfDir)
    val report = GraftApi.qualityReport(ev,
      TimeSeries.weatherView(ev), graft.operators.MissingValues.maskedView(ev))
    assert(report.columns.toSeq == Seq("check_name", "item", "metric", "value"))
    val sections = report.select("check_name").distinct()
      .collect().map(_.getString(0)).toSet
    assert(sections == Set("overview", "duplicates", "missing", "range", "high_null"))
    // overview agrees with the raw table
    val n = report.filter(col("check_name") === "overview" && col("metric") === "n_records")
      .collect()(0).getAs[Double]("value")
    assert(n == ev.count().toDouble)

    val dir = tempDir("graft-report").toString
    graft.operators.Quality.writeReport(report, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == report.count())
    // partition pruning: reading one section touches one partition dir
    assert(back.filter(col("check_name") === "range").count() == 6)
  }

  test("batch-inference facade: train, register, reload, score latest per entity") {
    val ev = Tables.events(spark, sfDir)
    val dir = tempDir("graft-predict").toString
    val reg = new graft.ml.ModelRegistry(dir)

    // train + register (the reference's train_temperature_models +
    // save_models chain); scaler lives inside the pipeline artifact
    val (version, metrics) = GraftApi.trainAndRegister(ev, reg)
    assert(version == 1)
    // holdout metrics plus the walk-forward CV pair per metric
    assert(Set("mse", "rmse", "mae", "r2").subsetOf(metrics.keySet))
    assert(Set("cv_rmse", "cv_rmse_std").subsetOf(metrics.keySet),
      s"registry entry must carry CV metrics beside holdout: ${metrics.keySet}")
    assert(metrics("mse") >= 0 && !metrics("mse").isNaN)
    assert(metrics("cv_rmse") >= 0 && !metrics("cv_rmse").isNaN)
    // the registry round-trips both metric sets
    val recorded = reg.metricsOf("temperature", 1)
    assert(Set("rmse", "cv_rmse", "cv_rmse_std").subsetOf(recorded.keySet))
    assert(math.abs(recorded("cv_rmse") - metrics("cv_rmse")) < 1e-12)

    // predict loads the LATEST registered version and scores the
    // newest engineered row of every entity
    val preds = GraftApi.predict(ev, reg)
    val nEntities = ev.select("user_id").distinct().count()
    assert(preds.count() == nEntities)
    assert(preds.columns.toSeq == Seq("user_id", "event_id",
      "current_value", "predicted_value", "predicted_change"))
    preds.collect().foreach { r =>
      val cur = r.getAs[Double]("current_value")
      val pred = r.getAs[Double]("predicted_value")
      assert(!pred.isNaN)
      assert(math.abs(r.getAs[Double]("predicted_change") - (pred - cur)) < 1e-12)
    }

    // registering again bumps the version and predict picks it up
    // (cvFolds=0: the version-bump path doesn't need 3 more fits)
    val (v2, m2) = GraftApi.trainAndRegister(ev, reg, cvFolds = 0)
    assert(v2 == 2)
    assert(!m2.keySet.exists(_.startsWith("cv_")), "cvFolds=0 must skip CV")
    assert(GraftApi.predict(ev, reg).count() == nEntities)
  }

  test("corpus curation facade: filter -> dedup -> near-dup -> redact end-to-end") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text")
    val maxId = base.agg(org.apache.spark.sql.functions.max("doc_id"))
      .collect()(0).getLong(0)
    // inject rows exercising every stage: an exact duplicate of doc 0,
    // a PII-bearing doc, and a degenerate short doc
    val doc0 = base.filter(col("doc_id") === 0).collect()(0).getString(2)
    val crafted = Seq(
      (maxId + 1, "srcX", doc0),                                  // exact dup of doc 0
      (maxId + 2, "srcX", (1 to 30).map(i => s"the word$i").mkString(" ")
        + " mail me at bob@example.com"),                          // PII survivor
      (maxId + 3, "srcX", "too short"),                            // quality drop
      (maxId + 4, "srcX", "<p>" + (1 to 30).map(i => s"the tagged$i").mkString(" ")
        + "</p> &amp; done"))                                      // markup survivor
      .toDF("doc_id", "source", "text")
    val corpus = base.union(crafted)
    val curated = GraftApi.curateCorpus(corpus)
    val out = curated.collect()
    val ids = out.map(_.getAs[Long]("doc_id")).toSet

    assert(!ids.contains(maxId + 3), "degenerate doc must be quality-filtered")
    // exact-dup group {0, maxId+1}: exactly one survivor
    assert(Seq(0L, maxId + 1).count(ids.contains) == 1, "one copy per content")
    assert(ids.contains(maxId + 2), "clean long doc survives")
    val pii = out.find(_.getAs[Long]("doc_id") == maxId + 2).get.getAs[String]("text")
    assert(pii.contains("<EMAIL>") && !pii.contains("bob@example.com"))
    // markup strip runs first: tags gone, entities decoded, text kept
    val tagged = out.find(_.getAs[Long]("doc_id") == maxId + 4).get.getAs[String]("text")
    assert(!tagged.contains("<p>") && !tagged.contains("&amp;"),
      s"markup must be stripped before curation: $tagged")
    assert(tagged.contains("the tagged1") && tagged.endsWith("& done"))
    // no near-dup pair survives among the output
    val survivors = corpus.join(curated.select("doc_id"), "doc_id")
    assert(graft.operators.Dedup.minhashPairs(survivors).count() == 0,
      "curated corpus must contain no near-dup pair")
    // quota sampling composes
    val sampled = GraftApi.curateCorpus(corpus, mix = Some(MixStage.PerSource(3)))
    val bySource = sampled.collect().groupBy(_.getAs[String]("source"))
    assert(bySource.values.forall(_.length <= 3))
    GraftApi.releaseCaches()
  }

  test("curation manifest reconciles with the stage outputs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text")
    val nIn = base.count()
    val curation = GraftApi.curatePlan(base, mix = Some(MixStage.PerSource(3)), spanDedupK = Some(20))
    try {
      val nOut = curation.frame.count()
      val m = curation.manifest.collect()
        .map(r => (r.getAs[Int]("stage_idx"), r.getAs[String]("stage"),
          r.getAs[Long]("docs_in"), r.getAs[Long]("docs_out"),
          r.getAs[Long]("docs_dropped")))
      // every configured stage present, in pipeline order
      assert(m.map(_._2).toSeq == Seq("input", "strip_markup", "quality_filter",
        "exact_dedup", "near_dup", "span_dedup", "redact_pii", "stratified_sample"))
      // reconciliation: the chain is gapless and bounds the run
      assert(m.head._3 == nIn && m.head._4 == nIn)
      assert(m.last._4 == nOut, "manifest tail must equal the output count")
      m.sliding(2).foreach { case Array(a, b) =>
        assert(b._3 == a._4, s"docs_in of ${b._2} != docs_out of ${a._2}")
      }
      m.foreach { case (_, stage, in, out, dropped) =>
        assert(dropped == in - out && dropped >= 0, s"$stage attrition inconsistent")
      }
      // text-rewriting stages drop nothing; filters are the only drops
      Seq("strip_markup", "span_dedup", "redact_pii").foreach { s =>
        assert(m.find(_._2 == s).get._5 == 0L, s"$s must not drop documents")
      }
      assert(m.find(_._2 == "stratified_sample").get._5 > 0,
        "perSource=3 must actually sample at this corpus size")
    } finally curation.release()
  }

  test("curation decontamination stage drops a planted benchmark leak") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text")
    val maxId = base.agg(org.apache.spark.sql.functions.max("doc_id"))
      .collect()(0).getLong(0)
    // the benchmark: an eval question, verbatim; the leak: a long
    // otherwise-clean doc embedding that question (shares every
    // benchmark shingle); the control: same shape, no overlap
    val evalQ = "what is the boiling point of water at sea level pressure"
    val filler = (s: String) => (1 to 30).map(i => s"the $s$i").mkString(" ")
    val crafted = Seq(
      (maxId + 1, "srcL", filler("leak") + " " + evalQ),
      (maxId + 2, "srcC", filler("ctrl")))
      .toDF("doc_id", "source", "text")
    val corpus = base.union(crafted)
    val bench = Seq((1L, evalQ)).toDF("q_id", "text")

    val curation = GraftApi.curatePlan(corpus, benchmark = Some(bench))
    try {
      val ids = curation.frame.collect().map(_.getAs[Long]("doc_id")).toSet
      assert(!ids.contains(maxId + 1), "benchmark leak must be decontaminated")
      assert(ids.contains(maxId + 2), "non-overlapping control must survive")

      // the stage appears in the manifest, in order, owning the drop;
      // the reconciliation invariants hold with the stage inserted
      val m = curation.manifest.collect()
        .map(r => (r.getAs[String]("stage"), r.getAs[Long]("docs_in"),
          r.getAs[Long]("docs_out"), r.getAs[Long]("docs_dropped")))
      assert(m.map(_._1).toSeq == Seq("input", "strip_markup", "quality_filter",
        "exact_dedup", "decontaminate", "near_dup", "redact_pii"))
      assert(m.find(_._1 == "decontaminate").get._4 >= 1,
        "decontaminate must own at least the planted drop")
      m.sliding(2).foreach { case Array(a, b) =>
        assert(b._2 == a._3, s"docs_in of ${b._1} != docs_out of ${a._1}")
      }
      m.foreach { case (stage, in, out, dropped) =>
        assert(dropped == in - out && dropped >= 0, s"$stage attrition inconsistent")
      }
      // without the benchmark the leak survives — the stage, not some
      // other filter, is what drops it
      val off = GraftApi.curateCorpus(corpus)
      assert(off.collect().map(_.getAs[Long]("doc_id")).toSet.contains(maxId + 1),
        "leak doc must pass every other stage when decontamination is off")
    } finally { curation.release(); GraftApi.releaseCaches() }
  }

  test("DecontamStage selects the family member: fuzzy and semantic catch what exact misses") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text")
    val maxId = base.agg(org.apache.spark.sql.functions.max("doc_id"))
      .collect()(0).getLong(0)
    val filler = (s: String) => (1 to 30).map(i => s"the $s$i").mkString(" ")
    // three eval items, three planted leaks of increasing fuzziness:
    //  - itemLong leaked VERBATIM into docV (8 shared shingles — Exact's case)
    //  - itemShort (3 tokens = ONE shingle) swallowed by docF: 1 global
    //    shared shingle stays under Exact's minShared=3 radar, but
    //    per-item containment is 1.0 — Fuzzy's case
    //  - itemRw's 24 words REVERSED in docS: zero shared forward
    //    n-grams, identical unigram multiset (hash-embed cosine 1.0) —
    //    Semantic's case
    val itemShort = "alpha beta gamma"
    val itemLong = "what is the boiling point of water at sea level pressure"
    val rwWords = "the" +: (1 to 23).map(i => s"qvortex$i")
    val itemRw = rwWords.mkString(" ")
    val docV = maxId + 1; val docF = maxId + 2; val docS = maxId + 3
    val docC = maxId + 4 // control: overlaps nothing, must survive all three
    val crafted = Seq(
      (docV, "srcV", filler("leak") + " " + itemLong),
      (docF, "srcF", filler("para") + " " + itemShort),
      (docS, "srcS", rwWords.reverse.mkString(" ")),
      (docC, "srcC", filler("ctrl")))
      .toDF("doc_id", "source", "text")
    val corpus = base.union(crafted)
    val bench = Seq((10L, itemShort), (20L, itemLong), (30L, itemRw))
      .toDF("doc_id", "text")

    def run(stage: DecontamStage, label: String): (Set[Long], Unit) = {
      val curation = GraftApi.curatePlan(corpus, benchmark = Some(bench),
        decontam = Some(stage))
      try {
        val ids = curation.frame.collect().map(_.getAs[Long]("doc_id")).toSet
        // the member's own manifest row, with reconciliation gapless
        val m = curation.manifest.collect()
          .map(r => (r.getAs[String]("stage"), r.getAs[Long]("docs_in"),
            r.getAs[Long]("docs_out"), r.getAs[Long]("docs_dropped")))
        assert(m.exists(_._1 == label), s"manifest must carry a $label row")
        m.sliding(2).foreach { case Array(a, b) =>
          assert(b._2 == a._3, s"docs_in of ${b._1} != docs_out of ${a._1}")
        }
        m.foreach { case (s, in, out, dropped) =>
          assert(dropped == in - out && dropped >= 0, s"$s attrition inconsistent")
        }
        (ids, ())
      } finally { curation.release(); GraftApi.releaseCaches() }
    }

    val (exactIds, _) = run(DecontamStage.Exact(), "decontaminate")
    assert(!exactIds.contains(docV), "exact must drop the verbatim leak")
    assert(exactIds.contains(docF),
      "1 shared global shingle stays under exact's radar — fuzzy's reason to exist")
    assert(exactIds.contains(docS), "no shared n-gram: invisible to exact")

    val (fuzzyIds, _) = run(DecontamStage.Fuzzy(tau = 0.8), "decontaminate_fuzzy")
    assert(!fuzzyIds.contains(docF), "fuzzy must drop the swallowed short item")
    assert(!fuzzyIds.contains(docV), "verbatim leak has containment 1.0 too")
    assert(fuzzyIds.contains(docS), "no shared n-gram: invisible to fuzzy")

    val (semIds, _) = run(DecontamStage.Semantic(tau = 0.9), "decontaminate_semantic")
    assert(!semIds.contains(docS), "semantic must drop the reworded item")
    assert(semIds.contains(docF), "filler-diluted doc stays under cosine 0.9")

    // the non-overlapping control survives every form — each stage
    // drops for ITS definition of contaminated, not for being crafted
    Seq("exact" -> exactIds, "fuzzy" -> fuzzyIds, "semantic" -> semIds)
      .foreach { case (name, ids) =>
        assert(ids.contains(docC), s"control doc must survive the $name stage")
      }
  }

  test("cluster-balanced mixing: text -> hash embeddings -> k-means -> per-cluster quota") {
    // the data-mixing composition the round-6 operators exist for: a
    // raw text corpus gets model-free embeddings, clusters them, and
    // samples a per-cluster quota — no external model, every stage an
    // existing operator (stratifiedSample's stratum column is just
    // the cluster id)
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.operators.{Similarity, TextAnalysis}
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text")
    val quota = 5
    val assigned = Similarity.clusterEmbed(Similarity.hashEmbedDocs(docs), k = 4)
    val strata = docs.select("doc_id")
      .join(assigned.withColumnRenamed("vec_id", "doc_id"), "doc_id")
      .select(col("doc_id"), concat(lit("cluster_"), col("cid")).as("source"))
    val mixed = TextAnalysis.stratifiedSample(strata, perSource = quota).collect()
    val byCluster = mixed.groupBy(_.getAs[String]("source")).view
      .mapValues(_.length).toMap
    assert(byCluster.nonEmpty && byCluster.values.forall(_ <= quota))
    // every populated cluster contributes min(quota, its population)
    val pops = assigned.collect().groupBy(_.getAs[Int]("cid")).view
      .mapValues(_.length).toMap
    pops.foreach { case (cid, n) =>
      assert(byCluster.getOrElse(s"cluster_$cid", 0) == math.min(quota, n),
        s"cluster $cid: quota not filled from population $n")
    }
    graft.operators.Caches.releaseAll()
  }

  test("curation semantic-dedup stage: placement, manifest row, gapless arithmetic (r19)") {
    import org.apache.spark.sql.functions.col
    val base = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text")
    val curation = GraftApi.curatePlan(base, semanticDedupTau = Some(0.85))
    try {
      val nOut = curation.frame.count()
      val m = curation.manifest.collect()
        .map(r => (r.getAs[String]("stage"), r.getAs[Long]("docs_in"),
          r.getAs[Long]("docs_out"), r.getAs[Long]("docs_dropped")))
      // the semantic stage slots between the lexical near-dup stage
      // and redaction, with its own manifest row
      assert(m.map(_._1).toSeq == Seq("input", "strip_markup",
        "quality_filter", "exact_dedup", "near_dup", "semantic_dedup",
        "redact_pii"), s"stage order drifted: ${m.map(_._1).toSeq}")
      assert(m.last._2 == nOut && m.last._3 == nOut)
      m.sliding(2).foreach { case Array(a, b) =>
        assert(b._2 == a._3, s"docs_in of ${b._1} != docs_out of ${a._1}")
      }
      m.foreach { case (stage, in, out, dropped) =>
        assert(dropped == in - out && dropped >= 0, s"$stage attrition inconsistent")
      }
      assert(m.find(_._1 == "semantic_dedup").exists(_._4 > 0),
        "tau=0.85 must own a drop on this corpus (measured 38/16 at the test SFs)")
    } finally curation.release()
  }

  test("semantic stage catches a token-permuted paraphrase the shingle stage misses") {
    import spark.implicits._
    // same token MULTISET, different order: the hashing-trick
    // embeddings are IDENTICAL (cosine exactly 1.0), but the 3-gram
    // shingle sets of a shuffle barely overlap — so the lexical
    // near-dup stage keeps both and only the semantic stage can
    // resolve the pair (keep-min-id)
    val words = ("the quick brown fox jumps over lazy dog near quiet " +
      "river bank while golden sun slowly sets behind tall mountain " +
      "peaks today").split(" ").toSeq
    val a = words.mkString(" ")
    val b = new scala.util.Random(3).shuffle(words).mkString(" ")
    assert(a != b)
    val filler = (0 until 30).map(i => (100L + i, "srcB",
      s"filler document number $i with the usual amount of plain and " +
        s"ordinary text about topic $i to pass the quality gate easily"))
    val docs = (Seq((1L, "srcA", a), (2L, "srcA", b)) ++ filler)
      .toDF("doc_id", "source", "text")
    // control: WITHOUT the semantic stage both permutations survive
    val plain = GraftApi.curatePlan(docs)
    val sem = GraftApi.curatePlan(docs, semanticDedupTau = Some(0.99))
    try {
      val keptPlain = plain.frame.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(keptPlain.contains(1L) && keptPlain.contains(2L),
        "the shingle stage must NOT pair a full-shuffle paraphrase")
      val kept = sem.frame.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept.contains(1L) && !kept.contains(2L),
        s"semantic stage must drop the higher-id twin: kept=$kept")
      val m = sem.manifest.collect().map(r =>
        (r.getAs[String]("stage"), r.getAs[Long]("docs_dropped"))).toMap
      assert(m("semantic_dedup") >= 1L)
    } finally { plain.release(); sem.release(); GraftApi.releaseCaches() }
  }

  test("curation with every optional stage on: full order, gapless manifest") {
    import spark.implicits._
    val base = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text")
    val bench = Seq((1L, "what is the boiling point of water at sea level"))
      .toDF("q_id", "text")
    val curation = GraftApi.curatePlan(base, mix = Some(MixStage.PerSource(3)),
      spanDedupK = Some(20), benchmark = Some(bench),
      blocklist = Seq("dup"))
    try {
      val nOut = curation.frame.count()
      val m = curation.manifest.collect()
        .map(r => (r.getAs[String]("stage"), r.getAs[Long]("docs_in"),
          r.getAs[Long]("docs_out"), r.getAs[Long]("docs_dropped")))
      assert(m.map(_._1).toSeq == Seq("input", "strip_markup",
        "quality_filter", "blocklist_filter", "exact_dedup",
        "decontaminate", "near_dup", "span_dedup", "redact_pii",
        "stratified_sample"),
        s"full stage order drifted: ${m.map(_._1).toSeq}")
      assert(m.find(_._1 == "blocklist_filter").exists(_._4 > 0),
        "the kill-list must own a drop on this corpus ('dup' docs exist)")
      assert(m.last._3 == nOut)
      m.sliding(2).foreach { case Array(a, b) =>
        assert(b._2 == a._3, s"docs_in of ${b._1} != docs_out of ${a._1}")
      }
      m.foreach { case (stage, in, out, dropped) =>
        assert(dropped == in - out && dropped >= 0, s"$stage attrition inconsistent")
      }
    } finally { curation.release(); GraftApi.releaseCaches() }
  }

  test("curation closes with the selected mix stage: temperature and token-weighted") {
    val base = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text")
    // temperature mixing over source as the final stage
    val temp = GraftApi.curatePlan(base,
      mix = Some(MixStage.Temperature(budget = 60L)))
    try {
      val nOut = temp.frame.count()
      val m = temp.manifest.collect()
        .map(r => (r.getAs[String]("stage"), r.getAs[Long]("docs_out")))
      assert(m.map(_._1).last == "mix_temperature",
        s"stage order drifted: ${m.map(_._1).toSeq}")
      assert(m.last._2 == nOut && nOut <= 60 + 20, // floor slack: <=1 per key
        s"temperature mix output $nOut out of budget envelope")
    } finally { temp.release(); GraftApi.releaseCaches() }
    // token-weighted A-ES as the final stage
    val tw = GraftApi.curatePlan(base, mix = Some(MixStage.TokenWeighted(25)))
    try {
      val nOut = tw.frame.count()
      val m = tw.manifest.collect().map(_.getAs[String]("stage"))
      assert(m.last == "weighted_sample", s"stage order drifted: ${m.toSeq}")
      assert(nOut == 25, s"token-weighted sample must keep exactly k: $nOut")
    } finally { tw.release(); GraftApi.releaseCaches() }
    // cluster-balanced topic cap as the final stage: quotas hold per
    // k-means cluster of the survivors' hash embeddings, and the kept
    // set is a subset of the pre-mix survivors
    val trainingsBefore = graft.operators.Similarity.quantizerTrainings.get()
    val cb = GraftApi.curatePlan(base,
      mix = Some(MixStage.ClusterBalanced(quota = 4, k = 8)))
    try {
      val out = cb.frame.collect()
      val m = cb.manifest.collect().map(_.getAs[String]("stage"))
      // train-once sharing: materializing the frame AND the manifest
      // must cost exactly ONE quantizer training (trainedQuantizer in
      // the ClusterBalanced stage, centroid array passed to
      // mixByCluster — never a second sample job)
      assert(graft.operators.Similarity.quantizerTrainings.get()
          == trainingsBefore + 1,
        "ClusterBalanced curation trained the quantizer more than once")
      assert(m.last == "mix_cluster", s"stage order drifted: ${m.toSeq}")
      assert(out.nonEmpty && out.length <= 8 * 4,
        s"cluster-balanced output ${out.length} exceeds k*quota")
      val kept = out.map(_.getAs[Long]("doc_id")).toSet
      val clusters = graft.operators.Similarity.mixByCluster(
        graft.operators.Similarity.hashEmbedDocs(
          cb.stageFrames.toMap.apply("redact_pii")), quota = 4, k = 8)
        .collect().map(r => r.getLong(0) -> r.getInt(1))
      assert(clusters.map(_._1).toSet == kept,
        "mix stage kept a different set than the operator itself")
      clusters.groupBy(_._2).foreach { case (cid, g) =>
        assert(g.length <= 4, s"cluster $cid over quota: ${g.length}") }
    } finally { cb.release(); GraftApi.releaseCaches() }
    // DSIR importance resampling as the final stage (r18): the kept
    // set is exactly the operator's own selection over the redacted
    // survivors, and the stage owns a manifest row
    val target = base.filter(col("source") === "src0")
    val ds = GraftApi.curatePlan(base,
      mix = Some(MixStage.DsirSelect(k = 30, target = target)))
    try {
      val out = ds.frame.collect().map(_.getAs[Long]("doc_id")).toSet
      val m = ds.manifest.collect().map(_.getAs[String]("stage"))
      assert(m.last == "dsir_select", s"stage order drifted: ${m.toSeq}")
      assert(out.size == 30, s"DSIR selection must keep exactly k: ${out.size}")
      val direct = graft.operators.TextAnalysis.dsirSelect(
        ds.stageFrames.toMap.apply("redact_pii"), target, 30)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(direct == out,
        "mix stage kept a different set than the operator itself")
    } finally { ds.release(); GraftApi.releaseCaches() }
  }

  test("curation span stage cuts shared boilerplate from otherwise-distinct docs") {
    import spark.implicits._
    // two long docs, distinct bodies, sharing a 6-token license block —
    // they survive quality/exact/near-dup stages; only the span stage
    // can excise the shared run
    val license = "licensed under the demo terms only"
    val mkBody = (s: String) => (1 to 30).map(i => s"the $s$i").mkString(" ")
    val docs = Seq(
      (1L, "web", mkBody("alpha") + " " + license),
      (2L, "web", license + " " + mkBody("beta")),
      (3L, "web", mkBody("gamma")))
      .toDF("doc_id", "source", "text")
    val out = GraftApi.curateCorpus(docs, spanDedupK = Some(6)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == mkBody("alpha") && out(2L) == mkBody("beta"),
      s"license block must be cut: ${out(1L)} / ${out(2L)}")
    assert(out(3L) == mkBody("gamma"), "unaffected doc must pass through unchanged")
    // without the flag the shared block survives (document-level dedup
    // cannot see it)
    val off = GraftApi.curateCorpus(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(off(1L).contains(license) && off(2L).contains(license))
    GraftApi.releaseCaches()
  }

  test("curatePlan construction runs zero Spark jobs; frame access owns its cache scope") {
    // the tracker counts actions (QueryExecutionListener) and raw jobs:
    // localCheckpoint/RDD actions bypass the former but not the latter
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text")
    Bridge.drainListenerBus(spark)
    val tracker = PerformanceTracker.install(spark)
    try {
      val curation = GraftApi.curatePlan(docs)
      // both listener buses are async — drain before asserting the zero
      Bridge.drainListenerBus(spark)
      assert(tracker.recorded.isEmpty && tracker.jobs.isEmpty,
        s"curatePlan construction ran ${tracker.recorded.size} actions / ${tracker.jobs.size} jobs")
      // first frame access resolves near-dup clusters (jobs expected)
      // and registers this curation's caches under ITS scope only
      val before = graft.operators.Caches.trackedCount
      val n = curation.frame.count()
      assert(n > 0)
      Bridge.drainListenerBus(spark)
      assert(tracker.jobs.nonEmpty, "frame access should run the resolution jobs")
      assert(graft.operators.Caches.trackedCount(curation.scope) >= 2,
        "curation caches must register under the curation's scope")
      curation.release()
      assert(graft.operators.Caches.trackedCount(curation.scope) == 0)
      assert(graft.operators.Caches.trackedCount == before,
        "curation release must not touch other scopes' caches")
    } finally PerformanceTracker.uninstall(spark, tracker)
  }
}
