package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.monitoring.PerformanceTracker
import graft.sources.Tables

/** Locks the driver contract's internal consistency: every oracle has
  * a query, and every query without an oracle is on the DOCUMENTED
  * rows-only list (hash-based operators pinned by recall/property
  * specs instead). A typo'd key or a new operator landed without its
  * oracle fails here instead of silently degrading the driver's
  * correctness artifact to a rows-only check. */
class ContractSpec extends AnyFunSuite {

  // The quantizer oracles (q_cluster_embed / q_ann_ivf) are
  // DATA-DEPENDENT: the trained-literal pattern exports the seeded
  // quantizer's centroids as SQL literals, so the entries exist only
  // after a quantizer query has run in this JVM. Mirror the driver
  // flow (Verify runs every query before dumping oracleSql) once for
  // the whole suite; this also exercises the oracle builder itself.
  private lazy val quantizerOraclesReady: Unit = {
    SparkEntry.queries("q_cluster_embed")(TestSession.spark, TestSession.sfDir)
    // same for the classifier's trained-weight literals (r16)
    SparkEntry.queries("q_quality_classifier")(TestSession.spark, TestSession.sfDir)
    ()
  }

  // (q_dedup_simhash graduated to a SQL oracle: the 8-chunk pigeonhole
  // bucketing has FULL recall at maxHamming=6, so exact all-pairs
  // hamming — recomputed kernel-for-kernel in DuckDB — IS the answer.
  // q_ann_lsh / q_dedup_embed_lsh graduated too: the RHP hyperplanes
  // are data-independent constants, so the oracle embeds them as
  // literals and re-derives buckets, probes, candidates, and the
  // exact verify in DuckDB — full-pipeline replication, no recall
  // caveat needed because both engines run the SAME candidate set.)
  // (q_cluster_embed / q_ann_ivf graduated in round 10 via the
  // trained-literal pattern: the seeded quantizer's centroids are
  // bounded driver state exported as exact DOUBLE literals, and DuckDB
  // independently re-derives everything corpus-sized — assignment
  // argmax, confidence, probe ranking, inverted-list candidates, exact
  // verify top-k. Training itself stays Scala-pinned in
  // SimilaritySpec, like the IVF recall bars.)
  // (BPE APPLICATION left this list in round 12: the greedy merge
  // loop is restated as a bounded recursive CTE — one iteration per
  // merge rank — in SparkEntry.bpeChainSql, so q_token_count_bpe and
  // q_tokenize_bpe are SQL-oracled; only merge LEARNING remains
  // rows-only.)
  // (merge LEARNING is also SQL-oracled since the per-iteration
  // window-arg-max restatement — SparkEntry.bpeTrainSql — so only the
  // sketch/codec queries remain.)
  // (q_quantiles_approx: a GK sketch returns an observed sample, not
  // DuckDB's interpolation — pinned against its rank-error contract
  // in ScaleSpec; the exact q_quantiles stays the oracle path.)
  // Shared with the fuzz regression lock: the same three queries are
  // the ones whose outputs are not cross-environment deterministic
  // contracts, so they are also the ones without committed goldens.
  private val rowsOnlyByDesign = FuzzGold.excluded

  test("every oracle key names a registered query") {
    quantizerOraclesReady
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("every query is oracled or documented rows-only") {
    quantizerOraclesReady
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled == rowsOnlyByDesign,
      s"undocumented rows-only queries: ${unoracled -- rowsOnlyByDesign}; " +
        s"stale rows-only entries: ${rowsOnlyByDesign -- unoracled}")
  }

  test("oracle SQL only references the driver's test tables") {
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val fromRe = "(?i)(?:FROM|JOIN)\\s+([A-Za-z_][A-Za-z0-9_]*)".r
    quantizerOraclesReady
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      // CTE names declared in this statement are legitimate FROM
      // targets. The scan is formatting-independent (any `name AS (`
      // anywhere) — anchoring on WITH/`),` punctuation would false-fail
      // on a validly reformatted oracle. Over-matching is harmless
      // here: column aliases can't be followed by `(`, so the only
      // captures are CTE declarations.
      // optional simple column list covers recursive CTE heads like
      // `reach(a, b) AS (`
      val ctes = "(?i)\\b([A-Za-z_][A-Za-z0-9_]*)\\s*(?:\\([A-Za-z0-9_,\\s]*\\))?\\s+AS\\s*\\(".r
        .findAllMatchIn(sql).map(_.group(1)).toSet
      val refs = fromRe.findAllMatchIn(sql).map(_.group(1)).toSet
      val unknown = refs -- tables -- ctes
      assert(unknown.isEmpty, s"$name references unknown tables: $unknown")
    }
  }

  test("exact-reference operators carry the @note 100TB scale pointer") {
    // the discipline: every operator kept as the exact/oracle form of
    // a scale family must tell a 100 TB user which operator to run
    // instead, in a greppable convention (`@note 100TB:`). The list is
    // maintained here; a new exact-reference form joins it.
    val mustCarry = Seq(
      ("src/main/scala/graft/operators/Similarity.scala", "embedDedup"),
      ("src/main/scala/graft/operators/Similarity.scala", "annTopK"),
      ("src/main/scala/graft/operators/Dedup.scala", "ngramJaccardPairs"),
      ("src/main/scala/graft/operators/TimeSeries.scala", "quantiles"))
    mustCarry.foreach { case (file, name) =>
      val src = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(file)), "UTF-8")
      val defIdx = src.indexOf(s"def $name(")
      assert(defIdx >= 0, s"$file: def $name not found")
      val docStart = src.lastIndexOf("/**", defIdx)
      assert(docStart >= 0, s"$file: $name has no scaladoc")
      val doc = src.substring(docStart, defIdx)
      assert(doc.contains("@note 100TB:"),
        s"$file: $name's scaladoc must carry an `@note 100TB:` pointer " +
          "to its scale-path counterpart")
    }
  }

  test("only GraftSession builds a SparkSession") {
    // one session configuration for every program: a second builder
    // drifts (two did — their plans kept an optimizer rule every other
    // surface excludes)
    val builders = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator.asScala.map(_.toString)
      .filter(p => p.endsWith(".scala") && !p.endsWith("/graft/GraftSession.scala"))
      .filter(p => new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8").contains("SparkSession.builder("))
      .toSeq
    assert(builders.isEmpty, s"build the session through GraftSession.builder: $builders")
  }

  test("only graft.monitoring registers listeners") {
    // one recorder of jobs and actions: a listener registered elsewhere
    // is a second account of the same run
    val registers = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator.asScala.map(_.toString)
      .filter(p => p.endsWith(".scala") && !p.contains("/graft/monitoring/"))
      .filter { p =>
        val src = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)), "UTF-8")
        src.contains("addSparkListener") || src.contains("listenerManager.register")
      }.toSeq
    assert(registers.isEmpty, s"record through graft.monitoring.PerformanceTracker: $registers")
  }

  test("only BoundedFold holds the bound+1 probe and the seeded-sample recipes") {
    // a construction-time driver pull goes through one module, so its
    // bound clamp, ordering and null-key rule live in one place
    val limitCollect = raw"\.limit\(((?:[^()]|\([^()]*\))*)\)\s*\.collect\(\)".r
    val seeded = raw"xxhash64\(col\([^)]*\),\s*lit\(seed\)\)".r
    val offenders = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator.asScala.map(_.toString)
      .filter(p => p.endsWith(".scala") && !p.endsWith("/operators/BoundedFold.scala"))
      .filter { p =>
        val src = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)), "UTF-8")
        limitCollect.findAllMatchIn(src).exists(_.group(1).matches(raw"(?s).*\+\s*1\b.*")) ||
          seeded.findFirstIn(src).isDefined
      }.toSeq
    assert(offenders.isEmpty, s"pull through graft.operators.BoundedFold: $offenders")
  }

  test("building a query runs only the pinned construction-time jobs") {
    // Jobs fired while each declared query's DataFrame is BUILT (no
    // action runs), at sf0.001, with the trained-model memos cleared
    // so every build trains. The keys are the queries whose
    // construction runs jobs; each value is the job count measured
    // when this lock was set (the maximum of three runs), an upper
    // bound. A new eager pull, or one that runs more jobs, fails here.
    val eager = Map(
      "q_ann_ivf" -> 1, "q_ann_ivfpq" -> 3, "q_ann_pq" -> 2,
      "q_assign_ids" -> 2, "q_bigram_logprob" -> 4,
      "q_bloom_membership_check" -> 4, "q_cluster_embed" -> 1,
      "q_cluster_stats" -> 1, "q_corpus_ingest_check" -> 35,
      "q_curate" -> 34, "q_curate_manifest" -> 39,
      "q_curate_semantic" -> 24, "q_dedup_clusters" -> 10,
      "q_dsir_select" -> 4, "q_importance_weights_ng" -> 4,
      "q_lang_id_model" -> 2, "q_lang_id_model_cn" -> 2,
      "q_mix_cluster" -> 1, "q_ml_feature_prep" -> 2,
      "q_neardup_store_check" -> 93, "q_quality_classifier" -> 6,
      "q_recent_window" -> 2, "q_semantic_decontaminate" -> 1,
      "q_semdedup" -> 1, "q_shard_plan" -> 2, "q_source_overlap" -> 6,
      "q_stratified_sample" -> 3, "q_train_bpe" -> 2)
    val spark = TestSession.spark
    val dir = TestSession.sfDir
    // a table's first read in a JVM runs a parquet schema job that
    // belongs to whichever query reads it first: resolve them all here
    Tables.all(spark, dir)
    Bridge.drainListenerBus(spark)
    val tracker = PerformanceTracker.install(spark)
    val counts = try SparkEntry.queries.keys.toSeq.sorted.map { name =>
      graft.operators.QualityClassifier.invalidate()
      graft.operators.LangIdModel.invalidate()
      val run = tracker.measure(spark)(SparkEntry.queries(name)(spark, dir))
      run.error.foreach(e => throw e)
      graft.operators.Caches.releaseAll()
      name -> run.jobs
    }.filter(_._2 > 0).toMap
    finally PerformanceTracker.uninstall(spark, tracker)
    assert(counts.keySet == eager.keySet,
      s"new eager queries: ${counts.keySet -- eager.keySet}; " +
        s"no longer eager: ${eager.keySet -- counts.keySet}")
    val over = counts.filter { case (name, n) => n > eager(name) }
    assert(over.isEmpty, s"construction jobs over their pinned bound: $over")
  }
}
