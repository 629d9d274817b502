package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.sources.Tables

/** Empty-input behavior of every operator family: a 0-row (but
  * correctly-schemed) frame must flow through without crashing — the
  * partition-with-no-data case every operator hits at scale (a
  * filtered-out partition, an empty source directory, a quiet
  * entity). Aggregates emit their 1-row (zero/null) summary;
  * row-level transforms emit 0 rows; the one documented exception
  * (annIvf needs at least one vector to train a quantizer) fails
  * with a clear require, not an internal error. */
class EdgeCaseSpec extends AnyFunSuite {
  import TestSession._

  private lazy val noEvents = Tables.events(spark, sfDir).limit(0)
  private lazy val noDocs = Tables.documents(spark, sfDir).limit(0)
  private lazy val noEmb = Tables.embeddings(spark, sfDir).limit(0)
  private lazy val noWeather = TimeSeries.weatherView(noEvents)
  private lazy val noMasked = MissingValues.maskedView(noEvents)

  test("row-level time-series transforms emit 0 rows on empty input") {
    assert(TimeSeries.timeFeatures(noEvents).count() == 0)
    assert(TimeSeries.lagFeatures(noEvents).count() == 0)
    assert(TimeSeries.rollingStats(noEvents).count() == 0)
    assert(TimeSeries.featurePipeline(noEvents).count() == 0)
    assert(TimeSeries.diff(noEvents).count() == 0)
    assert(TimeSeries.targets(noEvents).count() == 0)
    assert(TimeSeries.willRain(noEvents).count() == 0)
    assert(TimeSeries.sessionize(noEvents).count() == 0)
    assert(TimeSeries.asofJoin(noEvents).count() == 0)
    assert(TimeSeries.rangeJoin(noEvents).count() == 0)
    assert(TimeSeries.dailyRange(noEvents).count() == 0)
    assert(TimeSeries.weatherIndices(noWeather).count() == 0)
    assert(TimeSeries.interactions(noWeather).count() == 0)
  }

  test("missing-value and encoding transforms handle empty input") {
    assert(MissingValues.ffill(noMasked).count() == 0)
    assert(MissingValues.interpolate(noMasked).count() == 0)
    assert(MissingValues.modeFill(noMasked).count() == 0)
    assert(MissingValues.nullFilter(noMasked).count() == 0)
    assert(Encoders.labelEncode(noEvents).count() == 0)
    assert(Encoders.standardScale(noEvents).count() == 0)
  }

  test("aggregates emit their summary shape on empty input") {
    assert(Analytics.metrics(noEvents).count() == 1)
    val dup = Quality.duplicateKeys(noEvents).collect()(0)
    assert(dup.getAs[Long]("n_dup_keys") == 0 && dup.getAs[Long]("n_dup_rows") == 0)
    assert(Quality.missingProfile(noMasked).count() == 4) // one row per column
    assert(Quality.rangeCheck(noWeather).count() == 3)
    assert(Quality.highNullRows(noMasked).count() == 1)
    assert(Quality.report(noEvents, noWeather, noMasked).count() > 0)
    assert(TimeSeries.quantiles(noEvents).count() == 4) // null quantile values
    // ADVICE r15: the check form's contract on a degenerate corpus is
    // 4 rows (n_rows=0, bound trivially TRUE, exact_q null) — the
    // pre-fix form emitted 0 rows (empty crossJoin streamed side) and
    // would have row-count-diverged from its DuckDB oracle
    val qac = TimeSeries.quantilesApproxCheck(noEvents).collect()
    assert(qac.length == 4)
    assert(qac.forall(_.getAs[Long]("n_rows") == 0L))
    assert(qac.forall(_.getAs[Boolean]("rank_in_bound")))
    assert(qac.forall(r => r.isNullAt(r.fieldIndex("exact_q"))))
    assert(Analytics.ingestMetrics(noEvents).count() == 0) // grouped: no groups
    assert(Analytics.distribution(noEvents).count() == 0)
  }

  test("dedup and similarity pipelines emit 0 pairs on empty input") {
    assert(TextAnalysis.dedupExact(noDocs).count() == 0)
    assert(TextAnalysis.tokenCount(noDocs).count() == 0)
    assert(TextAnalysis.packSequences(noDocs).count() == 0)
    assert(TextAnalysis.redactPii(noDocs).count() == 0)
    assert(TextAnalysis.qualityFilter(noDocs).count() == 0)
    assert(TextAnalysis.stratifiedSample(noDocs).count() == 0)
    assert(TextAnalysis.repetitionRatio(noDocs).count() == 0)
    assert(TextAnalysis.vocabTopK(noDocs).count() == 0)
    assert(TextAnalysis.stripMarkup(noDocs).count() == 0)
    assert(TextAnalysis.dedupLines(noDocs).count() == 0)
    assert(TextAnalysis.corpusStats(noDocs).count() == 0)
    assert(TextAnalysis.dedupIncremental(noDocs, noDocs).count() == 0)
    assert(TextAnalysis.urlStats(noDocs).count() == 0)
    assert(TextAnalysis.chunkDocs(noDocs).count() == 0)
    assert(TextAnalysis.tokenEntropy(noDocs).count() == 0)
    assert(GraftApi.curateCorpus(noDocs.select("doc_id", "source", "text")).count() == 0)
    assert(Dedup.nearDupClusters(noDocs.select(
      noDocs("doc_id").as("doc_a"), noDocs("doc_id").as("doc_b"))).count() == 0)
    assert(Dedup.minhashPairs(noDocs).count() == 0)
    assert(Dedup.simhashPairs(noDocs).count() == 0)
    assert(Dedup.ngramJaccardPairs(noDocs).count() == 0)
    assert(Similarity.embedDedup(noEmb).count() == 0)
    assert(Similarity.annTopK(noEmb).count() == 0)
    assert(Similarity.annLsh(noEmb).count() == 0)
    assert(Similarity.embedDedupLsh(noEmb).count() == 0)
    assert(Dedup.sourceOverlap(noDocs).count() == 0)
    Caches.releaseAll()
  }

  test("sourceOverlap: one source yields an empty matrix, not a self-pair") {
    import spark.implicits._
    val docs = Seq((1L, "srcA", "shared trigram text here"),
      (2L, "srcA", "shared trigram text here too"))
      .toDF("doc_id", "source", "text")
    // single-bit masks can never form a pair — the bitmask rollup must
    // agree with the set form's "no pair for a singleton set" contract
    assert(graft.operators.Dedup.sourceOverlap(docs).count() == 0)
    Caches.releaseAll()
  }

  test("decontaminate counts a shingle once per doc_id when the doc_id repeats") {
    import spark.implicits._
    // both doc-1 rows hold the benchmark shingles {alpha beta gamma,
    // beta gamma delta, gamma delta epsilon}; the second adds {delta
    // epsilon zeta}. The oracle counts DISTINCT shared shingles per
    // doc_id (4), not per row (3 + 4 = 7), and keeps both rows.
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta unrelated words"))
      .toDF("doc_id", "text")
    val bench = Seq("alpha beta gamma delta epsilon zeta").toDF("text")
    val out = Dedup.decontaminate(corpus, bench).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 4L, 1L), (1L, 4L, 1L), (2L, 2L, 0L)))
    Caches.releaseAll()
  }

  test("BoundedFold: the probe bound, the null-key rule and the key order") {
    import org.apache.spark.sql.functions.{col, map_keys}
    import org.apache.spark.sql.types.{IntegerType, StringType}
    assert(BoundedFold.within(spark.range(3), 3).map(_.length) == Some(3))
    assert(BoundedFold.within(spark.range(4), 3).isEmpty)
    assert(BoundedFold.within(spark.range(0), Long.MaxValue).map(_.length) == Some(0))
    // keys sort by UTF-8 bytes (code points): U+E000 < U+FF21 <
    // U+1D400, where a String sort (UTF-16 units) puts U+1D400 first
    val m = BoundedFold.literalMap(Seq[(String, Int)]("\uD835\uDC00" -> 3, (null, 9),
      "\uFF21" -> 2, "\uE000" -> 1), StringType, IntegerType)
    val keys = spark.range(1).select(map_keys(m)).head().getSeq[String](0)
    assert(keys == Seq("\uE000", "\uFF21", "\uD835\uDC00"))
    val empty = BoundedFold.literalMap(Nil, StringType, IntegerType)
    assert(spark.range(1).select(empty.as("m")).schema("m").dataType.simpleString ==
      "map<string,int>")
    assert(spark.range(1).select(empty(col("id").cast("string"))).head().isNullAt(0))
  }

  test("annIvf refuses an empty corpus with a clear message") {
    val ex = intercept[IllegalArgumentException] {
      Similarity.annIvf(noEmb).count()
    }
    assert(ex.getMessage.contains("empty"))
    Caches.releaseAll()
  }

  test("mixByCluster: empty corpus refused, oversized quota keeps every member once") {
    import spark.implicits._
    val ex = intercept[IllegalArgumentException] {
      Similarity.mixByCluster(noEmb, quota = 4).count()
    }
    assert(ex.getMessage.contains("empty"))
    // quota past every cluster's size keeps ALL vectors, exactly once
    val tiny = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.mixByCluster(tiny, quota = 100, k = 2)
      .collect().map(_.getLong(0))
    assert(out.sorted.toSeq == Seq(1L, 2L, 3L, 4L),
      "oversized quota must keep every vector exactly once")
    Caches.releaseAll()
  }

  test("r18 operators: empty/degenerate inputs behave per family contract") {
    import spark.implicits._
    val someDocs = Tables.documents(spark, sfDir).limit(5)
    // dsirSelect: empty CORPUS -> 0 rows (no featured docs); empty
    // TARGET still scores finitely (add-one smoothing over the fixed
    // bucket space — c_t=0 everywhere, weights defined)
    assert(TextAnalysis.dsirSelect(noDocs, someDocs, k = 10).count() == 0)
    val noTgt = TextAnalysis.dsirSelect(someDocs, noDocs, k = 10).collect()
    assert(noTgt.length == 5 &&
      noTgt.forall(r => !r.getAs[Double]("log_w").isNaN &&
        !r.getAs[Double]("log_w").isInfinite),
      "empty target must yield finite smoothed weights")
    // k = 0 keeps nothing
    assert(TextAnalysis.dsirSelect(someDocs, someDocs, k = 0).count() == 0)
    // semDedup / annPq / trainPqCodebooks: empty embeddings refused
    // with the quantizer family's clear message
    for (f <- Seq(
        () => Similarity.semDedup(noEmb).count(),
        () => Similarity.annPq(noEmb).count())) {
      val ex = intercept[IllegalArgumentException](f())
      assert(ex.getMessage.contains("empty"))
    }
    // annPq: a single-vector corpus has no candidates (self excluded)
    val oneEmb = Tables.embeddings(spark, sfDir).limit(1)
    assert(Similarity.annPq(oneEmb, nQueries = 20, k = 5).count() == 0)
    // semDedup: a single vector survives alone
    val oneOut = Similarity.semDedup(oneEmb).collect()
    assert(oneOut.length == 1)
    // lang-ID model scores an empty frame to 0 rows with a trained model
    val m = LangIdModel.train(someDocs)
    assert(LangIdModel.score(noDocs, m).count() == 0)
    Caches.releaseAll()
  }

  test("r19 operators: empty/degenerate inputs behave per family contract") {
    import org.apache.spark.sql.functions.col
    val someDocs = Tables.documents(spark, sfDir).limit(5)
    val someEmb = Tables.embeddings(spark, sfDir).limit(50)
    // annIvfPq / trainIvfPqCodebooks: empty embeddings refused with
    // the quantizer family's clear message (the quantizer itself
    // refuses first — same family contract as semDedup/annPq)
    val ex = intercept[IllegalArgumentException](
      Similarity.annIvfPq(noEmb).count())
    assert(ex.getMessage.contains("empty"))
    // a single-vector corpus: the sole vector is its own list's only
    // member — no candidates (self excluded), 0 rows, no crash
    val oneEmb = Tables.embeddings(spark, sfDir).limit(1)
    assert(Similarity.annIvfPq(oneEmb, nQueries = 20, k = 5).count() == 0)
    // refine=1: the shortlist IS k — still k ranked rows per covered
    // query, exact-cosine order
    val r1 = Similarity.annIvfPq(someEmb, nQueries = 5, k = 3, refine = 1)
      .collect()
    assert(r1.nonEmpty && r1.groupBy(_.getAs[Long]("query_id"))
      .values.forall(_.length <= 3))
    // refine=0 is a contract violation, refused loudly
    intercept[IllegalArgumentException](
      Similarity.annIvfPq(someEmb, refine = 0))
    // charNgrams counts CODE POINTS, not graphemes or bytes: empty
    // and 2-point strings are below nMin=3 (no windows -- the empty
    // doc embeds to zero); the precomposed 2-point a-acute+b has no
    // window while the DECOMPOSED 3-point a+combining-acute+b has
    // exactly one -- DuckDB's substring/length view of the same
    // strings, the parity the oracle chain rests on
    import spark.implicits._
    val cn = Seq(("", 0), ("ab", 0), ("abc", 1), ("\u00e1b", 0),
        ("a\u0301b", 1))
      .toDF("t", "expect")
      .select(org.apache.spark.sql.functions.size(
        graft.functions.GraftFunctions.charNgrams(col("t"), 3, 5)).as("n"),
        col("expect"))
      .collect()
    assert(cn.forall(r => r.getInt(0) == r.getInt(1)),
      s"charNgrams window counts drifted: ${cn.mkString(",")}")
    // char-basis lang model scores an empty frame to 0 rows
    val m = LangIdModel.train(someDocs, charGrams = true)
    assert(LangIdModel.score(noDocs, m, charGrams = true).count() == 0)
    // curation semantic stage on an EMPTY corpus: the stage skips
    // (nothing to resolve) instead of surfacing the standalone
    // quantizer's empty-input refusal as a pipeline crash -- the run
    // stays total with 0 rows and a 0-drop semantic_dedup manifest row
    val emptyCur = GraftApi.curatePlan(noDocs, semanticDedupTau = Some(0.85))
    try {
      assert(emptyCur.frame.count() == 0)
      val mrows = emptyCur.manifest.collect()
      assert(mrows.exists(r => r.getAs[String]("stage") == "semantic_dedup" &&
        r.getAs[Long]("docs_dropped") == 0L))
    } finally emptyCur.release()
    Caches.releaseAll()
  }

  test("single-row input flows through the window operators") {
    val one = Tables.events(spark, sfDir).limit(1)
    assert(TimeSeries.featurePipeline(one).count() == 1)
    assert(TimeSeries.sessionize(one).count() == 1)
    assert(MissingValues.interpolate(MissingValues.maskedView(one)).count() == 1)
  }
}
