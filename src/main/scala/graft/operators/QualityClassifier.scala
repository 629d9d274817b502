package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Model-BASED document quality scoring — the DCLM / fineweb-edu axis
  * the rule flags ([[TextAnalysis.qualityFilter]]) and LM scores
  * ([[TextAnalysis.unigramLogprob]]) don't cover: a trained classifier
  * generalizes past hand-set thresholds and catches documents the
  * rules mis-grade (reference analog: the rain classifier's
  * train/score/persist shape, weather_predictor.py:313-391, applied to
  * corpus curation).
  *
  * Shape (all bounded-driver-state, the [[Similarity.trainQuantizer]]
  * pattern):
  *  1. WEAK LABELS by signal agreement — no human labels exist at
  *     corpus scale, so the trainer labels only documents where two
  *     INDEPENDENT quality signals agree: the Gopher-style rule verdict
  *     (scan-local) and the unigram-LM mean NLL side of the sample
  *     median (corpus-statistical). Agreement filtering is the standard
  *     weak-supervision move: disagreement rows are exactly where
  *     either signal alone is least trustworthy.
  *  2. TRAIN logistic regression on a seeded bounded sample of
  *     hashing-trick embeddings (deterministic: hash-ordered sample,
  *     fixed full-batch GD — same data + seed ⇒ bit-identical weights).
  *     The weight vector is dim+1 doubles — KBs — the only driver
  *     state.
  *  3. SCORE the corpus scan-locally: the weights ride into generated
  *     code as a reference object ([[graft.functions.GraftFunctions.logitDot]]), so
  *     inference is a pure codegen'd map — no join, no shuffle, 100 TB
  *     embarrassingly parallel.
  *
  * Cross-engine contract (trained-literal oracle pattern): training is
  * Scala-pinned; DuckDB re-derives everything corpus-sized — the
  * hash-embedding, the widened left-to-right dot against the weights
  * exported as exact DOUBLE literals, the 6dp-rounded score, and the
  * sigmoid OF THE ROUNDED score (engines' exp differ in the last ulp;
  * feeding it an already-rounded double keeps the 6dp-rounded
  * probability stable — the log2-prerounding discipline).
  */
object QualityClassifier {

  /** Trained model: `weights` over the dim hash-embedding buckets,
    * plus the intercept. */
  final case class LogitModel(weights: Array[Double], bias: Double)

  /** Deterministic weak-label training frame: (embedding, rule_keep,
    * mean_nll) for a seeded hash-ordered sample of `sampleN` documents.
    * One Spark action; the unigram model aggregates over the FULL
    * corpus (it is corpus-global by definition), the sample bounds only
    * what the driver holds. */
  private def trainingSample(docs: DataFrame, dim: Int, sampleN: Int,
                             seed: Long): Array[(Array[Float], Int, Double)] = {
    val emb = Similarity.hashEmbedDocs(docs, dim)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val rules = docs.select(col("doc_id"),
      TextAnalysis.qualityKeepExpr().cast("int").as("rule_keep"))
    val lm = TextAnalysis.unigramScores(docs)
      .select(col("doc_id"), col("mean_nll"))
    BoundedFold.sample(emb.join(rules, "doc_id").join(lm, "doc_id"), "doc_id", sampleN, seed)
      .select(col("embedding"), col("rule_keep"), col("mean_nll"))
      .collect()
      .map(r => (r.getSeq[Float](0).toArray, r.getInt(1), r.getDouble(2)))
  }

  /** Train the logistic quality model on weak agreement labels.
    * Full-batch gradient descent, fixed step and iteration count —
    * deterministic to the bit. Label 1 = rule-keep AND mean NLL at or
    * below the sample median (fluent by both signals); label 0 =
    * rule-drop AND above-median NLL; disagreement rows are excluded.
    * Degenerate corpora fall back gracefully: an empty agreement set
    * labels by the rule verdict alone; a single-class set still trains
    * (GD drives the bias toward that class and stays bounded under the
    * fixed iteration budget). */
  def train(docs: DataFrame, dim: Int = 64, sampleN: Int = 8192,
            iters: Int = 200, lr: Double = 0.5,
            seed: Long = 42L): LogitModel = {
    val sample = trainingSample(docs, dim, sampleN, seed)
    require(sample.nonEmpty,
      "QualityClassifier.train: documents input is empty — nothing to train on")
    // sample median (lower interpolation — an actual data element)
    val nlls = sample.map(_._3).sorted
    val med = nlls((nlls.length - 1) / 2)
    val agree = sample.collect {
      case (v, 1, nll) if nll <= med => (v, 1.0)
      case (v, 0, nll) if nll > med  => (v, 0.0)
    }
    val labeled: Array[(Array[Float], Double)] =
      if (agree.nonEmpty) agree
      else sample.map { case (v, rk, _) => (v, rk.toDouble) }
    fit(labeled.map(_._1), labeled.map(_._2), iters, lr)
  }

  /** Binary logistic regression of labels `ys` (0.0 / 1.0) on rows
    * `xs` by full-batch gradient descent from zero weights: fixed step
    * `lr` and `iters` iterations, so the same rows give bit-identical
    * weights. [[LangIdModel.train]] runs it once per class. */
  private[operators] def fit(xs: Array[Array[Float]], ys: Array[Double],
                             iters: Int, lr: Double): LogitModel = {
    val d = xs.head.length
    val w = new Array[Double](d)
    var b = 0.0
    val n = xs.length
    var it = 0
    while (it < iters) {
      val gw = new Array[Double](d)
      var gb = 0.0
      var r = 0
      while (r < n) {
        val v = xs(r)
        var z = b
        var i = 0
        while (i < d) { z += v(i).toDouble * w(i); i += 1 }
        val p = 1.0 / (1.0 + math.exp(-z))
        val g = p - ys(r)
        i = 0
        while (i < d) { gw(i) += g * v(i).toDouble; i += 1 }
        gb += g
        r += 1
      }
      var i = 0
      while (i < d) { w(i) -= lr * gw(i) / n; i += 1 }
      b -= lr * gb / n
      it += 1
    }
    LogitModel(w, b)
  }

  /** Score every document with a trained model — (doc_id, score,
    * prob, keep_pred): the 6dp linear score, the 6dp sigmoid of that
    * ROUNDED score, and the keep verdict (score > 0 ⟺ p > 0.5).
    * Pure scan-local codegen'd projection; the corpus scan is the
    * entire cost at any scale. */
  def score(docs: DataFrame, model: LogitModel, dim: Int = 64): DataFrame = {
    val s6 = rnd(
      GraftFunctions.logitDot(
        GraftFunctions.hashEmbed(TextAnalysis.tokens(col("text")), dim),
        model.weights) + lit(model.bias), 6)
    docs
      .select(col("doc_id"), s6.as("score"))
      .select(
        col("doc_id"),
        col("score"),
        rnd(lit(1.0) / (lit(1.0) + exp(-col("score"))), 6).as("prob"),
        (col("score") > 0).cast("long").as("keep_pred"))
      .orderBy("doc_id")
  }

  /** Predicate form of the model verdict ([[TextAnalysis
    * .qualityKeepExpr]]'s shape) — the column a curation stage filters
    * on without the report projection. */
  def keepExpr(model: LogitModel, dim: Int = 64)
      : org.apache.spark.sql.Column =
    rnd(GraftFunctions.logitDot(
      GraftFunctions.hashEmbed(TextAnalysis.tokens(col("text")), dim),
      model.weights) + lit(model.bias), 6) > 0

  /** Train + score in one call (the q_quality_classifier query body).
    * Training is memoized per (session, sfDir) via [[trainedModel]] so
    * repeated evaluation (Verify + the oracle builder + contract
    * specs) pays the sample job once per corpus. */
  def classify(spark: SparkSession, docs: DataFrame, dir: String,
               dim: Int = 64): DataFrame =
    score(docs, trainedModel(spark, docs, dir, dim), dim)

  /** Memoized trained model: deterministic training means any rebuild
    * is bit-identical, the memo only saves the sample job. The key
    * includes the analyzed plan's semanticHash of `docs` (r19): a
    * filtered slice or a rewritten table under the same dir trains
    * its own model instead of silently scoring against the first
    * call's. */
  private val modelMemo = new SessionMemo[(String, Int, Int), LogitModel]

  def trainedModel(spark: SparkSession, docs: DataFrame, dir: String,
                   dim: Int = 64): LogitModel =
    modelMemo(spark, (dir, dim, docs.queryExecution.analyzed.semanticHash()))(
      train(docs, dim))

  /** Test hook: drop the model memo (for suites that rewrite a table
    * dir within one session). */
  private[graft] def invalidate(): Unit = modelMemo.clear()
}

/** Per-session memo of trained models ([[QualityClassifier]],
  * [[LangIdModel]]). Sessions are WEAK keys, so a stopped session's
  * models unpin with it, and a session's map clears past `cap`
  * entries, so a long-lived JVM scoring many distinct plan shapes
  * re-trains (deterministic, bit-identical) instead of accumulating
  * models forever. */
private[operators] final class SessionMemo[K, V](cap: Int = 32) {
  private val bySession = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[K, V]]()

  def apply(spark: SparkSession, key: K)(build: => V): V = {
    // WeakHashMap is not thread-safe: outer access synchronizes on it
    val inner = bySession.synchronized(bySession.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[K, V]()))
    if (inner.size > cap) inner.clear()
    inner.computeIfAbsent(key, _ => build)
  }

  def clear(): Unit = bySession.synchronized(bySession.clear())
}
