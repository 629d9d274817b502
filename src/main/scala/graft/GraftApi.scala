package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.spark.ml.PipelineModel

import graft.ml.{FeaturePrep, Inference, ModelRegistry, Models, TemporalSplit}
import graft.operators._
import graft.sources.Tables

/** Migration facade: the reference pipeline's public API, name for
  * name, over the graft operators — a user of
  * Cabe22/weather-data-pipeline can switch by swapping the class for
  * this object and keeping their call sites.
  *
  * | reference | here |
  * | WeatherDataProcessor.load_data(start, end)        | loadData |
  * | WeatherDataProcessor.create_time_features         | createTimeFeatures |
  * | WeatherDataProcessor.create_lag_features          | createLagFeatures (lags + rolling) |
  * | WeatherDataProcessor.create_weather_indices       | createWeatherIndices |
  * | WeatherDataProcessor.create_interaction_features  | createInteractionFeatures |
  * | WeatherDataProcessor.create_target_variable       | createTargetVariable |
  * | WeatherDataProcessor.handle_missing_values        | handleMissingValues |
  * | WeatherDataProcessor.encode_categorical_variables | encodeCategorical |
  * | WeatherDataProcessor.scale_features               | scaleFeatures |
  * | WeatherDataProcessor.process_pipeline             | processPipeline |
  * | WeatherDataProcessor.run_quality_checks           | runQualityChecks |
  * | WeatherPredictor.prepare_features                 | prepareFeatures |
  * | WeatherPredictor.train_temperature_models         | trainModels |
  * | WeatherPredictor (temporal split / CV)            | temporalSplit / walkForward |
  * | dashboard key metrics / latest per city           | keyMetrics / latestPerEntity |
  */
object GraftApi {

  def loadData(spark: SparkSession, dir: String,
               start: String, end: String): DataFrame =
    Analytics.loadTimerange(Tables.eventsRaw(spark, dir), start, end)

  def createTimeFeatures(events: DataFrame): DataFrame = TimeSeries.timeFeatures(events)
  def createLagFeatures(events: DataFrame): DataFrame = TimeSeries.lagFeatures(events)
  def createRollingStats(events: DataFrame): DataFrame = TimeSeries.rollingStats(events)
  def createWeatherIndices(weather: DataFrame): DataFrame = TimeSeries.weatherIndices(weather)
  def createInteractionFeatures(weather: DataFrame): DataFrame = TimeSeries.interactions(weather)
  def createTargetVariable(events: DataFrame): DataFrame = TimeSeries.targets(events)
  def processPipeline(events: DataFrame): DataFrame = TimeSeries.featurePipeline(events)

  /** ffill(limit 3) like the reference's numeric path; see
    * MissingValues for interpolation and categorical mode fill. */
  def handleMissingValues(events: DataFrame): DataFrame = MissingValues.ffill(events)
  def encodeCategorical(events: DataFrame): DataFrame = Encoders.labelEncode(events)
  def scaleFeatures(events: DataFrame): DataFrame = Encoders.standardScale(events)

  /** run_quality_checks' dict shape: each check with its own schema. */
  def runQualityChecks(events: DataFrame, weather: DataFrame, masked: DataFrame)
      : Map[String, DataFrame] = Map(
    "duplicates"   -> Quality.duplicateKeys(events),
    "missing_data" -> Quality.missingProfile(masked),
    "range_check"  -> Quality.rangeCheck(weather),
    "high_null"    -> Quality.highNullRows(masked))

  /** data_quality_report.py's combined report as ONE persistable
    * long-format frame; write with [[graft.operators.Quality.writeReport]]. */
  def qualityReport(events: DataFrame, weather: DataFrame, masked: DataFrame): DataFrame =
    Quality.report(events, weather, masked)

  def prepareFeatures(df: DataFrame, keyCols: Seq[String],
                      featureCols: Seq[String]): DataFrame =
    FeaturePrep.prepare(df, keyCols, featureCols)

  def temporalSplit(df: DataFrame): (DataFrame, DataFrame) = TemporalSplit.split(df)
  def walkForward(df: DataFrame, k: Int): Seq[(DataFrame, DataFrame)] =
    TemporalSplit.walkForward(df, k = k)
  def trainModels(train: DataFrame, test: DataFrame)
      : Seq[(String, org.apache.spark.ml.PredictionModel[_, _], Map[String, Double])] =
    Models.trainAll(train, test)

  def keyMetrics(events: DataFrame): DataFrame = Analytics.metrics(events)
  def latestPerEntity(events: DataFrame): DataFrame = Analytics.latestPerKey(events)

  /** Train the scoring pipeline on the engineered features of `events`
    * and register it as the next version of `name`
    * (WeatherPredictor.train + save_models). The registered entry
    * records the holdout metrics (mse/rmse/mae/r2 on the
    * chronological test tail) AND, with `cvFolds` > 0, walk-forward
    * cross-validation metrics (`cv_<m>` mean / `cv_<m>_std` across
    * expanding-window folds, weather_predictor.py:107-172) — a model
    * picked from the registry by holdout alone can be a lucky split;
    * the CV columns are what version comparison should read. Returns
    * (version, all recorded metrics). */
  def trainAndRegister(events: DataFrame, registry: ModelRegistry,
                       name: String = "temperature",
                       cvFolds: Int = 3): (Int, Map[String, Double]) = {
    val engineered = TimeSeries.featurePipeline(events, passthrough = Seq("ts"))
    val (model, holdout) = Inference.train(engineered)
    val cv =
      if (cvFolds > 0)
        Inference.walkForwardCvMetrics(Inference.labeled(engineered), cvFolds)
      else Map.empty[String, Double]
    val metrics = holdout ++ cv
    (registry.register(name, model, metrics), metrics)
  }

  /** Batch inference (WeatherPredictor.predict +
    * dashboard.predict_temperature): load the LATEST registered version
    * of `name`, engineer features for the newest row of every entity,
    * and emit (entity, current_value, predicted_value,
    * predicted_change). The loaded PipelineModel carries the
    * train-time scaler, so fresh rows are scaled exactly as the
    * training data was. */
  def predict(events: DataFrame, registry: ModelRegistry,
              name: String = "temperature"): DataFrame = {
    val engineered = TimeSeries.featurePipeline(events, passthrough = Seq("ts"))
    val model = registry.load(name, PipelineModel)
    Inference.predictLatest(engineered, model)
  }

  /** End-to-end corpus curation — the LLM-training-data analog of
    * [[processPipeline]], composing the §2H operators into the
    * standard pre-training cleanup in the standard order:
    *
    *  0. markup strip (tags/entities/whitespace — quality metrics and
    *     dedup hashes must see the text a model would train on, not
    *     extraction residue; a pure projection fused into the scan),
    *  1. quality-rule filter (drop degenerate documents FIRST — no
    *     point fingerprinting what a length rule removes),
    *  1b. optional MODEL-based quality gate (`qualityModel =
    *     Some(m)`): a trained [[graft.operators.QualityClassifier]]
    *     verdict applied scan-locally after the rule filter — the
    *     DCLM/fineweb-edu classifier axis, with its own manifest row,
    *  2. exact dedup keeping the highest-quality copy per content,
    *  2b. optional eval-set decontamination (`benchmark = Some(df)`):
    *     documents sharing ≥ `decontamMinShared` distinct n-gram
    *     shingles with the benchmark are dropped
    *     ([[graft.operators.Dedup.decontaminate]] — guarded-broadcast
    *     semi-join; the corpus side never shuffles). Runs after exact
    *     dedup (no point shingling copies a hash rule removes) and
    *     before near-dup so contaminated docs can't become a cluster's
    *     surviving canonical,
    *  3. near-dup removal: MinHash+LSH pairs → connected components,
    *     keep each cluster's canonical (minimum-id) member,
    *  3b. optional repeated-SPAN cut (`spanDedupK = Some(k)`):
    *     boilerplate runs of ≥ k tokens shared across surviving
    *     documents are excised ([[graft.operators.TextAnalysis.cutSpans]])
    *     — the substring-granularity dedup that document-level stages
    *     2-3 cannot see; runs after them so spans repeated only among
    *     dropped duplicates don't trigger cuts,
    *  4. PII redaction of the surviving text,
    *  5. optional per-source quota sampling (data mixing).
    *
    * Handoff discipline (r16): stages whose verdict is a pure function
    * of the row (quality rules, blocklist, model gate, redaction) are
    * scan-local filters/projections — no join at all; only stages whose
    * keep set is the product of an AGGREGATION over other rows (exact
    * dedup's per-content winner, near-dup components, decontamination,
    * sampling quotas) hand off through a doc_id semi-join
    * (hash-partitioned at scale; the keeper sets are small and
    * broadcast locally). The full text column never travels through a
    * shuffle. Returns (doc_id, source, text) with text redacted.
    *
    * CONVENIENCE WRAPPER: forces [[CorpusCuration.frame]] immediately,
    * so calling it runs the near-dup resolution jobs — treat a call as
    * an action. For composition into larger pipelines (and for a cache
    * scope you can release without touching other pipelines' caches)
    * use [[curatePlan]]. */
  def curateCorpus(docs: DataFrame, perSource: Int = Int.MaxValue,
                   spanDedupK: Option[Int] = None,
                   benchmark: Option[DataFrame] = None,
                   decontamMinShared: Int = 3,
                   mix: Option[MixStage] = None,
                   blocklist: Seq[String] = Nil,
                   decontam: Option[DecontamStage] = None,
                   qualityModel: Option[QualityClassifier.LogitModel] = None,
                   semanticDedupTau: Option[Double] = None,
                   semanticDedupK: Int = 16)
      : DataFrame =
    curatePlan(docs, perSource, spanDedupK, benchmark, decontamMinShared,
      mix, blocklist, decontam, qualityModel, semanticDedupTau,
      semanticDedupK).frame

  /** Build the corpus-curation unit of work WITHOUT running any Spark
    * job: a pure plan-construction call returning the composed frame
    * (behind `lazy val frame`) plus the cache scope the pipeline's
    * internal persists register under. The one inherently-eager stage —
    * near-dup connected components, iterative by nature (its round
    * count depends on the data, so it cannot be a static Catalyst
    * plan without unrolling an exponential-lineage join tree) — runs
    * at FIRST ACCESS of `frame`, not at construction, so composing a
    * curation into a larger program has no surprise side effects at
    * build time and the caller decides when the resolution cost lands. */
  def curatePlan(docs: DataFrame, perSource: Int = Int.MaxValue,
                 spanDedupK: Option[Int] = None,
                 benchmark: Option[DataFrame] = None,
                 decontamMinShared: Int = 3,
                 mix: Option[MixStage] = None,
                 blocklist: Seq[String] = Nil,
                 decontam: Option[DecontamStage] = None,
                 qualityModel: Option[QualityClassifier.LogitModel] = None,
                 semanticDedupTau: Option[Double] = None,
                 semanticDedupK: Int = 16)
      : CorpusCuration = {
    val scope = Caches.newScope("curate")
    new CorpusCuration(scope, () => Caches.in(scope) {
      import org.apache.spark.sql.functions.col
      val stages = Seq.newBuilder[(String, DataFrame)]
      stages += ("input" -> docs)
      // Raise an under-partitioned input BEFORE the regex-heavy scans
      // (r17): a gate-scale corpus arrives as ONE parquet row group =
      // one scan partition, which serializes the markup-strip +
      // quality regexes onto a single core (measured 1.27 s of the
      // sf0.1 wall). spreadToCores repartitions ONLY when the input
      // is smaller than cores x maxPartitionBytes — at lake scale the
      // scan is already wide and this is a no-op, so the shape stays
      // production-safe. Values are partition-independent (every
      // downstream winner/rank is explicitly tie-broken).
      val spread = operators.spreadToCores(docs)
      // Stage outputs that feed MULTIPLE downstream branches persist via
      // the cache registry under THIS curation's scope (released by
      // CorpusCuration.release, or globally by releaseCaches) — without
      // this, each handoff self-join would re-run the full upstream
      // lineage (the regex passes twice, the quality scoring three times).
      // fenced: the quality filter below reads the cleaned text in
      // ~10 places, and without the fence Catalyst substitutes the
      // whole cleanMarkup regex chain into every one of them (a
      // FilterExec has no common-subexpression elimination) — the
      // chain runs once per row here instead
      val cleaned = operators.fence(
        spread.withColumn("text", TextAnalysis.cleanMarkup(col("text"))))
      stages += ("strip_markup" -> cleaned)
      // the rule gate is a pure PREDICATE over the row (qualityKeepExpr
      // == qualityFilter's keep bit) — filtering in place keeps the
      // stage scan-local; the r15 form joined the report's keep set
      // back on doc_id, a whole broadcast-join stage (and its Catalyst
      // depth, re-analyzed by every downstream action) to re-derive a
      // column that never left the row. The keep bit is PROJECTED
      // behind a fence, then filtered on: a projection shares the
      // token kernel across its conjuncts (subexpression elimination),
      // where a Filter would tokenize the text ~7 times per row — and
      // the stage's cost then swings with how soon the JIT compiles
      // those kernels (same input, 4-core host: task CPU 0.7-1.5 s
      // inline, 0.5-0.7 s projected)
      val afterQuality = Caches.persistTracked(
        operators.fence(cleaned.withColumn("_keep", TextAnalysis.qualityKeepExpr()))
          .filter(col("_keep")).drop("_keep"))
      stages += ("quality_filter" -> afterQuality)
      // optional C4-style kill-list: a pure filter over the cached
      // quality survivors (single consumer — no persist needed)
      val afterBlocklist =
        if (blocklist.isEmpty) afterQuality
        else {
          val kept = afterQuality.filter(TextAnalysis.blocklistKeepExpr(blocklist))
          stages += ("blocklist_filter" -> kept)
          kept
        }
      // optional model-BASED quality gate (the DCLM/fineweb-edu axis):
      // a trained LogitModel's verdict over the cleaned text — a pure
      // scan-local codegen'd filter like the blocklist (the weights
      // ride inside the expression; no join, no shuffle). PERSISTED,
      // unlike the cheap rule predicates: the stage output feeds both
      // the keep-best aggregate and its join-back, and re-evaluating
      // the filter would re-run the per-row model scoring (tokenize +
      // hashEmbed + logitDot) once per consumer. Runs AFTER the rule
      // filter (the model refines what rules admit) with its own
      // manifest row.
      val afterClassifier = qualityModel match {
        case Some(m) =>
          val kept = Caches.persistTracked(
            afterBlocklist.filter(QualityClassifier.keepExpr(m)))
          stages += ("quality_classifier" -> kept)
          kept
        case None => afterBlocklist
      }
      val exactKeep = TextAnalysis.dedupKeepBest(afterClassifier)
        .select(col("keep_id").as("doc_id"))
      val afterExact = Caches.persistTracked(afterClassifier.join(exactKeep, "doc_id"))
      stages += ("exact_dedup" -> afterExact)
      // optional eval-set decontamination: a filtering stage like the
      // dedups — its flag set comes from the selected family member
      // (exact global shingles | per-item containment | embedding
      // space); in every form the benchmark is the broadcast side and
      // the corpus side never shuffles its text
      val afterDecontam = benchmark match {
        case Some(bench) =>
          val stage = decontam.getOrElse(DecontamStage.Exact(decontamMinShared))
          val (label, kept0) = stage match {
            case DecontamStage.Exact(minShared) =>
              // TIERED (r18): a benchmark whose plan stats bound its
              // shingle set under the broadcast cap decontaminates as
              // a SCAN-LOCAL predicate — [[Dedup.benchmarkShingles]]
              // (one bounded collect) + [[Dedup.decontaminateKeepExpr]]
              // (codegen'd distinct-hit count vs the folded set),
              // semantics == decontaminate's contaminated==0 exactly
              // (the streaming curationGate's pinned contract). The
              // join/agg/anti-join chain this replaces was +12 AQE
              // stage-jobs (~1.9 s) of the composed pipeline's
              // gate-scale wall (r18 decomposition of q_curate) while
              // filtering 4750 docs against 500. Past the cap the
              // join form stands — [[Dedup.fitsShingleBroadcast]] is
              // the SAME stats tier decontaminate itself uses, so
              // the two sites cannot drift and the 100 TB posture
              // is unchanged. The stats tier is an ESTIMATE: if the
              // actual distinct set still blows the cap (filter
              // selectivity under-estimated near the boundary), the
              // bounded collect's own require fires — degrade to the
              // join form, which is decontaminate's OWN fallback past
              // the cap, instead of failing the whole plan (r18
              // advice).
              val scanLocal =
                if (!Dedup.fitsShingleBroadcast(bench)) None
                else
                  try Some(afterExact.filter(Dedup.decontaminateKeepExpr(
                    Dedup.benchmarkShingles(bench), minShared = minShared)))
                  catch {
                    case e: IllegalArgumentException
                        if e.getMessage != null &&
                          e.getMessage.contains("maxShingles") => None
                  }
              ("decontaminate", scanLocal.getOrElse(
                afterExact.join(
                  Dedup.decontaminate(afterExact, bench, minShared = minShared)
                    .filter(col("contaminated") === 1L).select("doc_id"),
                  Seq("doc_id"), "left_anti")))
            case DecontamStage.Fuzzy(tau) =>
              ("decontaminate_fuzzy",
                afterExact.join(
                  Dedup.decontaminateFuzzy(afterExact, bench, tau = tau)
                    .filter(col("contaminated") === 1L).select("doc_id"),
                  Seq("doc_id"), "left_anti"))
            case DecontamStage.Semantic(tau, embed) =>
              ("decontaminate_semantic",
                afterExact.join(
                  Similarity.semanticDecontaminate(
                      embed(afterExact), embed(bench), tau)
                    .filter(col("contaminated") === 1L)
                    .select(col("vec_id").as("doc_id")),
                  Seq("doc_id"), "left_anti"))
          }
          val kept = Caches.persistTracked(kept0)
          stages += (label -> kept)
          kept
        case None => afterExact
      }
      // near-dup clusters: survivors are each cluster's canonical member
      // plus every unpaired document (raw pair form — the component
      // resolution is edge-order-independent, so the pairs' presentation
      // sort would be a discarded range exchange)
      val clusters = Dedup.nearDupClusters(Dedup.minhashPairsRaw(afterDecontam))
      val nearDupDrop = clusters.filter(col("doc_id") =!= col("cluster_id"))
        .select("doc_id")
      // the near-dup handoff ALWAYS has two consumers (redactPii input
      // + the redaction join-back; three with the span stage's interval
      // mining) — persist it under this scope so the anti-join lineage
      // does not re-run per consumer
      val survivors = Caches.persistTracked(
        afterDecontam.join(nearDupDrop, Seq("doc_id"), "left_anti"))
      stages += ("near_dup" -> survivors)
      // optional SEMANTIC near-dup removal (r19, the SemDeDup axis as
      // a pipeline stage): the minhash stage above catches LEXICAL
      // near-dups (shared shingles); this one catches paraphrases —
      // hash-embed the survivors scan-locally (no external model, the
      // ClusterBalanced mix's bridge), resolve embedding near-dups
      // within the trained quantizer's clusters
      // ([[graft.operators.Similarity.semDedup]] — keep-min-id, the
      // same rule as the other dedup families), and semi-join the
      // surviving ids back — the standard aggregation-stage handoff.
      // Runs AFTER the lexical stage (no point embedding documents a
      // shingle rule removes) with its own manifest row. At 100 TB
      // size `semanticDedupK` by the k ≈ √N rule (see semDedup's
      // scaladoc); the default 16 fits the test corpora.
      val afterSemantic = semanticDedupTau match {
        case Some(tau) if survivors.isEmpty =>
          // a fully-filtered corpus has nothing to resolve; skipping
          // keeps the pipeline total (semDedup's own quantizer would
          // otherwise refuse an empty training input — correct for
          // the standalone operator, wrong as a pipeline crash). The
          // isEmpty action reads the survivors cache the downstream
          // stages materialize anyway, and this closure is already
          // eager (near-dup resolution above runs jobs).
          stages += ("semantic_dedup" -> survivors)
          survivors
        case Some(tau) =>
          val keep = Similarity
            .semDedup(Similarity.hashEmbedDocs(survivors),
              tau = tau, k = semanticDedupK)
            .select(col("vec_id").as("doc_id"))
          val kept = Caches.persistTracked(survivors.join(keep, Seq("doc_id")))
          stages += ("semantic_dedup" -> kept)
          kept
        case None => survivors
      }
      val afterNearDup = spanDedupK match {
        case Some(sk) =>
          val cut = TextAnalysis.cutSpans(afterSemantic, k = sk)
          stages += ("span_dedup" -> cut)
          cut
        case None => afterSemantic
      }
      // redaction is a pure function of the row — project it in place
      // ([[TextAnalysis.redactTextExpr]]); the r15 form joined
      // redactPii's report back on doc_id, a broadcast stage whose only
      // product was re-attaching a derivable column
      val redacted = afterNearDup.select(col("doc_id"), col("source"),
        TextAnalysis.redactTextExpr(col("text")).as("text"))
      stages += ("redact_pii" -> redacted)
      // legacy perSource parameter maps onto the generalized mix stage
      val mixStage = mix.orElse(
        if (perSource == Int.MaxValue) None else Some(MixStage.PerSource(perSource)))
      val out = mixStage match {
        case None => redacted.orderBy("doc_id")
        case Some(m) =>
          // the sampling branch consumes `redacted` twice (rank + output)
          val r = Caches.persistTracked(redacted)
          val (label, keepIds) = m match {
            case MixStage.PerSource(q) =>
              ("stratified_sample",
                TextAnalysis.stratifiedSample(r, q).select("doc_id"))
            case MixStage.Temperature(budget, keyCol, alpha) =>
              ("mix_temperature",
                TextAnalysis.mixTemperature(r, keyCol, budget, alpha).select("doc_id"))
            case MixStage.TokenWeighted(k) =>
              ("weighted_sample",
                TextAnalysis.weightedSampleByTokens(r, k).select("doc_id"))
            case MixStage.ClusterBalanced(q, k, dim) =>
              // topic-cap the curated text itself: hash-embed the
              // survivors (scan-local, no external model), train the
              // seeded quantizer ONCE ([[Similarity.trainedQuantizer]])
              // and hand the centroid array to the quota assignment —
              // one training-sample job per curation run, and the same
              // array can be reused for a per-topic datasheet
              // (clusterEmbed/clusterStats with `centroids = Some(...)`)
              // without retraining
              val embedded = Similarity.hashEmbedDocs(r, dim)
              val cents = Similarity.trainedQuantizer(embedded, k)
              ("mix_cluster",
                Similarity.mixByCluster(embedded, q, k, centroids = Some(cents))
                  .select(col("vec_id").as("doc_id")))
            case MixStage.DsirSelect(k, target, nb) =>
              ("dsir_select",
                TextAnalysis.dsirSelect(r, target, k, nb).select("doc_id"))
          }
          val sampled = r.join(keepIds, "doc_id")
          stages += (label -> sampled)
          sampled.orderBy("doc_id")
      }
      (out, stages.result())
    })
  }

  /** Release every NON-PINNED operator-internal cache registered
    * during query construction, across ALL scopes (see
    * [[graft.operators.Caches]]) — the whole-session drain for callers
    * that own the process; a pipeline sharing a session with others
    * should release its own [[graft.operators.Caches.Scope]] instead
    * ([[CorpusCuration.release]] does). Quarantine caches
    * ([[graft.sources.Formats.quarantine]]) are PINNED and survive this
    * call because their corrupt-rows branch cannot recompute from
    * source; release them with [[releasePinnedCaches]] once both
    * quarantine branches have landed — a long-lived ingest loop that
    * quarantines per batch MUST pair each batch with a
    * releasePinnedCaches() (or scope each batch and release that scope)
    * or pinned blocks accumulate. */
  def releaseCaches(): Unit = Caches.releaseAll()

  /** Release the pinned quarantine caches (see [[releaseCaches]]). */
  def releasePinnedCaches(): Unit = Caches.releasePinned()
}

/** Which deterministic sampler closes a [[GraftApi.curatePlan]]
  * pipeline as its final data-mixing stage. All three reuse the
  * Knuth-salt machinery in [[graft.operators.TextAnalysis]], so the
  * kept set is reproducible across engines and runs. */
sealed trait MixStage
object MixStage {
  /** Fixed per-source quota ([[graft.operators.TextAnalysis.stratifiedSample]]). */
  final case class PerSource(quota: Int) extends MixStage
  /** n^α-proportional budget over `keyCol`
    * ([[graft.operators.TextAnalysis.mixTemperature]]); keyCol must
    * survive curation's (doc_id, source, text) projection. */
  final case class Temperature(budget: Long, keyCol: String = "source",
                               alpha: Double = 0.5) extends MixStage
  /** Token-count-weighted A-ES top-k
    * ([[graft.operators.TextAnalysis.weightedSampleByTokens]]) —
    * a total token budget rather than per-stratum quotas. */
  final case class TokenWeighted(k: Int) extends MixStage
  /** Topic-balanced quota over k-means clusters of the survivors'
    * hashing-trick embeddings ([[graft.operators.Similarity
    * .mixByCluster]] ∘ [[graft.operators.Similarity.hashEmbedDocs]]) —
    * caps every TOPIC at the same budget where [[PerSource]] caps
    * every provenance label; needs no external model and no
    * pre-existing embedding column. */
  final case class ClusterBalanced(quota: Int, k: Int = 16,
                                   dim: Int = 64) extends MixStage
  /** DSIR importance resampling toward a TARGET domain
    * ([[graft.operators.TextAnalysis.dsirSelect]]): keep the k
    * survivors sampled without replacement proportional to
    * exp(pooled-n-gram log-likelihood ratio vs `target`) — the
    * curriculum-shaping mix (tilt the curated corpus toward a curated
    * seed / benchmark domain) where the other stages cap counts. */
  final case class DsirSelect(k: Int, target: DataFrame,
                              nBuckets: Int = 4096) extends MixStage
}

/** Which member of the decontamination family a
  * [[GraftApi.curatePlan]] pipeline runs against its `benchmark`
  * frame. The three catch successively fuzzier leakage at
  * successively higher cost, and a manifest row is emitted under the
  * member's own stage label so the run's provenance records WHICH
  * definition of "contaminated" filtered the corpus:
  *
  *  - [[DecontamStage.Exact]] — ≥ `minShared` distinct n-gram
  *    shingles shared with the benchmark AS A WHOLE
  *    ([[graft.operators.Dedup.decontaminate]]); catches verbatim
  *    inclusions, cheapest (one semi-join on shingle hashes).
  *  - [[DecontamStage.Fuzzy]] — per-ITEM shingle containment ≥ `tau`
  *    ([[graft.operators.Dedup.decontaminateFuzzy]]); catches a doc
  *    that swallowed one short eval item even when its global shared
  *    count stays under Exact's radar, and partial paraphrases that
  *    keep ≥ tau of an item's n-grams.
  *  - [[DecontamStage.Semantic]] — embedding cosine vs the best
  *    benchmark item ≥ `tau`
  *    ([[graft.operators.Similarity.semanticDecontaminate]]);
  *    catches rewordings sharing NO n-grams at all. `embed` maps a
  *    (doc_id, text) frame to (vec_id, embedding) and is applied to
  *    both sides — the default is the model-free
  *    [[graft.operators.Similarity.hashEmbedDocs]] hashing-trick
  *    embedder; swap in a real encoder's output for semantic-model
  *    fidelity.
  *
  * Benchmark schema: Exact reads only `text`; Fuzzy and Semantic
  * also need a `doc_id` (the per-item identity their scores key on). */
sealed trait DecontamStage
object DecontamStage {
  final case class Exact(minShared: Int = 3) extends DecontamStage
  final case class Fuzzy(tau: Double = 0.8) extends DecontamStage
  final case class Semantic(tau: Double = 0.9,
      embed: DataFrame => DataFrame = Similarity.hashEmbedDocs(_))
    extends DecontamStage
}

/** A corpus-curation unit of work ([[GraftApi.curatePlan]]): the
  * composed output frame plus the cache [[graft.operators.Caches.Scope]]
  * its internal persists register under.
  *
  * Constructing a CorpusCuration runs ZERO Spark jobs. The first access
  * of [[frame]] resolves the near-dup clusters (iterative — runs Spark
  * jobs) and memoizes the composed plan; downstream transformations on
  * the returned frame stay lazy as usual. Call [[release]] after the
  * terminal action — it drains only THIS curation's caches, so two
  * pipelines interleaved in one session cannot evict each other's. */
final class CorpusCuration private[graft] (
    val scope: graft.operators.Caches.Scope,
    build: () => (DataFrame, Seq[(String, DataFrame)])) {

  private lazy val built: (DataFrame, Seq[(String, DataFrame)]) = build()

  /** The curated (doc_id, source, text) frame; first access runs the
    * cluster-resolution jobs. */
  lazy val frame: DataFrame = built._1

  /** The ordered per-stage output frames backing [[manifest]] —
    * programmatic access to each stage's survivors for audits that
    * need more than the counts (e.g. diffing what a stage dropped).
    * Lazy like [[frame]]: first access resolves near-dup clusters. */
  def stageFrames: Seq[(String, DataFrame)] = built._2

  /** The per-stage attrition datasheet — the corpus_stats analog for
    * the pipeline itself, what a real curation run publishes beside
    * its output: one row per stage in order with the document count
    * entering and leaving it and the drop it caused. Stages that
    * rewrite text without dropping documents (markup strip, span cut,
    * redaction) show docs_dropped 0 — their presence in the datasheet
    * is the point (the run's full provenance, not just its filters).
    *
    * Lazy like [[frame]] (first access resolves near-dup clusters).
    * What the counting costs: the filtering handoffs (quality, exact,
    * near-dup, sample) count their scope-cached frames; the
    * text-rewriting stages' counts prune the rewrite projection away
    * entirely (Catalyst column pruning — counting `strip_markup`
    * never runs the regexes), leaving a row-count of the same cached
    * upstream or the raw scan. The counts MEASURE each stage rather
    * than deriving "rewriters drop nothing" arithmetically — a stage
    * that starts dropping rows by accident (a join that stops being
    * count-preserving) shows up here, which is the audit value.
    * IntegrationSpec pins the reconciliation invariants: chained
    * docs_in/docs_out, input row = source count, last row = output
    * count.
    *
    * r17, the job-floor cut: the union-of-counts collects in ONE
    * non-adaptive action and the result materializes as a local
    * relation. Under AQE every per-stage count exchange is its own
    * stage-job — a stage-count of serialized job round-trips for nine
    * 1-row aggregates; with AQE off for just this bounded collect the
    * scheduler runs the whole union as one job whose branches execute
    * concurrently. (An Observation/CollectMetrics manifest was
    * prototyped first and measured faster still, but AQE misreports
    * main-lineage CollectMetrics values — a metric above a replanned
    * join read 0 rows in one probe and inflated counts in the full
    * pipeline — so the counts stay real aggregates.) AQE loses
    * nothing here: every input is either a scope cache or a pruned
    * count-only scan, and the output is `stages` rows. The AQE-off
    * override is scoped to a throwaway session CLONE
    * ([[org.apache.spark.sql.graftbridge.Bridge.withSessionConfs]]),
    * so concurrent queries on the caller's session are untouched —
    * the clone shares the CacheManager and re-reads the warm scope
    * caches. */
  lazy val manifest: DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val spark = built._1.sparkSession
    val counts = built._2.zipWithIndex.map { case ((name, df), i) =>
      df.agg(count(lit(1)).as("docs_out"))
        .select(lit(i).as("stage_idx"), lit(name).as("stage"), col("docs_out"))
    }.reduce(_ unionByName _)
    // the window runs over one row per stage — single-partition by
    // construction and bounded by the stage count, not the data
    val prev = Window.orderBy("stage_idx").rowsBetween(-1, -1)
    val plan = counts
      .select(col("stage_idx"), col("stage"),
        coalesce(max("docs_out").over(prev), col("docs_out")).as("docs_in"),
        col("docs_out"))
      .withColumn("docs_dropped", col("docs_in") - col("docs_out"))
      .orderBy("stage_idx")
    // materialize the scope caches UNDER AQE first (the pipeline's
    // own execution wants adaptive sizing); the non-adaptive collect
    // below then only re-reads warm caches and pruned scans. The
    // AQE-off override is scoped to a CLONED session (r18, closing the
    // r17 caveat: the set/restore window on the shared session could
    // silently de-adapt a concurrent query) — the clone shares the
    // CacheManager, so the warm scope caches still hit.
    built._2.last._2.foreach(_ => ())
    val rows = org.apache.spark.sql.graftbridge.Bridge
      .withSessionConfs(plan, Map("spark.sql.adaptive.enabled" -> "false"))
      .collect()
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), plan.schema)
  }

  /** Drop the caches this curation registered (and no others). */
  def release(): Unit = graft.operators.Caches.release(scope)
}
