package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, pmod, when}

import graft.operators._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The composed feature pipeline: every windowed feature of
    * the reference's process_pipeline off a single shuffle. */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.tune(spark)
    TimeSeries.featurePipeline(Tables.events(spark, "/root/testdata/sf0.001"))
  }

  private def ev(s: SparkSession, dir: String): DataFrame = {
    GraftSession.tune(s); Tables.events(s, dir)
  }

  /** Deterministic URL-injection view for q_url_stats (the synthetic
    * corpus carries no URLs — same pattern as maskedView's null
    * injection): every doc gains one URL on a doc_id-derived domain,
    * so extraction, normalization (the www. strip), and the rollup are
    * exercised against a non-vacuous oracle. Mirrored in the oracle
    * SQL's `urldocs` CTE and used by graft.PiiGen so the generative
    * dialect probe sees the same text both engines roll up. */
  private[graft] def urlView(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      concat(col("text"), lit(" https://www.src"),
        pmod(col("doc_id"), lit(7L)).cast("string"),
        lit(".example.com/doc/"), col("doc_id").cast("string")))

  /** Deterministic URL column for q_url_dedup, built so every RAW url
    * is doc-unique (tracking params + fragment carry doc_id) while the
    * CANONICAL key collapses to (doc_id%3, doc_id%5, doc_id%2) — 30
    * groups, so collisions exist at every SF and canonicalization is
    * the only thing that creates them. Each rule of
    * [[graft.operators.TextAnalysis.canonicalizeUrl]] is exercised:
    * scheme/host case, :443 on even ids, trailing slash on %3==0,
    * param order flipped between the branches, utm_/gclid tracking
    * junk, #fragment. Mirrored in the oracle's `urldocs` CTE (pmod
    * spelled `((x % k + k) % k)` — fuzz doc_ids go negative). */
  private[graft] def urlDedupView(docs: DataFrame): DataFrame = {
    val m2 = pmod(col("doc_id"), lit(2L)).cast("string")
    docs.withColumn("url", concat(
      lit("HTTPS://WWW.Src"), pmod(col("doc_id"), lit(3L)).cast("string"),
      lit(".Example.COM"),
      when(pmod(col("doc_id"), lit(2L)) === 0, lit(":443")).otherwise(lit("")),
      lit("/Doc/"), pmod(col("doc_id"), lit(5L)).cast("string"),
      when(pmod(col("doc_id"), lit(3L)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(2L)) === 0,
        concat(lit("?b=2&utm_source=u"), col("doc_id").cast("string"),
          lit("&a=1&id="), m2))
        .otherwise(concat(lit("?a=1&id="), m2,
          lit("&b=2&gclid=g"), col("doc_id").cast("string"))),
      lit("#sec"), col("doc_id").cast("string")))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // E. dashboard analytics + A. ingest
    "q_metrics"        -> ((s, d) => Analytics.metrics(ev(s, d))),
    "q_distribution"   -> ((s, d) => Analytics.distribution(ev(s, d))),
    "q_corr_matrix"    -> ((s, d) => Analytics.corrMatrix(TimeSeries.weatherView(ev(s, d)))),
    "q_group_compare"  -> ((s, d) => Analytics.groupCompare(ev(s, d))),
    "q_latest_per_key" -> ((s, d) => Analytics.latestPerKey(ev(s, d))),
    "q_load_timerange" -> ((s, d) => {
      GraftSession.tune(s)
      Analytics.loadTimerange(Tables.eventsRaw(s, d),
        "2024-01-10 00:00:00", "2024-01-20 00:00:00")
    }),
    "q_json_ingest"    -> ((s, d) => Analytics.jsonIngest(ev(s, d))),
    "q_dedup_key"      -> ((s, d) => Analytics.dedupByKey(ev(s, d))),
    "q_ingest_metrics" -> ((s, d) => Analytics.ingestMetrics(ev(s, d))),
    "q_distinct_sketch" -> ((s, d) =>
      Analytics.distinctSketchRollup(Analytics.distinctSketchDaily(ev(s, d)))),
    // the daily sketch layer's oracle path: exact distincts hash-gated
    // against DuckDB, HLL estimate reduced to a per-day bound boolean
    // the hash CAN gate (see distinctSketchDailyCheck's scaladoc)
    "q_distinct_sketch_check" -> ((s, d) =>
      Analytics.distinctSketchDailyCheck(ev(s, d))),
    "q_validate_ingest" -> ((s, d) => Analytics.validateIngest(ev(s, d))),
    "q_recent_window"  -> ((s, d) => {
      GraftSession.tune(s)
      Analytics.recentWindow(Tables.eventsRaw(s, d), hours = 48)
    }),
    "q_feature_pipeline" -> ((s, d) => TimeSeries.featurePipeline(ev(s, d))),
    "q1_pricing"       -> ((s, d) => Analytics.pricingSummary(Tables.lineitem(s, d))),
    "q_join_enrich"    -> ((s, d) =>
      Analytics.joinEnrich(Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q_topk_revenue"   -> ((s, d) => Analytics.topkRevenue(Tables.lineitem(s, d))),
    "q3_shipping"      -> ((s, d) =>
      Analytics.shippingPriority(Tables.lineitem(s, d), Tables.orders(s, d))),
    "q_brand_volume"   -> ((s, d) =>
      Analytics.brandVolume(Tables.lineitem(s, d), Tables.part(s, d))),
    "q_supplier_stats" -> ((s, d) =>
      Analytics.supplierStats(Tables.supplier(s, d), Tables.nation(s, d))),
    // B. time-series feature engineering
    "q_time_features"   -> ((s, d) => TimeSeries.timeFeatures(ev(s, d))),
    "q_lag_features"    -> ((s, d) => TimeSeries.lagFeatures(ev(s, d))),
    "q_rolling_stats"   -> ((s, d) => TimeSeries.rollingStats(ev(s, d))),
    "q_weather_indices" -> ((s, d) => TimeSeries.weatherIndices(TimeSeries.weatherView(ev(s, d)))),
    "q_diff"            -> ((s, d) => TimeSeries.diff(ev(s, d))),
    "q_interactions"    -> ((s, d) => TimeSeries.interactions(TimeSeries.weatherView(ev(s, d)))),
    "q_target_shift"    -> ((s, d) => TimeSeries.targets(ev(s, d))),
    "q_will_rain"       -> ((s, d) => TimeSeries.willRain(ev(s, d))),
    "q_daily_range"     -> ((s, d) => TimeSeries.dailyRange(ev(s, d))),
    "q_sessionize"      -> ((s, d) => TimeSeries.sessionize(ev(s, d))),
    "q_asof_join"       -> ((s, d) => TimeSeries.asofJoin(ev(s, d))),
    "q_range_join"      -> ((s, d) => TimeSeries.rangeJoin(ev(s, d))),
    "q_quantiles"       -> ((s, d) => TimeSeries.quantiles(ev(s, d))),
    "q_quantiles_approx" -> ((s, d) => TimeSeries.quantilesApprox(ev(s, d))),
    "q_quantiles_approx_check" -> ((s, d) => TimeSeries.quantilesApproxCheck(ev(s, d))),
    // C. missing values / encoding / scaling
    "q_ffill"          -> ((s, d) => MissingValues.ffill(MissingValues.maskedView(ev(s, d)))),
    "q_interpolate"    -> ((s, d) => MissingValues.interpolate(MissingValues.maskedView(ev(s, d)))),
    "q_mode_fill"      -> ((s, d) => MissingValues.modeFill(MissingValues.maskedView(ev(s, d)))),
    "q_null_filter"    -> ((s, d) => MissingValues.nullFilter(MissingValues.maskedView(ev(s, d)))),
    "q_label_encode"   -> ((s, d) => Encoders.labelEncode(ev(s, d))),
    "q_standard_scale" -> ((s, d) => Encoders.standardScale(ev(s, d))),
    // D. data quality
    "q_quality_dups"     -> ((s, d) => Quality.duplicateKeys(ev(s, d))),
    "q_quality_missing"  -> ((s, d) => Quality.missingProfile(MissingValues.maskedView(ev(s, d)))),
    "q_quality_range"    -> ((s, d) => Quality.rangeCheck(TimeSeries.weatherView(ev(s, d)))),
    "q_quality_highnull" -> ((s, d) => Quality.highNullRows(MissingValues.maskedView(ev(s, d)))),
    "q_feature_stats"    -> ((s, d) => Quality.featureStats(TimeSeries.weatherView(ev(s, d)))),
    "q_quality_report"   -> ((s, d) => {
      val e = ev(s, d)
      Quality.report(e, TimeSeries.weatherView(e), MissingValues.maskedView(e))
    }),
    // H. text analysis + exact dedup
    "q_dedup_exact"  -> ((s, d) => TextAnalysis.dedupExact(Tables.documents(s, d))),
    "q_dedup_keepbest" -> ((s, d) => TextAnalysis.dedupKeepBest(Tables.documents(s, d))),
    "q_token_count"  -> ((s, d) => TextAnalysis.tokenCount(Tables.documents(s, d))),
    "q_text_quality" -> ((s, d) => TextAnalysis.textQuality(Tables.documents(s, d))),
    "q_lang_id"      -> ((s, d) => TextAnalysis.langId(Tables.documents(s, d))),
    "q_fingerprint"  -> ((s, d) => TextAnalysis.fingerprint(Tables.documents(s, d))),
    "q_pack_sequences" -> ((s, d) => TextAnalysis.packSequences(Tables.documents(s, d))),
    "q_redact_pii"     -> ((s, d) => TextAnalysis.redactPii(Tables.documents(s, d))),
    "q_quality_filter" -> ((s, d) => TextAnalysis.qualityFilter(Tables.documents(s, d))),
    // model-BASED quality (the DCLM/fineweb-edu axis): logistic
    // regression over hash_embed vectors trained on weak agreement
    // labels (rule verdict ∧ unigram-NLL median side), scored
    // scan-locally; trained-literal oracle — DuckDB re-derives the
    // embedding, the dot against the exported weight literals, and the
    // sigmoid of the 6dp-rounded score
    // model-based language ID (r18): one-vs-rest logistic over
    // hashing-trick embeddings, weak-labeled by the stopword-profile
    // heuristic (which stays the SQL-oracled q_lang_id entry)
    "q_lang_id_model" -> ((s, d) => {
      classifierOracles.record(s, d)
      LangIdModel.classify(s, Tables.documents(s, d), d)
    }),
    // char-3..5-gram feature basis (r19) — fastText's actual basis;
    // the axis that separates no-space scripts the word-token
    // embedding collapses to one feature per line
    "q_lang_id_model_cn" -> ((s, d) => {
      classifierOracles.record(s, d)
      LangIdModel.classify(s, Tables.documents(s, d), d, charGrams = true)
    }),
    "q_quality_classifier" -> ((s, d) => {
      classifierOracles.record(s, d)
      QualityClassifier.classify(s, Tables.documents(s, d), d)
    }),
    "q_repetition"     -> ((s, d) => TextAnalysis.repetitionRatio(Tables.documents(s, d))),
    "q_vocab_topk"     -> ((s, d) => TextAnalysis.vocabTopK(Tables.documents(s, d))),
    "q_stratified_sample" -> ((s, d) => TextAnalysis.stratifiedSample(Tables.documents(s, d))),
    "q_strip_markup" -> ((s, d) => TextAnalysis.stripMarkup(Tables.documents(s, d))),
    // the COMPOSED curation pipeline end-to-end (strip → quality →
    // keep-best exact dedup → exact decontam vs src0 → minhash-cluster
    // removal → span cut k=20 → PII redaction → per-source quota 10):
    // every stage is individually oracled; this entry pins the
    // COMPOSITION — doc_id semi-join plumbing and stage ordering —
    // against one DuckDB restatement of the whole pipeline
    "q_curate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      GraftApi.curateCorpus(
        docs.filter(col("source") =!= "src0"),
        spanDedupK = Some(20),
        benchmark = Some(docs.filter(col("source") === "src0")),
        mix = Some(MixStage.PerSource(10)))
    }),
    // the composed pipeline WITH the semantic near-dup stage (r19):
    // strip → quality → keep-best exact dedup → exact decontam vs
    // src0 → minhash-cluster removal → SEMANTIC dedup (hash-embedded
    // survivors resolved within the trained quantizer's clusters at
    // tau=0.85) → PII redaction — pins the semantic stage's doc_id
    // semi-join plumbing and placement against one DuckDB restatement
    "q_curate_semantic" -> ((s, d) => {
      quantizerOracles.record(s, d)
      val docs = Tables.documents(s, d)
      GraftApi.curateCorpus(
        docs.filter(col("source") =!= "src0"),
        benchmark = Some(docs.filter(col("source") === "src0")),
        semanticDedupTau = Some(0.85))
    }),
    // the same run's attrition datasheet — pins the manifest's
    // docs_in/docs_out/docs_dropped reconciliation arithmetic against
    // independently recomputed per-stage counts
    "q_curate_manifest" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val plan = GraftApi.curatePlan(
        docs.filter(col("source") =!= "src0"),
        spanDedupK = Some(20),
        benchmark = Some(docs.filter(col("source") === "src0")),
        mix = Some(MixStage.PerSource(10)))
      val m = plan.manifest
      m
    }),
    // bloom-filter corpus membership (the sketch form of the ingest
    // hash store — constant-size mergeable driver state, scan-local
    // probes): even doc_ids play the accumulated corpus, all docs the
    // arriving batch; exact set counts hash-gated, bloom guarantees
    // reduced to Spark-evaluated booleans (the sketch-check pattern)
    "q_bloom_membership_check" -> ((s, d) =>
      Dedup.bloomMembershipCheck(Tables.documents(s, d))),
    // the STREAMING ingest path's contract query (the _check pattern):
    // 4 deterministic batches replayed through the two-tier bucketed
    // store — delta tail, mid-replay compaction into the bucketed
    // base, and an own-batch redelivery — with the admitted membership
    // hash-gated against DuckDB's incremental keep-min restatement.
    // The gate corpora carry no exact text duplicates (500/500 distinct
    // contents at sf0.01), so the view INJECTS them — the urlDedupView
    // move: %7 copies re-keyed +10⁶ (1e6 ≡ 0 mod 4 → SAME batch:
    // within-batch keep-min must drop them) and %11 copies re-keyed
    // +2·10⁶+1 (≡ 1 mod 4 → a DIFFERENT batch: cross-batch membership
    // must resolve each content to its earliest batch, which for
    // originals in batch 3 is the COPY)
    "q_corpus_ingest_check" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "source", "text")
      val v = docs
        .unionByName(docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("source"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 2000001L).as("doc_id"), col("source"), col("text")))
      graft.streaming.CorpusIngest.replayCheck(v)
    }),
    // near-dup BAND-STORE contract replay (CorpusIngest.nearDupStoreCheck
    // scaladoc has the construction): synthetic md5-token texts make the
    // expected membership pure doc_id arithmetic while the real two-tier
    // band store (compacted base, delta tail, selfHits, own-batch-excluded
    // redelivery) computes it
    "q_neardup_store_check" -> ((s, d) =>
      graft.streaming.CorpusIngest.nearDupStoreCheck(Tables.documents(s, d))),
    // incremental ingest dedup: odd doc_ids play the arriving batch,
    // even doc_ids the already-curated corpus
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.dedupIncremental(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0))
    }),
    "q_assign_ids" -> ((s, d) =>
      GlobalIds.assignIds(
        Tables.documents(s, d).select(col("doc_id"), col("source")), "doc_id")
        .orderBy("doc_id")),
    "q_dedup_lines" -> ((s, d) => TextAnalysis.dedupLines(Tables.documents(s, d))),
    // real greedy-BPE counts (codegen'd merge-table expression);
    // SQL-oracled since r12 via the bounded recursive CTE in
    // bpeApplyCte (one iteration per merge rank — see oracleSql's
    // q_token_count_bpe/q_tokenize_bpe entries), plus the independent
    // tools/bpe_reference.py row-by-row fixture in BpeSpec
    "q_token_count_bpe" -> ((s, d) => TextAnalysis.tokenCountBpe(Tables.documents(s, d))),
    "q_tokenize_bpe"    -> ((s, d) => TextAnalysis.tokenizeBpe(Tables.documents(s, d))),
    // merge LEARNING, SQL-oracled since r12 via bpeTrainSql's
    // per-iteration window arg-max recursive CTE (plus the BpeSpec pin
    // against the gen_bpe_merges.py-produced resource)
    "q_train_bpe"       -> ((s, d) => TextAnalysis.trainBpe(Tables.documents(s, d), 50)),
    "q_unigram_logprob" -> ((s, d) => TextAnalysis.unigramLogprob(Tables.documents(s, d))),
    // DSIR-style importance weights toward a target distribution:
    // src0 plays the curated target domain, the rest the raw corpus
    // (the same split convention as decontamination/bigram)
    "q_importance_weights" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.importanceWeights(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"))
    }),
    // the DSIR-faithful variant: hashed-bigram buckets, add-one
    // smoothing over the FIXED 4096-bucket feature space
    "q_importance_weights_ng" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.importanceWeightsNg(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"))
    }),
    // the paper-COMPLETE DSIR composition (r18): pooled unigram+bigram
    // buckets in one shared space, exponentiated-weight A-ES selection
    // evaluated in log space (exp never computed)
    "q_dsir_select" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.dsirSelect(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), 100)
    }),
    // model trained on the src0-excluded slice, scoring ALL docs —
    // src0 rows exercise the OOV/backoff paths a same-corpus model
    // never reaches
    "q_bigram_logprob" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.bigramLogprob(docs, docs.filter(col("source") =!= "src0"))
    }),
    // thresholds bracket the corpus's observed nll band (median ~4.91
    // at every SF) so all three buckets are inhabited; quotas cap the
    // mid band and keep under-quota tails whole
    "q_mix_quality" -> ((s, d) => TextAnalysis.mixByQuality(
      Tables.documents(s, d), Seq(4.90, 4.92), Seq(50, 100, 30))),
    // lang is the naturally skewed axis (en ~40%, others ~15%); budget
    // 600 exercises the n_key cap arm at sf0.001/0.01 and the
    // proportional arm everywhere
    "q_mix_temperature" -> ((s, d) => TextAnalysis.mixTemperature(
      Tables.documents(s, d), "lang", 600L)),
    "q_weighted_sample" -> ((s, d) => TextAnalysis.weightedSampleByTokens(
      Tables.documents(s, d), 100)),
    // "dup" hits ~5% of docs at every SF; "stall" exercises the
    // zero-hit term
    "q_blocklist_filter" -> ((s, d) => TextAnalysis.blocklistFilter(
      Tables.documents(s, d), Seq("dup", "stall"))),
    // synthetic version pair: %13 ids absent from OLD (-> added),
    // %19 absent from NEW (-> removed), %17 texts revised (-> changed)
    "q_length_histogram" -> ((s, d) => TextAnalysis.lengthHistogram(
      Tables.documents(s, d))),
    "q_corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val old = docs.filter(pmod(col("doc_id"), lit(13)) =!= 0)
      val nw = docs.filter(pmod(col("doc_id"), lit(19)) =!= 0)
        .withColumn("text", when(pmod(col("doc_id"), lit(17)) === 0,
          concat(col("text"), lit(" revised"))).otherwise(col("text")))
      TextAnalysis.corpusDiff(old, nw)
    }),
    // distribution drift over the SAME synthetic version pair as
    // q_corpus_diff (the %17 'revised' token enters the new snapshot's
    // vocabulary, so the top-movers list is non-vacuous by construction)
    "q_vocab_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val old = docs.filter(pmod(col("doc_id"), lit(13)) =!= 0)
      val nw = docs.filter(pmod(col("doc_id"), lit(19)) =!= 0)
        .withColumn("text", when(pmod(col("doc_id"), lit(17)) === 0,
          concat(col("text"), lit(" revised"))).otherwise(col("text")))
      TextAnalysis.vocabDrift(old, nw)
    }),
    "q_cluster_embed"   -> ((s, d) => {
      quantizerOracles.record(s, d)
      Similarity.clusterEmbed(Tables.embeddings(s, d))
    }),
    // quota 8 leaves most clusters over-quota at every test SF (the
    // prefilter + rank arms both non-vacuous) while small clusters
    // exercise the under-quota keep-all arm
    "q_mix_cluster"     -> ((s, d) => {
      quantizerOracles.record(s, d)
      Similarity.mixByCluster(Tables.embeddings(s, d), quota = 8)
    }),
    "q_cluster_stats"   -> ((s, d) => {
      quantizerOracles.record(s, d)
      Similarity.clusterStats(Similarity.clusterEmbed(Tables.embeddings(s, d)))
    }),
    // SemDeDup (r18): embedding near-dups resolved within the shared
    // trained quantizer's clusters — the semantic third axis of
    // near-dup after the MinHash/SimHash shingle families
    "q_semdedup"        -> ((s, d) => {
      quantizerOracles.record(s, d)
      Similarity.semDedup(Tables.embeddings(s, d))
    }),
    // product-quantization ANN (r18): the memory-bounded axis — m int
    // codes per vector as the whole index, ADC scoring per query
    "q_ann_pq"          -> ((s, d) => {
      quantizerOracles.record(s, d)
      Similarity.annPq(Tables.embeddings(s, d))
    }),
    "q_hash_embed"      -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, posexplode, round}
      // posexploded to scalar rows: the driver canonicalizer cannot
      // hash array columns
      Similarity.hashEmbedDocs(Tables.documents(s, d))
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("vec_id"), col("i"), round(col("x").cast("double") + lit(1e-9), 6).as("x"))
        .orderBy("vec_id", "i")
    }),
    // k=20 rather than the production default 50: the synthetic docs
    // are short; 20 keeps the repeated-boilerplate set non-vacuous at
    // every test SF (hundreds of repeated windows)
    "q_dedup_spans" -> ((s, d) => TextAnalysis.dedupSpans(Tables.documents(s, d), k = 20)),
    // span-level decontamination: src0 plays the evaluation benchmark
    // (the bigram held-out convention), every other source is the
    // training corpus whose contaminated 13-gram spans get excised
    "q_decontaminate_spans" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.decontaminateSpans(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), k = 13)
    }),
    // the decontamination family's audit datasheet: same src0-as-
    // benchmark split as q_decontaminate_spans, same k
    "q_contamination_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.contaminationReport(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), k = 13)
    }),
    // target 2048 tokens/shard → ~13 shards at sf0.001/0.01, ~130 at
    // sf0.1 (non-vacuous binning at every SF)
    "q_shard_plan" -> ((s, d) =>
      TextAnalysis.shardPlan(Tables.documents(s, d), tokensPerShard = 2048L)),
    "q_corpus_stats" -> ((s, d) => TextAnalysis.corpusStats(Tables.documents(s, d))),
    "q_url_stats" -> ((s, d) => TextAnalysis.urlStats(urlView(Tables.documents(s, d)))),
    // URL-keyed crawl dedup over the injected-collision view (see
    // urlDedupView: canonicalization is what CREATES the collisions —
    // every raw URL is doc-unique)
    "q_url_dedup" -> ((s, d) =>
      TextAnalysis.dedupByUrl(urlDedupView(Tables.documents(s, d)))),
    // per-doc top-5 TF-IDF keywords (smooth idf, rank on the rounded
    // score — see tfidfTopK's FP-discipline scaladoc)
    "q_tfidf_topk" -> ((s, d) => TextAnalysis.tfidfTopK(Tables.documents(s, d))),
    // Misra-Gries heavy hitters, gated the distinct_sketch_check way:
    // the exact heavy set is deterministic; found/est_in_bound hold
    // under ANY partitioning by the merged-bound theorem
    "q_heavy_hitters_check" -> ((s, d) =>
      TextAnalysis.heavyHittersCheck(Tables.documents(s, d))),
    "q_chunk_docs" -> ((s, d) => TextAnalysis.chunkDocs(Tables.documents(s, d))),
    "q_token_entropy" -> ((s, d) => TextAnalysis.tokenEntropy(Tables.documents(s, d))),
    // H. near-dup + similarity
    "q_dedup_minhash" -> ((s, d) => Dedup.minhashPairs(Tables.documents(s, d))),
    // raw (sortless) pair form: component resolution is
    // edge-order-independent and the clusters frame re-sorts by doc_id
    "q_dedup_clusters" -> ((s, d) =>
      Dedup.nearDupClusters(Dedup.minhashPairsRaw(Tables.documents(s, d)))),
    "q_dedup_simhash" -> ((s, d) => Dedup.simhashPairs(Tables.documents(s, d))),
    // prefix+positional PPJoin form: identical output to
    // ngramJaccardPairs (SimilaritySpec pins equivalence across taus),
    // but candidates are pruned by the prefix bound instead of the full
    // shared-shingle expansion — the exact form's pair volume grows
    // superlinearly with corpus size (r6 slope 40.8x per 10x data)
    "q_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardPairsPrefix(Tables.documents(s, d))),
    // decontamination: source 'src0' plays the held-out benchmark set
    "q_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.decontaminate(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"))
    }),
    "q_source_overlap" -> ((s, d) => Dedup.sourceOverlap(Tables.documents(s, d))),
    // per-ITEM containment form (best-matching benchmark item per doc)
    "q_decontaminate_fuzzy" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.decontaminateFuzzy(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"))
    }),
    "q_dedup_embed"   -> ((s, d) => Similarity.embedDedup(Tables.embeddings(s, d))),
    // every 20th vector plays the benchmark (same split law as the
    // documents-side src0 convention)
    "q_semantic_decontaminate" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.semanticDecontaminate(
        e.filter(pmod(col("vec_id"), lit(20)) =!= 0),
        e.filter(pmod(col("vec_id"), lit(20)) === 0))
    }),
    "q_ann_topk"      -> ((s, d) => Similarity.annTopK(Tables.embeddings(s, d))),
    "q_ann_lsh"       -> ((s, d) => Similarity.annLsh(Tables.embeddings(s, d))),
    "q_ann_ivf"       -> ((s, d) => {
      quantizerOracles.record(s, d)
      Similarity.annIvf(Tables.embeddings(s, d))
    }),
    // IVF-PQ (r19): the production composition — residual PQ codes
    // scanned only within the query's nProbe inverted lists (Jégou
    // 2011 §III IVFADC); candidate sweep AND index payload bounded
    "q_ann_ivfpq"     -> ((s, d) => {
      quantizerOracles.record(s, d)
      Similarity.annIvfPq(Tables.embeddings(s, d))
    }),
    "q_dedup_embed_lsh" -> ((s, d) => Similarity.embedDedupLsh(Tables.embeddings(s, d))),
    // H. multimodal plumbing (synthetic media; REAL PPM decode + resize
    // + per-frame features; rows-only — pinned by MultimodalSpec)
    "q_media_features" -> ((s, _) => {
      GraftSession.tune(s)
      // scalar projection of the per-frame embedding: the driver's
      // pandas canonicalizer cannot sort/hash array columns (round-2
      // 'unhashable numpy.ndarray'); internal consumers (the ANN
      // stack) keep the array<float> form from Multimodal.features
      Multimodal.features(
        Multimodal.resize(Multimodal.decode(Multimodal.synthMedia(s, 300)), 8, 8))
        .select(col("media_id"), col("frame_idx"),
          org.apache.spark.sql.functions.posexplode(col("embedding")).as(Seq("dim_idx", "value")))
        .withColumn("value", col("value").cast("double"))
        .orderBy("media_id", "frame_idx", "dim_idx")
    }),
    // the codecs' oracle path (r14 verdict item 6): decode invariants
    // the hash CAN gate, expected values recomputed by DuckDB from
    // synthMedia's deterministic id arithmetic
    "q_media_features_check" -> ((s, _) => {
      GraftSession.tune(s)
      Multimodal.mediaCheck(Multimodal.synthMedia(s, 300))
    }),
    // F. ML feature preparation (columnar, oracle-checkable)
    "q_ml_feature_prep" -> ((s, d) => {
      val masked = MissingValues.maskedView(ev(s, d))
        .withColumn("mostly_null",
          when(col("event_id") % 4 === 0, col("value")).otherwise(lit(null).cast("double")))
      graft.ml.FeaturePrep.prepare(masked, Seq("event_id"),
        Seq("value", "humidity", "wind_speed", "mostly_null"))
        .orderBy("event_id")
    }),
  )

  /** Shared DuckDB fragments for oracle parity. */
  private val duckWindow = "PARTITION BY user_id ORDER BY ts, event_id"

  /** ANSI-safe JSON numeric parse, DuckDB side — the exact mirror of
    * [[graft.operators.jsonDouble]]/[[graft.operators.jsonLong]]:
    * DuckDB's json_extract_string ERRORS on malformed JSON (Spark's
    * get_json_object nulls), so every site guards with json_valid;
    * TRY_CAST mirrors Spark's try_cast for non-numeric values; the
    * BIGINT form shares the integral regex because the engines' bare
    * string→long rules diverge ('1.5': Spark null, DuckDB rounds). */
  private val duckJsonStr =
    "CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END"
  private val duckJsonDouble = s"TRY_CAST(($duckJsonStr) AS DOUBLE)"
  private val duckJsonLong =
    s"CASE WHEN regexp_matches(trim($duckJsonStr), '^[+-]?[0-9]+$$') " +
      s"THEN TRY_CAST(($duckJsonStr) AS BIGINT) END"

  private val duckWeatherView =
    s"""WITH weather AS (
      |  SELECT event_id, user_id, ts,
      |         value AS temperature,
      |         $duckJsonDouble AS humidity,
      |         CAST(event_id % 30 AS DOUBLE) + 0.5 AS wind_speed
      |  FROM events
      |)""".stripMargin

  /** Deterministic null-injection view (must mirror
    * MissingValues.maskedView exactly). */
  private val duckMasked =
    s"""WITH masked AS (
      |  SELECT event_id, user_id, ts,
      |         CASE WHEN event_id % 23 = 5 THEN NULL ELSE event_type END AS event_type,
      |         CASE WHEN event_id % 19 IN (3, 11) THEN NULL ELSE value END AS value,
      |         CASE WHEN event_id % 13 = 5 THEN NULL ELSE $duckJsonDouble END AS humidity,
      |         CASE WHEN event_id % 29 IN (0, 8, 17) THEN NULL ELSE CAST(event_id % 30 AS DOUBLE) + 0.5 END AS wind_speed
      |  FROM events
      |)""".stripMargin

  /** Shared CTE chain for the q_curate / q_curate_manifest oracles —
    * the full composed curation pipeline re-stated in DuckDB, each
    * stage the SAME dialect form its standalone oracle validated:
    * markup strip (tagPat + entity fold) → quality filter → keep-best
    * exact dedup → exact decontamination vs the src0 benchmark →
    * exact-Jaccard tau=0.8 pairs + recursive-CTE components (the
    * LSH==exact equivalence is verified per-SF by SimilaritySpec,
    * including over markup-stripped text — pair recovery is a per-pair
    * property, so it holds on every SUBSET of the corpus this
    * composition filters down to). Ends at the `nd` (near-dup
    * survivors) CTE; callers append their own tail. WITH RECURSIVE
    * heads the chain because `reach` is recursive. */
  private def curateOracleStages: String = {
    val decoded = TextAnalysis.entityMap.foldLeft("nt") { case (acc, (ent, repl)) =>
      s"replace($acc, '$ent', '${repl.replace("'", "''")}')"
    }
    s"""WITH RECURSIVE raw0 AS (
      |  SELECT doc_id, source, regexp_replace(text, '${TextAnalysis.tagPat}', ' ', 'g') AS nt
      |  FROM documents WHERE source <> 'src0'
      |), base AS (
      |  SELECT doc_id, source, trim(regexp_replace($decoded, '\\s+', ' ', 'g')) AS text FROM raw0
      |), tok AS (
      |  SELECT doc_id, source, text,
      |         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
      |         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
      |  FROM base
      |), qual AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id,
      |           CAST(len(toks) AS DOUBLE) AS n_tok,
      |           (CAST(length(norm) AS DOUBLE) - (CAST(len(toks) AS DOUBLE) - 1))
      |             / greatest(CAST(len(toks) AS DOUBLE), 1.0) AS mean_wl,
      |           CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE)
      |             / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio,
      |           len(list_filter(toks, t -> t IN ('the','a','of','and','is','in','to'))) AS n_stop
      |    FROM tok)
      |  WHERE n_tok >= 20 AND n_tok <= 100000 AND mean_wl >= 3.0 AND mean_wl <= 10.0
      |    AND punct_ratio <= 0.2 AND n_stop >= 1
      |), aq AS (
      |  SELECT t.* FROM tok t JOIN qual USING (doc_id)
      |), kb AS (
      |  SELECT doc_id AS keep_id FROM (
      |    SELECT doc_id,
      |           row_number() OVER (PARTITION BY content_hash
      |             ORDER BY quality_score DESC, doc_id) AS rn
      |    FROM (
      |      SELECT doc_id, md5(norm) AS content_hash,
      |             (round(least(CAST(len(toks) AS DOUBLE) / 200.0, 1.0) * 0.5
      |               + (CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','is','in','to'))) AS DOUBLE)
      |                  / greatest(CAST(len(toks) AS DOUBLE), 1.0)) * 0.25
      |               + (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE)
      |                  / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.25 + 1e-9, 4) + 0) AS quality_score
      |      FROM aq))
      |  WHERE rn = 1
      |), ae AS (
      |  SELECT a.* FROM aq a JOIN kb ON a.doc_id = kb.keep_id
      |), bsh AS (
      |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(btoks) - 1),
      |           i -> btoks[i] || ' ' || btoks[i+1] || ' ' || btoks[i+2]))) AS s
      |  FROM (SELECT string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS btoks
      |        FROM documents WHERE source = 'src0')
      |  WHERE len(btoks) >= 3
      |), csh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
      |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |  FROM ae WHERE len(toks) >= 3
      |), leaked AS (
      |  SELECT doc_id FROM (
      |    SELECT cs.doc_id, count(DISTINCT cs.s) AS n_shared
      |    FROM (SELECT doc_id, unnest(sh) AS s FROM csh) cs
      |    JOIN bsh b ON cs.s = b.s GROUP BY cs.doc_id)
      |  WHERE n_shared >= 3
      |), ad AS (
      |  SELECT * FROM ae WHERE doc_id NOT IN (SELECT doc_id FROM leaked)
      |), adsh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
      |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |  FROM ad WHERE len(toks) >= 3
      |), adex AS (
      |  SELECT doc_id, unnest(sh) AS s, len(sh) AS n_sh FROM adsh
      |), ndshared AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         count(*) AS inter, any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
      |  FROM adex a JOIN adex b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |), ndpairs AS (
      |  SELECT doc_a, doc_b FROM ndshared
      |  WHERE (round(inter * 1.0 / (na + nb - inter) + 1e-9, 4) + 0) >= 0.8
      |), und AS (
      |  SELECT doc_a AS a, doc_b AS b FROM ndpairs
      |  UNION SELECT doc_b, doc_a FROM ndpairs
      |), reach AS (
      |  SELECT a, b FROM und
      |  UNION
      |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
      |), clus AS (
      |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
      |), nd AS (
      |  SELECT * FROM ad WHERE doc_id NOT IN
      |    (SELECT doc_id FROM clus WHERE doc_id <> cluster_id)"""
  }

  /** The RHP hyperplane sign matrix as a DuckDB VALUES literal —
    * (tbl, plane, ±1-list) rows. The planes are DATA-INDEPENDENT (a
    * pure function of (seed, plane, dim-index) via the mix64
    * finalizer, TextHash.rhpSig), so the oracle can carry them as
    * constants while DuckDB independently re-derives every
    * data-dependent step: signed projections, bucket bits, probe
    * fan-out, candidate joins, exact cosine verify, top-k. Sign
    * values are the SAME ±1.0 doubles the kernel multiplies by, and
    * the projection sum is the same left-to-right double sum
    * (list_sum over the per-element products), so the `> 0` sign
    * test is bit-identical across engines. The SQL indexes only the
    * first len(v) sign positions, so the emitted lists just need
    * length ≥ the embedding dim — 128 gives the driver's dim-64
    * testdata 2× regeneration headroom (SimilaritySpec pins dim ≤ 128
    * with a message naming this contract; past it the compare fails
    * loudly, never silently). */
  private def rhpPlanesSql(tables: Int, nPlanes: Int, seed: Long,
                           dim: Int = 128): String =
    (for { t <- 0 until tables; p <- 0 until nPlanes } yield {
      val signs = (0 until dim).map { j =>
        val r = graft.functions.TextHash.mix64((seed + t) ^ (p.toLong << 32) ^ j.toLong)
        if ((r & 1L) == 1L) "1" else "-1"
      }.mkString(",")
      s"($t,$p,CAST([$signs] AS DOUBLE[]))"
    }).mkString(",\n  ")

  /** Shared CTE chain `e` → `n` → `planes` → `bits` → `idx` for the
    * RHP-LSH oracles: per-vector double-cast embeddings with norms,
    * then the (vec_id, tbl, bucket) index exactly as
    * [[graft.operators.Similarity.rhpIndex]] computes it. */
  private def rhpIdxSql(tables: Int, nPlanes: Int, seed: Long): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM e
       |), planes(tbl, p, s) AS (VALUES
       |  ${rhpPlanesSql(tables, nPlanes, seed)}
       |), bits AS (
       |  SELECT e.vec_id, pl.tbl, pl.p,
       |         CASE WHEN list_sum(list_transform(range(1, len(e.v) + 1),
       |                i -> e.v[i] * pl.s[i])) > 0 THEN (1 << pl.p) ELSE 0 END AS bit
       |  FROM e CROSS JOIN planes pl
       |), idx AS (
       |  SELECT vec_id, tbl, CAST(sum(bit) AS INT) AS bucket
       |  FROM bits GROUP BY vec_id, tbl
       |)""".stripMargin

  /** The oracle entries of one TRAINED-LITERAL query family, built
    * against the tables its queries actually read. `record` notes
    * every DISTINCT (session, sfDir) a family query has run on in this
    * JVM. Verify runs every query before dumping oracleSql, so in the
    * driver flow exactly one pair is recorded by the time it matters.
    * Evaluated standalone (no prior query run) OR after the family ran
    * on SEVERAL distinct dirs (an A-then-B flow where "last dir wins"
    * would silently pair dir-B-trained oracles with dir-A results),
    * the entries are simply omitted — rows-only, never a wrong oracle.
    * The built entries are memoized per (session, dir): oracleSql is
    * a def read several times per process, and without the memo every
    * read would re-run the deterministic training's sample job. */
  private final class TrainedOracles(build: (SparkSession, String) => Map[String, String]) {
    private val runs =
      java.util.concurrent.ConcurrentHashMap.newKeySet[(SparkSession, String)]()
    @volatile private var memo: ((SparkSession, String), Map[String, String]) = null

    def record(s: SparkSession, d: String): Unit = runs.add((s, d))

    def forget(dir: String): Unit = {
      runs.removeIf(_._2 == dir)
      val m = memo
      if (m != null && m._1._2 == dir) memo = null
    }

    def entries: Map[String, String] = {
      val keys = runs.toArray(Array.empty[(SparkSession, String)])
      if (keys.length != 1) Map.empty
      else {
        val m = memo
        if (m != null && m._1 == keys(0)) m._2
        else {
          val built = build(keys(0)._1, keys(0)._2)
          memo = (keys(0), built)
          built
        }
      }
    }
  }

  /** The quantizer family (q_cluster_embed / q_ann_ivf / q_mix_cluster /
    * q_cluster_stats …): all entries share one trained matrix (k =
    * nList = 16, iters 3, seed 42 defaults). */
  private val quantizerOracles = new TrainedOracles(buildQuantizerOracles)

  /** q_quality_classifier's and q_lang_id_model*'s trained weights. */
  private val classifierOracles = new TrainedOracles(buildClassifierOracles)

  /** Test hook: forget any recorded trained-literal run against `dir`
    * (both families). FuzzSpec runs the quantizer queries against the
    * committed fuzz dir in the same JVM as the contract suites' sfDir
    * runs; leaving both recorded would (correctly) ambiguate the
    * query-dir ↔ oracle-dir pairing and empty the trained-literal
    * oracle map for everyone else. The fuzz goldens don't need oracle
    * entries, so the spec un-records its own dir after each query. */
  private[graft] def forgetQuantizerRuns(dir: String): Unit = {
    quantizerOracles.forget(dir)
    classifierOracles.forget(dir)
  }

  /** q_quality_classifier's trained-literal oracle: the TRAINED weight
    * vector and bias exported as exact DOUBLE literals
    * (Double.toString round-trips per the Java spec); DuckDB
    * independently re-derives everything corpus-sized — the
    * hashing-trick embedding (the [[hashEmbedCte]] chain, float-exact),
    * the widened left-to-right dot against the weights, the
    * 6dp-rounded linear score, and the sigmoid OF THE ROUNDED score
    * (exp differs in the last ulp across engines; pre-rounding its
    * input is the log2 discipline). Training itself — weak agreement
    * labels, seeded sample, fixed-step GD — is Scala-pinned
    * (QualityClassifierSpec). */
  private def buildClassifierOracles(spark: SparkSession,
                                     dir: String): Map[String, String] = {
    val m = QualityClassifier.trainedModel(spark, Tables.documents(spark, dir), dir)
    val ws = m.weights.map(_.toString).mkString(",")
    val b = m.bias.toString
    // shared embedding chain: hashEmbedCte's per-(doc, bucket) signed
    // counts L2-normalized through FLOAT, regrouped to one per-doc
    // DOUBLE list — both classifier-family oracles score against it
    val vecsCte =
      s"""$hashEmbedCte, normd AS (
        |  SELECT acc.doc_id, acc.i,
        |    CAST(CASE WHEN nrm.ss > 0
        |         THEN CAST(CAST(s AS DOUBLE) * (1.0/sqrt(nrm.ss)) AS FLOAT)
        |         ELSE CAST(0.0 AS FLOAT) END AS DOUBLE) AS x
        |  FROM acc JOIN nrm ON acc.doc_id = nrm.doc_id
        |), vecs AS (
        |  SELECT doc_id, list(x ORDER BY i) AS xs FROM normd GROUP BY doc_id
        |)""".stripMargin
    // q_lang_id_model: one-vs-rest scores against the TRAINED
    // per-class weight/bias literals, 6dp-rounded BEFORE the argmax;
    // the CASE cascade is exactly the operator's first-class-that-
    // beats-all-later-classes tie rule
    val lm = LangIdModel.trainedModel(spark, Tables.documents(spark, dir), dir)
    val wtsRows = lm.langs.zipWithIndex.map { case (l, i) =>
      s"('$l', CAST([${lm.weights(i).map(_.toString).mkString(",")}] AS DOUBLE[]), CAST(${lm.biases(i).toString} AS DOUBLE))"
    }.mkString(",\n  ")
    val pivCols = lm.langs.map(l =>
      s"max(CASE WHEN lang = '$l' THEN s END) AS s_$l").mkString(",\n         ")
    val argmax = lm.langs.init.zipWithIndex.map { case (l, i) =>
      val beats = lm.langs.drop(i + 1).map(m => s"s_$l >= s_$m").mkString(" AND ")
      s"WHEN $beats THEN '$l'"
    }.mkString("\n         ")
    // the char-gram sibling's trained literals + its embedding chain
    // (same class universe, so pivCols/argmax are shared)
    val cm = LangIdModel.trainedModel(spark, Tables.documents(spark, dir), dir,
      charGrams = true)
    val cwtsRows = cm.langs.zipWithIndex.map { case (l, i) =>
      s"('$l', CAST([${cm.weights(i).map(_.toString).mkString(",")}] AS DOUBLE[]), CAST(${cm.biases(i).toString} AS DOUBLE))"
    }.mkString(",\n  ")
    val vecsCharCte =
      s"""$hashEmbedCharCte, normd AS (
        |  SELECT acc.doc_id, acc.i,
        |    CAST(CASE WHEN nrm.ss > 0
        |         THEN CAST(CAST(s AS DOUBLE) * (1.0/sqrt(nrm.ss)) AS FLOAT)
        |         ELSE CAST(0.0 AS FLOAT) END AS DOUBLE) AS x
        |  FROM acc JOIN nrm ON acc.doc_id = nrm.doc_id
        |), vecs AS (
        |  SELECT doc_id, list(x ORDER BY i) AS xs FROM normd GROUP BY doc_id
        |)""".stripMargin
    Map(
      "q_quality_classifier" ->
        s"""$vecsCte, scored AS (
          |  SELECT doc_id,
          |    (round(list_sum(list_transform(range(1, 65), i -> xs[i] * w.ws[i])) + ($b) + 1e-9, 6) + 0) AS score
          |  FROM vecs CROSS JOIN (SELECT CAST([$ws] AS DOUBLE[]) AS ws) w
          |)
          |SELECT doc_id, score,
          |  (round(1.0/(1.0 + exp(-score)) + 1e-9, 6) + 0) AS prob,
          |  CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep_pred
          |FROM scored ORDER BY doc_id""".stripMargin,
      "q_lang_id_model" ->
        s"""$vecsCte, wts(lang, w, b) AS (VALUES
          |  $wtsRows
          |), scored0 AS (
          |  SELECT v.doc_id, w.lang,
          |    (round(list_sum(list_transform(range(1, 65), i -> v.xs[i] * w.w[i])) + w.b + 1e-9, 6) + 0) AS s
          |  FROM vecs v CROSS JOIN wts w
          |), piv AS (
          |  SELECT doc_id,
          |         $pivCols
          |  FROM scored0 GROUP BY doc_id
          |)
          |SELECT doc_id, ${lm.langs.map(l => s"s_$l").mkString(", ")},
          |  CASE $argmax
          |         ELSE '${lm.langs.last}' END AS lang_model
          |FROM piv ORDER BY doc_id""".stripMargin,
      // char-gram sibling (r19): the identical one-vs-rest restatement
      // over the char-3..5-gram embedding chain and ITS trained
      // literals (same class order ⇒ pivCols/argmax shared)
      "q_lang_id_model_cn" ->
        s"""$vecsCharCte, wts(lang, w, b) AS (VALUES
          |  $cwtsRows
          |), scored0 AS (
          |  SELECT v.doc_id, w.lang,
          |    (round(list_sum(list_transform(range(1, 65), i -> v.xs[i] * w.w[i])) + w.b + 1e-9, 6) + 0) AS s
          |  FROM vecs v CROSS JOIN wts w
          |), piv AS (
          |  SELECT doc_id,
          |         $pivCols
          |  FROM scored0 GROUP BY doc_id
          |)
          |SELECT doc_id, ${cm.langs.map(l => s"s_$l").mkString(", ")},
          |  CASE $argmax
          |         ELSE '${cm.langs.last}' END AS lang_model
          |FROM piv ORDER BY doc_id""".stripMargin)
  }

  /** Shared DuckDB restatement of the hashing-trick embedding
    * ([[graft.functions.GraftFunctions.hashEmbed]]): token poly64 then the mix64
    * finalizer — two xor-shift rounds and two WRAPPING 64-bit
    * multiplies, emulated 32x32 split in HUGEINT (a direct 64x64
    * product overflows even HUGEINT):
    *   lo64(x*C) = ((hi(x)*lo(C) + lo(x)*hi(C)) mod 2^32)*2^32 + lo(x)*lo(C)
    * with C1 = ff51afd7_ed558ccd, C2 = c4ceb9fe_1a85ec53. Bucket =
    * (h>>1) % 64, sign = low bit; the signed counts then L2-normalize
    * through FLOAT exactly as the kernel does (double product, cast to
    * float32), so downstream values are bit-identical. Chain ends at
    * `acc` (per-(doc, bucket) signed count as FLOAT) + `nrm` (per-doc
    * squared norm); q_hash_embed and the classifier oracle project
    * from these. */
  private def hashEmbedCteWith(toksBody: String): String =
    "WITH " + hashEmbedChain(toksBody, "documents")

  /** The chain WITHOUT the leading WITH, parameterized over the
    * feature-stream body and the per-doc grid source, so it can
    * CONTINUE an existing CTE chain (the q_curate_semantic oracle
    * embeds it over the curation survivors `nd`). */
  private def hashEmbedChain(toksBody: String, docSource: String): String =
    s"""toks AS (
      |$toksBody
      |), tb AS (
      |  SELECT doc_id, hex(encode(t)) AS h, octet_length(encode(t)) AS nb FROM toks
      |), p AS (
      |  SELECT doc_id,
      |    CAST(list_reduce(
      |      list_prepend(1125899906842597::HUGEINT,
      |        list_transform(range(0, nb), i ->
      |          CAST((strpos('0123456789ABCDEF', h[2*i+1]) - 1) * 16
      |             + (strpos('0123456789ABCDEF', h[2*i+2]) - 1) AS HUGEINT))),
      |      (acc, x) -> (acc * 31 + x) % 18446744073709551616::HUGEINT) AS UBIGINT) AS x
      |  FROM tb
      |), s1 AS (SELECT doc_id, xor(x, x >> 33) AS a FROM p),
      |m1 AS (SELECT doc_id, CAST(((((a::HUGEINT // 4294967296) * 3981806797 + (a::HUGEINT % 4294967296) * 4283543511) % 4294967296) * 4294967296
      |       + (a::HUGEINT % 4294967296) * 3981806797) % 18446744073709551616::HUGEINT AS UBIGINT) AS b FROM s1),
      |s2 AS (SELECT doc_id, xor(b, b >> 33) AS c FROM m1),
      |m2 AS (SELECT doc_id, CAST(((((c::HUGEINT // 4294967296) * 444984403 + (c::HUGEINT % 4294967296) * 3301882366) % 4294967296) * 4294967296
      |       + (c::HUGEINT % 4294967296) * 444984403) % 18446744073709551616::HUGEINT AS UBIGINT) AS d FROM s2),
      |hx AS (SELECT doc_id, xor(d, d >> 33) AS h FROM m2),
      |votes AS (
      |  SELECT doc_id, CAST((h >> 1) % 64 AS INT) AS i,
      |         SUM(CASE WHEN (h & 1) = 0 THEN 1.0 ELSE -1.0 END) AS s
      |  FROM hx GROUP BY doc_id, i
      |), grid AS (
      |  SELECT doc_id, CAST(g.i AS INT) AS i FROM $docSource, range(0, 64) AS g(i)
      |), acc AS (
      |  SELECT grid.doc_id, grid.i, CAST(COALESCE(votes.s, 0.0) AS FLOAT) AS s
      |  FROM grid LEFT JOIN votes ON grid.doc_id = votes.doc_id AND grid.i = votes.i
      |), nrm AS (
      |  SELECT doc_id, SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) AS ss FROM acc GROUP BY doc_id
      |)""".stripMargin

  private val hashEmbedCte: String = hashEmbedCteWith(
    """  SELECT doc_id, t
      |  FROM documents, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS u(t)
      |  WHERE t <> ''""".stripMargin)

  /** The char-3..5-gram feature stream (r19): every code-point window
    * of length 3..5 over the SAME normalized text the word chain
    * splits — DuckDB substring/length count code points exactly as
    * [[graft.functions.TextHash.charNgrams]]'s lead-byte scan does;
    * the downstream poly64/mix64/vote chain is byte-level and shared.
    * Windows are never empty by construction, and a string shorter
    * than the window length emits no rows (empty doc ⇒ zero vector,
    * the kernel contract). */
  private val hashEmbedCharCte: String = hashEmbedCteWith(
    """  SELECT doc_id, substring(txt, CAST(p AS INT), CAST(nn AS INT)) AS t
      |  FROM (SELECT doc_id, txt, nn,
      |               unnest(range(1, greatest(length(txt) - nn + 2, 1))) AS p
      |        FROM (SELECT doc_id, txt, unnest([3, 4, 5]) AS nn
      |              FROM (SELECT doc_id,
      |                           regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS txt
      |                    FROM documents)))""".stripMargin)

  /** `cents(cid, c)` literal CTE body: the TRAINED spherical-k-means
    * centroids (deterministic — seeded hash-order sample + fixed Lloyd
    * iterations; same data ⇒ bit-identical floats) exported as exact
    * DOUBLE literals. Double.toString round-trips per the Java spec,
    * and the kernel widens the float centroids to double before every
    * multiply, so the SQL arithmetic sees the IDENTICAL operands.
    * What stays Scala-pinned is the TRAINING of these values (bounded
    * driver state, MLSpec/SimilaritySpec); what DuckDB independently
    * re-derives from raw parquet is everything corpus-sized —
    * assignment argmax, confidence, probe ranking, candidate
    * generation, exact verify top-k. */
  private def centsSql(spark: SparkSession, dir: String,
                       nList: Int, iters: Int, seed: Long): String = {
    val e = Similarity.withNorm(Tables.embeddings(spark, dir))
    val cents = Similarity.trainQuantizer(e, nList, iters, seed)
    val rows = cents.zipWithIndex.map { case (c, i) =>
      s"($i, CAST([${c.map(_.toDouble.toString).mkString(",")}] AS DOUBLE[]))"
    }.mkString(",\n  ")
    s"cents(cid, c) AS (VALUES\n  $rows)"
  }

  /** Shared CTE chain for the quantizer oracles: embeddings with
    * norms, the trained-centroid literals, and the per-vector dot
    * against every centroid — `scored.d` is the kernel's left-to-right
    * double sum ([[graft.functions.TextHash.ivfAssign]]), so the
    * argmax (row_number by d DESC, cid ASC = strict-> first-index-wins
    * ties) is bit-faithful. */
  private def quantizerIdxSql(spark: SparkSession, dir: String,
                              nList: Int, iters: Int, seed: Long): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM e
       |), ${centsSql(spark, dir, nList, iters, seed)}, scored AS (
       |  SELECT n.vec_id, ct.cid, n.nrm, n.v,
       |         list_sum(list_transform(range(1, len(ct.c) + 1),
       |               i -> n.v[i] * ct.c[i])) AS d
       |  FROM n CROSS JOIN cents ct
       |)""".stripMargin

  private def buildQuantizerOracles(spark: SparkSession,
                                    dir: String): Map[String, String] = {
      val idx = quantizerIdxSql(spark, dir, 16, 3, 42L)
      // PQ codebooks (their OWN training — per-subspace L2 k-means,
      // not the spherical coarse quantizer) as (sub, code, c) literals
      val pqCb = Similarity.trainPqCodebooks(Tables.embeddings(spark, dir))
      val dsub = pqCb(0)(0).length
      val pqRows = (for { s <- pqCb.indices; c <- pqCb(s).indices } yield
        s"($s, $c, CAST([${pqCb(s)(c).map(_.toDouble.toString).mkString(",")}] AS DOUBLE[]))")
        .mkString(",\n  ")
      // IVF-PQ residual codebooks (r19): trained on the coarse
      // residuals of the SAME spherical quantizer the idx chain
      // carries as cents literals — both trainings deterministic, so
      // DuckDB re-derives assignment, residuals, codes, probe
      // ranking, LUT, and ADC sums entirely from raw parquet + the
      // two literal matrices
      val ivfPqCb = Similarity.trainIvfPqCodebooks(
        Tables.embeddings(spark, dir),
        Similarity.trainQuantizer(
          Similarity.withNorm(Tables.embeddings(spark, dir)), 16, 3, 42L))
      val rdsub = ivfPqCb(0)(0).length
      val rcbRows = (for { s <- ivfPqCb.indices; c <- ivfPqCb(s).indices } yield
        s"($s, $c, CAST([${ivfPqCb(s)(c).map(_.toDouble.toString).mkString(",")}] AS DOUBLE[]))")
        .mkString(",\n  ")
      // q_curate_semantic's trained literals (r19): the semantic
      // stage's quantizer trains on the CURATION SURVIVORS' hash
      // embeddings, so the builder reconstructs the same pipeline up
      // to the near_dup stage (deterministic — identical survivors,
      // identical seeded sample) and exports those centroids; the
      // run's caches are scope-released right after
      val semCentRows = {
        import org.apache.spark.sql.functions.col
        val docs = Tables.documents(spark, dir)
        val plan = GraftApi.curatePlan(
          docs.filter(col("source") =!= "src0"),
          benchmark = Some(docs.filter(col("source") === "src0")))
        val surv = plan.stageFrames.find(_._1 == "near_dup").get._2
        val cents = Similarity.trainQuantizer(
          Similarity.withNorm(Similarity.hashEmbedDocs(surv)), 16, 3, 42L)
        plan.release()
        cents.zipWithIndex.map { case (c, i) =>
          s"($i, CAST([${c.map(_.toDouble.toString).mkString(",")}] AS DOUBLE[]))"
        }.mkString(",\n  ")
      }
      Map(
        // PQ-ANN: per-(vector, subspace) raw-double squared distances
        // against the codebook literals (same left-to-right product
        // sum as the kernel — the raw argmin compare is bit-faithful,
        // the ivfAssign precedent), argmin codes with ties to the
        // lowest code, per-query 6dp LUT entries, DECIMAL-exact ADC
        // sums, top-5 by (adist, cand_id)
        "q_ann_pq" ->
          s"""WITH e AS (
            |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            |  FROM embeddings
            |), cb(sub, code, c) AS (VALUES
            |  $pqRows
            |), dists AS (
            |  SELECT e.vec_id, cb.sub, cb.code,
            |         list_sum(list_transform(range(1, ${dsub + 1}),
            |           i -> (coalesce(e.v[cb.sub * $dsub + i], 0.0) - cb.c[i])
            |              * (coalesce(e.v[cb.sub * $dsub + i], 0.0) - cb.c[i]))) AS d
            |  FROM e CROSS JOIN cb
            |), codes AS (
            |  SELECT vec_id, sub, code FROM (
            |    SELECT vec_id, sub, code,
            |           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
            |    FROM dists) WHERE rn = 1
            |), lut AS (
            |  SELECT vec_id AS query_id, sub, code, (round(d + 1e-9, 6) + 0) AS pd
            |  FROM dists WHERE vec_id < 20
            |), adist AS (
            |  SELECT l.query_id, c.vec_id AS cand_id,
            |         CAST(sum(CAST(l.pd AS DECIMAL(38,6))) AS DOUBLE) AS adist
            |  FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
            |  WHERE c.vec_id <> l.query_id
            |  GROUP BY 1, 2
            |)
            |SELECT query_id, cand_id, adist,
            |       CAST(row_number() OVER (PARTITION BY query_id
            |              ORDER BY adist, cand_id) AS INT) AS rank
            |FROM adist
            |QUALIFY row_number() OVER (PARTITION BY query_id
            |          ORDER BY adist, cand_id) <= 5
            |ORDER BY query_id, rank""".stripMargin,
        // IVF-PQ (r19): coarse assignment argmax over the cents
        // literals, unit-sphere residual vs the OWNING centroid (the
        // kernel's exact double chain: coalesced v element / nrm when
        // nrm > 0, minus the centroid element), residual codes by
        // argmin vs the rcb literals (ties → lowest code), probe
        // ranking = q_ann_ivf's raw-ccos window (nProbe 6),
        // per-(query, probed list) residual LUT at 6dp, DECIMAL-exact
        // ADC sums over the probed lists only → refine·k=20 shortlist
        // by (adist, cand_id) → exact rounded-cosine re-rank, top-5
        // by (cos DESC NULLS LAST, cand_id)
        "q_ann_ivfpq" ->
          s"""$idx, assigned AS (
            |  SELECT vec_id, cid, nrm, v FROM (
            |    SELECT vec_id, cid, nrm, v,
            |           row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
            |    FROM scored) WHERE rn = 1
            |), rcb(sub, code, c) AS (VALUES
            |  $rcbRows
            |), resid AS (
            |  SELECT a.vec_id, a.cid,
            |         list_transform(range(1, len(ct.c) + 1),
            |           j -> (CASE WHEN a.nrm > 0 THEN coalesce(a.v[j], 0.0) / a.nrm
            |                      ELSE coalesce(a.v[j], 0.0) END) - ct.c[j]) AS r
            |  FROM assigned a JOIN cents ct ON ct.cid = a.cid
            |), rdists AS (
            |  SELECT t.vec_id, t.cid, rcb.sub, rcb.code,
            |         list_sum(list_transform(range(1, ${rdsub + 1}),
            |           i -> (t.r[rcb.sub * $rdsub + i] - rcb.c[i])
            |              * (t.r[rcb.sub * $rdsub + i] - rcb.c[i]))) AS d
            |  FROM resid t CROSS JOIN rcb
            |), codes AS (
            |  SELECT vec_id, cid, sub, code FROM (
            |    SELECT vec_id, cid, sub, code,
            |           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
            |    FROM rdists) WHERE rn = 1
            |), probed AS (
            |  SELECT vec_id AS query_id, cid FROM (
            |    SELECT vec_id, cid,
            |           row_number() OVER (PARTITION BY vec_id
            |             ORDER BY (CASE WHEN nrm > 0 THEN d / nrm END) DESC NULLS LAST, cid) AS pr
            |    FROM scored WHERE vec_id < 20)
            |  WHERE pr <= 6
            |), qresid AS (
            |  SELECT p.query_id, p.cid,
            |         list_transform(range(1, len(ct.c) + 1),
            |           j -> (CASE WHEN q.nrm > 0 THEN coalesce(q.v[j], 0.0) / q.nrm
            |                      ELSE coalesce(q.v[j], 0.0) END) - ct.c[j]) AS r
            |  FROM probed p
            |  JOIN n q ON q.vec_id = p.query_id
            |  JOIN cents ct ON ct.cid = p.cid
            |), lut AS (
            |  SELECT t.query_id, t.cid, rcb.sub, rcb.code,
            |         (round(list_sum(list_transform(range(1, ${rdsub + 1}),
            |            i -> (t.r[rcb.sub * $rdsub + i] - rcb.c[i])
            |               * (t.r[rcb.sub * $rdsub + i] - rcb.c[i]))) + 1e-9, 6) + 0) AS pd
            |  FROM qresid t CROSS JOIN rcb
            |), adist AS (
            |  SELECT l.query_id, c.vec_id AS cand_id,
            |         CAST(sum(CAST(l.pd AS DECIMAL(38,6))) AS DOUBLE) AS adist
            |  FROM codes c
            |  JOIN lut l ON c.cid = l.cid AND c.sub = l.sub AND c.code = l.code
            |  WHERE c.vec_id <> l.query_id
            |  GROUP BY 1, 2
            |), shortlist AS (
            |  SELECT query_id, cand_id FROM adist
            |  QUALIFY row_number() OVER (PARTITION BY query_id
            |            ORDER BY adist, cand_id) <= 20
            |), rer AS (
            |  SELECT s.query_id, s.cand_id,
            |         (round(CASE WHEN (a.nrm * b.nrm) > 0 THEN
            |                 list_sum(list_transform(range(1, len(a.v) + 1),
            |                 i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) END + 1e-9, 6) + 0) AS cos
            |  FROM shortlist s
            |  JOIN n a ON a.vec_id = s.query_id
            |  JOIN n b ON b.vec_id = s.cand_id
            |)
            |SELECT query_id, cand_id, cos,
            |       CAST(row_number() OVER (PARTITION BY query_id
            |              ORDER BY cos DESC NULLS LAST, cand_id) AS INT) AS rank
            |FROM rer
            |QUALIFY row_number() OVER (PARTITION BY query_id
            |          ORDER BY cos DESC NULLS LAST, cand_id) <= 5
            |ORDER BY query_id, rank""".stripMargin,
        // q_curate_semantic (r19): the full composed-curation chain
        // (strip → quality → keep-best → decontam → minhash clusters
        // → `nd`), then the hashing-trick embedding RE-DERIVED over
        // the survivors' tokens (the shared byte-level chain, grid
        // from nd), float-exact normalization, assignment argmax over
        // the survivor-trained centroid literals, the SemDeDup
        // lower-id-neighbor drop at tau=0.85, and the PII-redaction
        // tail over the semantic survivors
        "q_curate_semantic" -> (curateOracleStages + s"""
          |), ${hashEmbedChain(
            "  SELECT doc_id, t FROM (SELECT doc_id, unnest(toks) AS t FROM nd) WHERE t <> ''",
            "nd")}, sem_normd AS (
          |  SELECT acc.doc_id, acc.i,
          |    CAST(CASE WHEN nrm.ss > 0
          |         THEN CAST(CAST(s AS DOUBLE) * (1.0/sqrt(nrm.ss)) AS FLOAT)
          |         ELSE CAST(0.0 AS FLOAT) END AS DOUBLE) AS x
          |  FROM acc JOIN nrm ON acc.doc_id = nrm.doc_id
          |), sem_vecs AS (
          |  SELECT doc_id, list(x ORDER BY i) AS v FROM sem_normd GROUP BY doc_id
          |), sem_n AS (
          |  SELECT doc_id, v, sqrt(list_sum(list_transform(v, y -> y * y))) AS vn
          |  FROM sem_vecs
          |), sem_cents(cid, c) AS (VALUES
          |  $semCentRows
          |), sem_scored AS (
          |  SELECT sn.doc_id, ct.cid, sn.vn, sn.v,
          |         list_sum(list_transform(range(1, len(ct.c) + 1),
          |               i -> sn.v[i] * ct.c[i])) AS d
          |  FROM sem_n sn CROSS JOIN sem_cents ct
          |), sem_assigned AS (
          |  SELECT doc_id, cid, vn, v FROM (
          |    SELECT doc_id, cid, vn, v,
          |           row_number() OVER (PARTITION BY doc_id ORDER BY d DESC, cid) AS rn
          |    FROM sem_scored) WHERE rn = 1
          |), sem_dropped AS (
          |  SELECT DISTINCT a.doc_id
          |  FROM sem_assigned a JOIN sem_assigned b
          |    ON a.cid = b.cid AND a.doc_id > b.doc_id
          |  WHERE (round(CASE WHEN (a.vn * b.vn) > 0 THEN
          |           list_sum(list_transform(range(1, len(a.v) + 1),
          |             i -> a.v[i] * b.v[i])) / (a.vn * b.vn) END + 1e-9, 6) + 0) >= 0.85
          |), semk AS (
          |  SELECT doc_id, source, text FROM nd
          |  WHERE doc_id NOT IN (SELECT doc_id FROM sem_dropped)
          |), red1 AS (
          |  SELECT doc_id, source,
          |         regexp_replace(text, '${TextAnalysis.emailPat}', '<EMAIL>', 'g') AS a
          |  FROM semk
          |), red2a AS (
          |  SELECT doc_id, source,
          |         regexp_replace(a, '${TextAnalysis.ipPat}', '${TextAnalysis.ipReplDuck}', 'g') AS b1
          |  FROM red1
          |), red2 AS (
          |  SELECT doc_id, source,
          |         regexp_replace(b1, '${TextAnalysis.ipPat}', '${TextAnalysis.ipReplDuck}', 'g') AS b
          |  FROM red2a
          |), redacted AS (
          |  SELECT doc_id, source,
          |         regexp_replace(b, '${TextAnalysis.phonePat}', '${TextAnalysis.phoneReplDuck}', 'g') AS text
          |  FROM red2
          |)
          |SELECT doc_id, source, text FROM redacted ORDER BY doc_id""").stripMargin,
        // SemDeDup: assignment argmax, within-cluster (a>b) pairs
        // cosine-scored exactly as the kernel does (widened
        // left-to-right list_sum, 6dp round, null on a zero-norm
        // side), survivors = vectors with no lower-id neighbor >= tau
        // in their cluster
        "q_semdedup" ->
          s"""$idx, assigned AS (
            |  SELECT vec_id, cid, nrm, v FROM (
            |    SELECT vec_id, cid, nrm, v,
            |           row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
            |    FROM scored) WHERE rn = 1
            |), dropped AS (
            |  SELECT DISTINCT a.vec_id
            |  FROM assigned a JOIN assigned b
            |    ON a.cid = b.cid AND a.vec_id > b.vec_id
            |  WHERE (round(CASE WHEN (a.nrm * b.nrm) > 0 THEN
            |           list_sum(list_transform(range(1, len(a.v) + 1),
            |             i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) END + 1e-9, 6) + 0) >= 0.4
            |)
            |SELECT vec_id, cid FROM assigned
            |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
            |ORDER BY vec_id""".stripMargin,
        // assignment argmax + cosine confidence to the OWNING centroid;
        // zero-norm vectors take cid 0 by the tie rule with ccos 0.0
        "q_cluster_embed" ->
          s"""$idx, assigned AS (
            |  SELECT vec_id, cid, nrm, d,
            |         row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
            |  FROM scored
            |)
            |SELECT vec_id, cid,
            |       (round(CASE WHEN nrm > 0 THEN d / nrm ELSE 0.0 END + 1e-9, 6) + 0) AS ccos
            |FROM assigned WHERE rn = 1 ORDER BY vec_id""".stripMargin,
        // IVF: per-vector list assignment, nProbe=4 nearest lists per
        // query (RAW ccos ranking, ties to lowest cid — the window the
        // operator uses), exact rounded-cosine top-5 over the probed
        // inverted lists only. A candidate appears via exactly one
        // list (single assignment), so no distinct is needed.
        "q_ann_ivf" ->
          s"""$idx, assigned AS (
            |  SELECT vec_id, cid FROM (
            |    SELECT vec_id, cid,
            |           row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
            |    FROM scored) WHERE rn = 1
            |), probed AS (
            |  SELECT vec_id AS query_id, cid FROM (
            |    SELECT vec_id, cid,
            |           row_number() OVER (PARTITION BY vec_id
            |             ORDER BY (CASE WHEN nrm > 0 THEN d / nrm END) DESC NULLS LAST, cid) AS pr
            |    FROM scored WHERE vec_id < 20)
            |  WHERE pr <= 4
            |), cand AS (
            |  SELECT p.query_id, b.vec_id AS cand_id,
            |         (round(CASE WHEN (a.nrm * b.nrm) > 0 THEN
            |                 list_sum(list_transform(range(1, len(a.v) + 1),
            |                 i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) END + 1e-9, 6) + 0) AS cos
            |  FROM probed p
            |  JOIN n a ON a.vec_id = p.query_id
            |  JOIN assigned s ON s.cid = p.cid
            |  JOIN n b ON b.vec_id = s.vec_id AND b.vec_id <> p.query_id
            |)
            |SELECT query_id, cand_id, cos,
            |       CAST(row_number() OVER (PARTITION BY query_id
            |              ORDER BY cos DESC NULLS LAST, cand_id) AS INT) AS rank
            |FROM cand
            |QUALIFY row_number() OVER (PARTITION BY query_id
            |          ORDER BY cos DESC NULLS LAST, cand_id) <= 5
            |ORDER BY query_id, rank""".stripMargin,
        // cluster-balanced mixing: assignment argmax + the SAME Knuth
        // salt/rank contract as q_stratified_sample, stratum = cid
        "q_mix_cluster" ->
          s"""$idx, assigned AS (
            |  SELECT vec_id, cid FROM (
            |    SELECT vec_id, cid,
            |           row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
            |    FROM scored) WHERE rn = 1
            |)
            |SELECT vec_id, cid, CAST(rn AS BIGINT) AS sample_rank FROM (
            |  SELECT vec_id, cid,
            |         row_number() OVER (PARTITION BY cid
            |           ORDER BY (((vec_id % 2147483648 + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id) AS rn
            |  FROM assigned
            |) WHERE rn <= 8 ORDER BY cid, sample_rank""".stripMargin,
        // per-cluster datasheet: size + cohesion over the 6dp ccos
        // (mean via the DECIMAL-sum discipline, min exact)
        "q_cluster_stats" ->
          s"""$idx, assigned AS (
            |  SELECT vec_id, cid, nrm, d,
            |         row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
            |  FROM scored
            |), ccos AS (
            |  SELECT vec_id, cid,
            |         (round(CASE WHEN nrm > 0 THEN d / nrm ELSE 0.0 END + 1e-9, 6) + 0) AS ccos
            |  FROM assigned WHERE rn = 1
            |)
            |SELECT cid, count(*) AS n_vectors,
            |       (round(CAST(sum(CAST(ccos AS DECIMAL(38,6))) AS DOUBLE) / count(ccos) + 1e-9, 6) + 0) AS mean_ccos,
            |       (round(min(ccos) + 1e-9, 6) + 0) AS min_ccos
            |FROM ccos GROUP BY cid ORDER BY cid""".stripMargin)
  }

  /** Shared WITH-RECURSIVE chain replicating greedy BPE APPLICATION in
    * DuckDB — the oracle core of q_token_count_bpe / q_tokenize_bpe.
    * The merge table interpolates from the SAME
    * [[TextAnalysis.defaultBpeMerges]] resource the codegen'd kernel
    * reads (a drifting copy would silently fork the tokenizer), and
    * the per-word loop is restated as BOUNDED recursion: exactly one
    * iteration per merge RANK, in rank order, each merging every
    * left-to-right occurrence of that rank's pair. For a VALID trained
    * table (every merge's sides are single chars or earlier merges'
    * outputs — true of any Sennrich-trained table, including
    * [[graft.operators.TextAnalysis.trainBpe]]'s and the shipped
    * resource) this is provably equivalent to the kernel's
    * lowest-rank-first loop: a merge at rank r only ever creates
    * adjacencies INVOLVING its merged symbol, whose merges necessarily
    * carry ranks > r, so after processing ranks 0..r no pair of rank
    * <= r can exist. Left-to-right overlap resolution ("aaa" + (a,a)
    * -> [aa, a], never [a, aa]) is the run-parity selection: within
    * each maximal run of consecutive candidate starts, keep the
    * even offsets; a row whose LEFT neighbor merged is dropped and
    * positions renumber each iteration. Work is per DISTINCT word
    * (joined back to the word stream afterward), so the recursion
    * touches vocabulary x merges rows, not corpus x merges. */
  private def bpeChainSql: String = {
    val merges = TextAnalysis.defaultBpeMerges
    val nR = merges.size
    val mv = merges.zipWithIndex.map { case ((a, b), r) =>
      s"($r, '${a.replace("'", "''")}', '${b.replace("'", "''")}')"
    }.mkString(", ")
    s"""WITH RECURSIVE
      |merges(rank, l, r) AS (VALUES $mv),
      |norm AS (
      |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS ntext
      |  FROM documents
      |), words AS (
      |  SELECT doc_id, unnest(range(1, len(parts) + 1)) AS widx, unnest(parts) AS word
      |  FROM (SELECT doc_id, string_split(ntext, ' ') AS parts FROM norm)
      |), dw AS (SELECT DISTINCT word FROM words WHERE word <> ''),
      |sym0 AS (
      |  SELECT word, CAST(unnest(range(1, length(word) + 1)) AS INT) AS pos,
      |         unnest(string_split(word, '')) AS sym, 0 AS it
      |  FROM dw
      |), bpe AS (
      |  SELECT word, pos, sym, it FROM sym0
      |  UNION ALL
      |  SELECT word,
      |         CAST(row_number() OVER (PARTITION BY word ORDER BY pos) AS INT) AS pos,
      |         CASE WHEN sel THEN sym || nxt ELSE sym END AS sym,
      |         it + 1 AS it
      |  FROM (
      |    SELECT word, pos, sym, nxt, it, sel,
      |           lag(sel) OVER (PARTITION BY word ORDER BY pos) AS psel
      |    FROM (
      |      SELECT word, pos, sym, nxt, it, cand,
      |             cand AND ((pos - first_value(pos) OVER (PARTITION BY word, grp, cand ORDER BY pos)) % 2 = 0) AS sel
      |      FROM (
      |        SELECT word, pos, sym, nxt, it, cand,
      |               pos - CAST(row_number() OVER (PARTITION BY word, cand ORDER BY pos) AS INT) AS grp
      |        FROM (
      |          SELECT b.word, b.pos, b.sym, b.it,
      |                 lead(b.sym) OVER (PARTITION BY b.word ORDER BY b.pos) AS nxt,
      |                 (b.sym = m.l AND lead(b.sym) OVER (PARTITION BY b.word ORDER BY b.pos) = m.r) AS cand
      |          FROM bpe b JOIN merges m ON m.rank = b.it
      |          WHERE b.it < $nR
      |        )
      |      )
      |    )
      |  )
      |  WHERE NOT coalesce(psel, FALSE)
      |), pieces AS (SELECT word, pos, sym FROM bpe WHERE it = $nR)""".stripMargin
  }

  /** DuckDB replication of greedy BPE merge LEARNING (the Sennrich
    * loop [[graft.operators.TextAnalysis.trainBpe]] runs on the
    * driver) — the oracle of q_train_bpe. Unlike the APPLICATION
    * chain above, each iteration's merge is DATA-DEPENDENT: the
    * recursive term computes the global arg-max pair from its own
    * working table with window functions (pair weight = sum of word
    * frequencies over adjacency ROWS, so overlapping occurrences
    * count exactly as the trainer's adjacency scan does; arg-max +
    * lexicographic tie-break via first_value over (count DESC, l, r)
    * — the trainer's (-count, pair) TreeSet order), then applies
    * that single pair with the same run-parity left-to-right
    * machinery as the application chain. The trainer's incremental
    * retract/re-add bookkeeping is equivalent to this full recount
    * per round (BpeSpec pins incremental == naive recompute), and
    * recursion stops — exactly like the trainer's `c < 2` break —
    * when the best count drops below 2 (mx >= 2 filter empties the
    * working table). The merge LIST is then re-derived outside the
    * recursion: for each recorded iteration state, one plain
    * GROUP BY + row_number arg-max — choices identical to the ones
    * the recursion applied. Work is vocabulary-sized x nMerges
    * (~0.6 s at sf0.01 in DuckDB). Validated against the independent
    * tools/gen_bpe_merges.py trainer on 184 crafted+random corpora
    * (same-symbol runs, count ties, early stop, merged-symbol
    * merges) with zero diffs before shipping. */
  private def bpeTrainSql(nMerges: Int): String = {
    s"""WITH RECURSIVE
      |norm AS (
      |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS ntext FROM documents
      |), words AS (
      |  SELECT unnest(string_split(ntext, ' ')) AS word FROM norm
      |), wf AS (
      |  SELECT word, count(*) AS f FROM words WHERE word <> '' GROUP BY word
      |  QUALIFY row_number() OVER (ORDER BY f DESC, word) <= ${1 << 20}
      |), sym0 AS (
      |  SELECT word, f, CAST(unnest(range(1, length(word) + 1)) AS INT) AS pos,
      |         unnest(string_split(word, '')) AS sym, 0 AS it
      |  FROM wf
      |), train AS (
      |  SELECT word, f, pos, sym, it FROM sym0
      |  UNION ALL
      |  SELECT word, f,
      |         CAST(row_number() OVER (PARTITION BY word ORDER BY pos) AS INT) AS pos,
      |         CASE WHEN sel THEN sym || nxt ELSE sym END AS sym,
      |         it + 1 AS it
      |  FROM (
      |    SELECT word, f, pos, sym, nxt, it, sel, mx,
      |           lag(sel) OVER (PARTITION BY word ORDER BY pos) AS psel
      |    FROM (
      |      SELECT word, f, pos, sym, nxt, it, cand, mx,
      |             cand AND ((pos - first_value(pos) OVER (PARTITION BY word, grp, cand ORDER BY pos)) % 2 = 0) AS sel
      |      FROM (
      |        SELECT word, f, pos, sym, nxt, it, cand, mx,
      |               pos - CAST(row_number() OVER (PARTITION BY word, cand ORDER BY pos) AS INT) AS grp
      |        FROM (
      |          SELECT word, f, pos, sym, nxt, it, mx,
      |                 coalesce(sym = bl AND nxt = br, FALSE) AS cand
      |          FROM (
      |            SELECT word, f, pos, sym, nxt, it,
      |                   first_value(sym) OVER (ORDER BY wcv DESC NULLS LAST, sym, nxt) AS bl,
      |                   first_value(nxt) OVER (ORDER BY wcv DESC NULLS LAST, sym, nxt) AS br,
      |                   first_value(wcv) OVER (ORDER BY wcv DESC NULLS LAST, sym, nxt) AS mx
      |            FROM (
      |              SELECT word, f, pos, sym, nxt, it,
      |                     CASE WHEN nxt IS NULL THEN NULL
      |                          ELSE sum(f) OVER (PARTITION BY sym, nxt) END AS wcv
      |              FROM (
      |                SELECT word, f, pos, sym, it,
      |                       lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
      |                FROM train WHERE it < ${nMerges - 1}
      |              )
      |            )
      |          )
      |        )
      |      )
      |    )
      |  )
      |  WHERE NOT coalesce(psel, FALSE) AND mx >= 2
      |), adj AS (
      |  SELECT it, f, sym, lead(sym) OVER (PARTITION BY word, it ORDER BY pos) AS nxt
      |  FROM train
      |), pc AS (
      |  SELECT it, sym AS l, nxt AS r, sum(f) AS c
      |  FROM adj WHERE nxt IS NOT NULL GROUP BY it, sym, nxt
      |), best AS (
      |  SELECT it, l, r, c,
      |         row_number() OVER (PARTITION BY it ORDER BY c DESC, l, r) AS rn
      |  FROM pc
      |)
      |SELECT CAST(it AS BIGINT) AS rank, l AS "left", r AS "right"
      |FROM best WHERE rn = 1 AND c >= 2 ORDER BY rank""".stripMargin
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = quantizerOracles.entries ++ classifierOracles.entries ++ Map(
    "q_metrics" ->
      """SELECT (round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(value) + 1e-9, 4) + 0) AS avg_value,
        |       (round(max(value), 4) + 0) AS max_value,
        |       (round(min(value), 4) + 0) AS min_value,
        |       count(*) AS n_records,
        |       count(DISTINCT user_id) AS n_entities,
        |       max(CAST(floor(epoch(ts)) AS BIGINT)) AS latest_ts
        |FROM events""".stripMargin,
    "q_corr_matrix" ->
      s"""$duckWeatherView
        |SELECT t.col_a, t.col_b, t.corr_v FROM (
        |  SELECT 'temperature' AS col_a, 'temperature' AS col_b, (round(corr(temperature, temperature) + 1e-9, 4) + 0) AS corr_v FROM weather
        |  UNION ALL
        |  SELECT 'temperature', 'humidity', (round(corr(temperature, humidity) + 1e-9, 4) + 0) FROM weather
        |  UNION ALL
        |  SELECT 'temperature', 'wind_speed', (round(corr(temperature, wind_speed) + 1e-9, 4) + 0) FROM weather
        |  UNION ALL
        |  SELECT 'humidity', 'humidity', (round(corr(humidity, humidity) + 1e-9, 4) + 0) FROM weather
        |  UNION ALL
        |  SELECT 'humidity', 'wind_speed', (round(corr(humidity, wind_speed) + 1e-9, 4) + 0) FROM weather
        |  UNION ALL
        |  SELECT 'wind_speed', 'wind_speed', (round(corr(wind_speed, wind_speed) + 1e-9, 4) + 0) FROM weather
        |) t ORDER BY t.col_a, t.col_b""".stripMargin,
    "q_distribution" ->
      """SELECT event_type, count(*) AS cnt
        |FROM events GROUP BY event_type
        |ORDER BY cnt DESC, event_type""".stripMargin,
    "q_group_compare" ->
      """SELECT user_id,
        |       (round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(value) + 1e-9, 4) + 0) AS avg_value,
        |       (round(min(value), 4) + 0) AS min_value,
        |       (round(max(value), 4) + 0) AS max_value,
        |       count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_latest_per_key" ->
      """SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
        |       event_type, value
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,
    "q_load_timerange" ->
      """SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
        |       event_type, value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <  TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY event_id""".stripMargin,
    "q_json_ingest" ->
      s"""SELECT event_id, user_id, k, value FROM (
        |  SELECT event_id, user_id, $duckJsonLong AS k, value
        |  FROM events
        |)
        |WHERE k IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "q_dedup_key" ->
      """SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s, value
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) = 1
        |ORDER BY event_id""".stripMargin,
    // exact daily distincts hash-gated; the HLL estimate enters as
    // the Spark-evaluated bound boolean DuckDB asserts TRUE (a sketch
    // estimate has no cross-engine value — the bound does)
    "q_distinct_sketch_check" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       TRUE AS est_in_bound
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_ingest_metrics" ->
      """SELECT user_id,
        |       count(*) AS n_calls,
        |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
        |       (round(1.0 - sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 1.0 / count(*) + 1e-9, 4) + 0) AS success_rate,
        |       (round(CAST(sum(CAST(CASE WHEN event_type <> 'error' THEN value END AS DECIMAL(38,6))) AS DOUBLE)
        |             / count(CASE WHEN event_type <> 'error' THEN value END) + 1e-9, 4) + 0) AS avg_response_time
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_validate_ingest" ->
      s"""SELECT event_id,
        |       CASE WHEN user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL THEN 1 ELSE 0 END AS has_required,
        |       CASE WHEN value IS NOT NULL AND value >= -100 AND value <= 1000 THEN 1 ELSE 0 END AS value_in_range,
        |       CASE WHEN ($duckJsonStr) IS NOT NULL THEN 1 ELSE 0 END AS json_parseable,
        |       CASE WHEN user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
        |             AND value IS NOT NULL AND value >= -100 AND value <= 1000
        |             AND ($duckJsonStr) IS NOT NULL THEN 1 ELSE 0 END AS is_valid
        |FROM events ORDER BY event_id""".stripMargin,
    "q_recent_window" ->
      """SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
        |       event_type, value
        |FROM events
        |WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 48 HOUR
        |ORDER BY event_id""".stripMargin,
    "q_feature_pipeline" ->
      s"""SELECT event_id, user_id, value,
        |       hour(ts) AS hour,
        |       isodow(ts) - 1 AS day_of_week,
        |       (round(sin(2 * pi() * hour(ts) / 24), 6) + 0) AS hour_sin,
        |       (round(cos(2 * pi() * hour(ts) / 24), 6) + 0) AS hour_cos,
        |       lag(value, 1)  OVER ($duckWindow) AS value_lag_1,
        |       lag(value, 24) OVER ($duckWindow) AS value_lag_24,
        |       (round(avg(value) OVER ($duckWindow ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) + 1e-9, 4) + 0) AS rolling_mean_24,
        |       CASE WHEN count(*) OVER ($duckWindow ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) >= 2
        |            THEN (round(stddev_samp(value) OVER ($duckWindow ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) + 1e-9, 4) + 0)
        |       END AS rolling_std_24,
        |       (round(value - lag(value, 1) OVER ($duckWindow), 4) + 0) AS value_change,
        |       lead(value, 24) OVER ($duckWindow) AS value_future,
        |       CASE WHEN lead(value, 24) OVER ($duckWindow) IS NULL THEN NULL
        |            WHEN lead(value, 24) OVER ($duckWindow) - value <= -2 THEN 'Decrease'
        |            WHEN lead(value, 24) OVER ($duckWindow) - value <= 2 THEN 'Stable'
        |            ELSE 'Increase' END AS change_category
        |FROM events ORDER BY event_id""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |       (round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) + 1e-9, 2) + 0) AS sum_qty,
        |       (round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) + 1e-9, 2) + 0) AS sum_base_price,
        |       (round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6)) * (CAST(1 AS DECIMAL(38,6)) - CAST(l_discount AS DECIMAL(38,6)))) AS DOUBLE) + 1e-9, 2) + 0) AS sum_disc_price,
        |       (round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(l_quantity) + 1e-9, 4) + 0) AS avg_qty,
        |       (round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / count(l_extendedprice) + 1e-9, 4) + 0) AS avg_price,
        |       (round(CAST(sum(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / count(l_discount) + 1e-9, 6) + 0) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_enrich" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
        |       (round(CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / count(c_acctbal) + 1e-9, 4) + 0) AS avg_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "q_topk_revenue" ->
      """SELECT l_orderkey,
        |       (round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6)) * (CAST(1 AS DECIMAL(38,6)) - CAST(l_discount AS DECIMAL(38,6)))) AS DOUBLE) + 1e-9, 2) + 0) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q3_shipping" ->
      """SELECT l_orderkey,
        |       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_epoch,
        |       o_orderpriority,
        |       (round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6)) * (CAST(1 AS DECIMAL(38,6)) - CAST(l_discount AS DECIMAL(38,6)))) AS DOUBLE) + 1e-9, 2) + 0) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q_brand_volume" ->
      """SELECT p_brand,
        |       count(*) AS n_lines,
        |       (round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) + 1e-9, 2) + 0) AS sum_qty,
        |       (round(CAST(sum(CAST(p_retailprice AS DECIMAL(38,6))) AS DOUBLE) / count(p_retailprice) + 1e-9, 4) + 0) AS avg_retail
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_supplier_stats" ->
      """SELECT n_name,
        |       count(*) AS n_suppliers,
        |       (round(CAST(sum(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE) / count(s_acctbal) + 1e-9, 4) + 0) AS avg_bal,
        |       (round(max(s_acctbal), 4) + 0) AS max_bal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_time_features" ->
      """SELECT event_id,
        |       hour(ts) AS hour,
        |       isodow(ts) - 1 AS day_of_week,
        |       month(ts) AS month,
        |       quarter(ts) AS quarter,
        |       dayofyear(ts) AS day_of_year,
        |       (round(sin(2 * pi() * hour(ts) / 24), 6) + 0) AS hour_sin,
        |       (round(cos(2 * pi() * hour(ts) / 24), 6) + 0) AS hour_cos,
        |       (round(sin(2 * pi() * month(ts) / 12), 6) + 0) AS month_sin,
        |       (round(cos(2 * pi() * month(ts) / 12), 6) + 0) AS month_cos,
        |       (round(sin(2 * pi() * (isodow(ts) - 1) / 7), 6) + 0) AS day_sin,
        |       (round(cos(2 * pi() * (isodow(ts) - 1) / 7), 6) + 0) AS day_cos,
        |       CASE WHEN hour(ts) <= 6 THEN 'Night'
        |            WHEN hour(ts) <= 12 THEN 'Morning'
        |            WHEN hour(ts) <= 18 THEN 'Afternoon'
        |            ELSE 'Evening' END AS time_of_day,
        |       CASE WHEN isodow(ts) - 1 >= 5 THEN 1 ELSE 0 END AS is_weekend
        |FROM events ORDER BY event_id""".stripMargin,
    "q_lag_features" ->
      s"""SELECT event_id, user_id, value,
        |       lag(value, 1)  OVER ($duckWindow) AS value_lag_1,
        |       lag(value, 3)  OVER ($duckWindow) AS value_lag_3,
        |       lag(value, 6)  OVER ($duckWindow) AS value_lag_6,
        |       lag(value, 12) OVER ($duckWindow) AS value_lag_12,
        |       lag(value, 24) OVER ($duckWindow) AS value_lag_24
        |FROM events ORDER BY event_id""".stripMargin,
    "q_rolling_stats" ->
      s"""SELECT event_id, user_id, value,
        |       (round(avg(value) OVER ($duckWindow ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) + 1e-9, 4) + 0) AS rolling_mean_24,
        |       CASE WHEN count(*) OVER ($duckWindow ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) >= 2
        |            THEN (round(stddev_samp(value) OVER ($duckWindow ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) + 1e-9, 4) + 0)
        |       END AS rolling_std_24
        |FROM events ORDER BY event_id""".stripMargin,
    "q_weather_indices" ->
      s"""$duckWeatherView
        |SELECT event_id,
        |       (round(-8.78469475556
        |             + 1.61139411 * temperature
        |             + 2.33854883889 * humidity
        |             - 0.14611605 * temperature * humidity
        |             - 0.012308094 * temperature * temperature
        |             - 0.0164248277778 * humidity * humidity
        |             + 0.002211732 * temperature * temperature * humidity
        |             + 0.00072546 * temperature * humidity * humidity
        |             - 0.000003582 * temperature * temperature * humidity * humidity + 1e-9, 4) + 0) AS heat_index,
        |       (round(CASE WHEN temperature < 10
        |             THEN 13.12 + 0.6215 * temperature
        |                  - 11.37 * pow(wind_speed, 0.16)
        |                  + 0.3965 * temperature * pow(wind_speed, 0.16)
        |             ELSE temperature END + 1e-9, 4) + 0) AS wind_chill,
        |       (round(temperature - 0.55 * (1 - 0.01 * humidity) * (temperature - 14.5) + 1e-9, 4) + 0) AS discomfort_index
        |FROM weather ORDER BY event_id""".stripMargin,
    "q_diff" ->
      s"""SELECT event_id, user_id, value,
        |       (round(value - lag(value, 1) OVER ($duckWindow), 4) + 0) AS value_change
        |FROM events ORDER BY event_id""".stripMargin,
    "q_interactions" ->
      s"""$duckWeatherView
        |SELECT event_id,
        |       (round(temperature * humidity, 4) + 0) AS temp_humidity_interaction,
        |       (round(wind_speed * temperature, 4) + 0) AS wind_temp_interaction,
        |       (round(humidity * wind_speed, 4) + 0) AS humidity_wind_interaction
        |FROM weather ORDER BY event_id""".stripMargin,
    "q_target_shift" ->
      s"""SELECT event_id, user_id, value,
        |       lead(value, 24) OVER ($duckWindow) AS value_future,
        |       (round(lead(value, 24) OVER ($duckWindow) - value, 4) + 0) AS value_change,
        |       CASE WHEN lead(value, 24) OVER ($duckWindow) IS NULL THEN NULL
        |            WHEN lead(value, 24) OVER ($duckWindow) - value <= -2 THEN 'Decrease'
        |            WHEN lead(value, 24) OVER ($duckWindow) - value <= 2 THEN 'Stable'
        |            ELSE 'Increase' END AS change_category
        |FROM events ORDER BY event_id""".stripMargin,
    "q_will_rain" ->
      s"""SELECT event_id, user_id,
        |       CASE WHEN lead(event_id, 24) OVER ($duckWindow) IS NOT NULL
        |                 AND sum(CASE WHEN event_type = 'error' THEN value ELSE 0 END)
        |                     OVER ($duckWindow ROWS BETWEEN 1 FOLLOWING AND 24 FOLLOWING) > 0
        |            THEN 1 ELSE 0 END AS will_rain
        |FROM events ORDER BY event_id""".stripMargin,
    "q_daily_range" ->
      """SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |       (round(max(value) - min(value), 4) + 0) AS value_range,
        |       count(*) AS n_events
        |FROM events
        |GROUP BY user_id, strftime(ts, '%Y-%m-%d')
        |ORDER BY user_id, day""".stripMargin,
    "q_sessionize" ->
      s"""WITH marked AS (
        |  SELECT user_id,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ep,
        |         CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER ($duckWindow) IS NULL
        |                OR CAST(floor(epoch(ts)) AS BIGINT)
        |                   - lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER ($duckWindow) > 1800
        |              THEN 1 ELSE 0 END AS is_new,
        |         ts, event_id
        |  FROM events
        |), sess AS (
        |  SELECT user_id, ep,
        |         CAST(sum(is_new) OVER ($duckWindow ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM marked
        |)
        |SELECT user_id, session_idx,
        |       min(ep) AS session_start,
        |       max(ep) AS session_end,
        |       count(*) AS n_events,
        |       max(ep) - min(ep) AS duration_s
        |FROM sess
        |GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    "q_asof_join" ->
      """WITH tagged AS (
        |  SELECT event_id, user_id, ts, value,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_state
        |  FROM events
        |), merged AS (
        |  SELECT event_id, user_id, ts, value, is_state,
        |         last_value(CASE WHEN is_state = 1 THEN value END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, is_state DESC, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_value,
        |         last_value(CASE WHEN is_state = 1 THEN CAST(floor(epoch(ts)) AS BIGINT) END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, is_state DESC, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_ts_s
        |  FROM tagged
        |)
        |SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value,
        |       asof_value, asof_ts_s,
        |       CAST(floor(epoch(ts)) AS BIGINT) - asof_ts_s AS asof_age_s
        |FROM merged
        |WHERE is_state = 0
        |ORDER BY event_id""".stripMargin,
    "q_range_join" ->
      """WITH inc AS (
        |  SELECT event_id AS incident_id, CAST(floor(epoch(ts)) AS BIGINT) AS start_s
        |  FROM events WHERE event_type = 'error'
        |)
        |SELECT i.incident_id, i.start_s,
        |       count(*) AS n_events,
        |       count(DISTINCT e.user_id) AS n_users,
        |       (round(max(e.value) + 1e-9, 4) + 0) AS max_value
        |FROM inc i
        |JOIN events e
        |  ON CAST(floor(epoch(e.ts)) AS BIGINT) >= i.start_s
        | AND CAST(floor(epoch(e.ts)) AS BIGINT) < i.start_s + 1800
        |GROUP BY i.incident_id, i.start_s
        |ORDER BY i.incident_id""".stripMargin,
    "q_quantiles" ->
      """SELECT 0.25 AS quantile, (round(quantile_cont(value, 0.25) + 1e-9, 4) + 0) AS value_q FROM events
        |UNION ALL
        |SELECT 0.5, (round(quantile_cont(value, 0.5) + 1e-9, 4) + 0) FROM events
        |UNION ALL
        |SELECT 0.75, (round(quantile_cont(value, 0.75) + 1e-9, 4) + 0) FROM events
        |UNION ALL
        |SELECT 0.95, (round(quantile_cont(value, 0.95) + 1e-9, 4) + 0) FROM events
        |ORDER BY quantile""".stripMargin,
    // exact interpolated quantiles + non-null count hash-gated; the GK
    // sketch value enters as the Spark-evaluated rank-bound boolean
    // DuckDB asserts TRUE (a sketch observation has no cross-engine
    // value — its rank contract does); the distinct_sketch_check /
    // heavy_hitters_check pattern
    "q_quantiles_approx_check" ->
      """WITH nv AS (SELECT CAST(count(value) AS BIGINT) AS n_rows FROM events)
        |SELECT 0.25 AS quantile, n_rows, (round((SELECT quantile_cont(value, 0.25) FROM events) + 1e-9, 4) + 0) AS exact_q, TRUE AS rank_in_bound FROM nv
        |UNION ALL
        |SELECT 0.5, n_rows, (round((SELECT quantile_cont(value, 0.5) FROM events) + 1e-9, 4) + 0), TRUE FROM nv
        |UNION ALL
        |SELECT 0.75, n_rows, (round((SELECT quantile_cont(value, 0.75) FROM events) + 1e-9, 4) + 0), TRUE FROM nv
        |UNION ALL
        |SELECT 0.95, n_rows, (round((SELECT quantile_cont(value, 0.95) FROM events) + 1e-9, 4) + 0), TRUE FROM nv
        |ORDER BY quantile""".stripMargin,
    "q_ffill" ->
      s"""$duckMasked
        |SELECT event_id, user_id, value,
        |       last_value(value IGNORE NULLS)
        |         OVER ($duckWindow ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS value_ffill
        |FROM masked ORDER BY event_id""".stripMargin,
    "q_interpolate" ->
      s"""$duckMasked,
        |base AS (
        |  SELECT event_id, user_id, ts, value,
        |         row_number() OVER ($duckWindow) AS rn
        |  FROM masked
        |),
        |ext AS (
        |  SELECT event_id, user_id, value, rn,
        |         last_value(value IGNORE NULLS) OVER ($duckWindow ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |         last_value(CASE WHEN value IS NOT NULL THEN rn END IGNORE NULLS) OVER ($duckWindow ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pr,
        |         first_value(value IGNORE NULLS) OVER ($duckWindow ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |         first_value(CASE WHEN value IS NOT NULL THEN rn END IGNORE NULLS) OVER ($duckWindow ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nr
        |  FROM base
        |)
        |SELECT event_id, user_id, value,
        |       (round(CASE WHEN value IS NOT NULL THEN value
        |                  WHEN pv IS NULL THEN NULL
        |                  WHEN nv IS NULL THEN pv
        |                  ELSE pv + (nv - pv) * (rn - pr) / CAST(nr - pr AS DOUBLE)
        |             END + 1e-9, 4) + 0) AS value_interp
        |FROM ext ORDER BY event_id""".stripMargin,
    "q_mode_fill" ->
      s"""$duckMasked,
        |modes AS (
        |  SELECT user_id, event_type AS mode_type
        |  FROM (SELECT user_id, event_type, count(*) AS c
        |        FROM masked WHERE event_type IS NOT NULL
        |        GROUP BY user_id, event_type)
        |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY c DESC, event_type) = 1
        |)
        |SELECT m.event_id, m.user_id,
        |       coalesce(m.event_type, md.mode_type) AS event_type_filled
        |FROM masked m JOIN modes md USING (user_id)
        |ORDER BY m.event_id""".stripMargin,
    "q_null_filter" ->
      s"""$duckMasked
        |SELECT event_id, user_id,
        |       (CASE WHEN event_type IS NULL THEN 1 ELSE 0 END
        |        + CASE WHEN value IS NULL THEN 1 ELSE 0 END
        |        + CASE WHEN humidity IS NULL THEN 1 ELSE 0 END
        |        + CASE WHEN wind_speed IS NULL THEN 1 ELSE 0 END) AS n_nulls
        |FROM masked
        |WHERE (CASE WHEN event_type IS NULL THEN 1 ELSE 0 END
        |       + CASE WHEN value IS NULL THEN 1 ELSE 0 END
        |       + CASE WHEN humidity IS NULL THEN 1 ELSE 0 END
        |       + CASE WHEN wind_speed IS NULL THEN 1 ELSE 0 END) <= 2
        |ORDER BY event_id""".stripMargin,
    "q_label_encode" ->
      """SELECT event_id, event_type,
        |       dense_rank() OVER (ORDER BY event_type) - 1 AS type_code
        |FROM events ORDER BY event_id""".stripMargin,
    "q_standard_scale" ->
      """WITH stats AS (
        |  SELECT (round(avg(value) + 1e-9, 4) + 0) AS m,
        |         (round(stddev_pop(value) + 1e-9, 4) + 0) AS s
        |  FROM events
        |)
        |SELECT event_id, value, (round((value - m) / s, 6) + 0) AS value_scaled
        |FROM events CROSS JOIN stats ORDER BY event_id""".stripMargin,
    "q_quality_dups" ->
      """SELECT count(*) AS n_dup_keys,
        |       CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS n_dup_rows
        |FROM (SELECT user_id, ts, count(*) AS c
        |      FROM events GROUP BY user_id, ts HAVING count(*) > 1)""".stripMargin,
    "q_quality_missing" ->
      s"""$duckMasked
        |SELECT t.column_name,
        |       t.n_null,
        |       (round(t.n_null * 1.0 / t.n_total + 1e-9, 4) + 0) AS pct_null
        |FROM (
        |  SELECT 'event_type' AS column_name, count(*) - count(event_type) AS n_null, count(*) AS n_total FROM masked
        |  UNION ALL
        |  SELECT 'value', count(*) - count(value), count(*) FROM masked
        |  UNION ALL
        |  SELECT 'humidity', count(*) - count(humidity), count(*) FROM masked
        |  UNION ALL
        |  SELECT 'wind_speed', count(*) - count(wind_speed), count(*) FROM masked
        |) t ORDER BY t.column_name""".stripMargin,
    "q_quality_range" ->
      s"""$duckWeatherView
        |SELECT 'temperature' AS column_name,
        |       CAST(sum(CASE WHEN temperature < -50 THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
        |       CAST(sum(CASE WHEN temperature > 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_above
        |FROM weather
        |UNION ALL
        |SELECT 'humidity',
        |       CAST(sum(CASE WHEN humidity < 0 THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(sum(CASE WHEN humidity > 100 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM weather
        |UNION ALL
        |SELECT 'wind_speed',
        |       CAST(sum(CASE WHEN wind_speed < 0 THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(sum(CASE WHEN wind_speed > 150 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM weather
        |ORDER BY column_name""".stripMargin,
    "q_quality_highnull" ->
      s"""$duckMasked
        |SELECT CAST(sum(CASE WHEN
        |         (CASE WHEN event_type IS NULL THEN 1 ELSE 0 END
        |          + CASE WHEN value IS NULL THEN 1 ELSE 0 END
        |          + CASE WHEN humidity IS NULL THEN 1 ELSE 0 END
        |          + CASE WHEN wind_speed IS NULL THEN 1 ELSE 0 END) > 2
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_high_null_rows
        |FROM masked""".stripMargin,
    "q_quality_report" ->
      s"""$duckMasked,
        |weather AS (
        |  SELECT event_id, user_id, ts,
        |         value AS temperature,
        |         $duckJsonDouble AS humidity,
        |         CAST(event_id % 30 AS DOUBLE) + 0.5 AS wind_speed
        |  FROM events
        |),
        |ov AS (
        |  SELECT count(*) AS n_records, count(DISTINCT user_id) AS n_entities,
        |         min(CAST(floor(epoch(ts)) AS BIGINT)) AS min_ts_s,
        |         max(CAST(floor(epoch(ts)) AS BIGINT)) AS max_ts_s
        |  FROM events
        |),
        |dup AS (
        |  SELECT count(*) AS n_dup_keys, coalesce(sum(c - 1), 0) AS n_dup_rows
        |  FROM (SELECT user_id, ts, count(*) AS c
        |        FROM events GROUP BY user_id, ts HAVING count(*) > 1)
        |),
        |mp AS (
        |  SELECT 'event_type' AS column_name, count(*) - count(event_type) AS n_null, count(*) AS n_total FROM masked
        |  UNION ALL SELECT 'value', count(*) - count(value), count(*) FROM masked
        |  UNION ALL SELECT 'humidity', count(*) - count(humidity), count(*) FROM masked
        |  UNION ALL SELECT 'wind_speed', count(*) - count(wind_speed), count(*) FROM masked
        |),
        |rc AS (
        |  SELECT 'temperature' AS column_name,
        |         sum(CASE WHEN temperature < -50 THEN 1 ELSE 0 END) AS n_below,
        |         sum(CASE WHEN temperature > 60 THEN 1 ELSE 0 END) AS n_above FROM weather
        |  UNION ALL SELECT 'humidity',
        |         sum(CASE WHEN humidity < 0 THEN 1 ELSE 0 END),
        |         sum(CASE WHEN humidity > 100 THEN 1 ELSE 0 END) FROM weather
        |  UNION ALL SELECT 'wind_speed',
        |         sum(CASE WHEN wind_speed < 0 THEN 1 ELSE 0 END),
        |         sum(CASE WHEN wind_speed > 150 THEN 1 ELSE 0 END) FROM weather
        |),
        |hn AS (
        |  SELECT sum(CASE WHEN
        |           (CASE WHEN event_type IS NULL THEN 1 ELSE 0 END
        |            + CASE WHEN value IS NULL THEN 1 ELSE 0 END
        |            + CASE WHEN humidity IS NULL THEN 1 ELSE 0 END
        |            + CASE WHEN wind_speed IS NULL THEN 1 ELSE 0 END) > 2
        |         THEN 1 ELSE 0 END) AS n_high_null_rows
        |  FROM masked
        |)
        |SELECT 'overview' AS check_name, 'dataset' AS item, 'n_records' AS metric, CAST(n_records AS DOUBLE) AS value FROM ov
        |UNION ALL SELECT 'overview', 'dataset', 'n_entities', CAST(n_entities AS DOUBLE) FROM ov
        |UNION ALL SELECT 'overview', 'dataset', 'min_ts_s', CAST(min_ts_s AS DOUBLE) FROM ov
        |UNION ALL SELECT 'overview', 'dataset', 'max_ts_s', CAST(max_ts_s AS DOUBLE) FROM ov
        |UNION ALL SELECT 'duplicates', 'user_id,ts', 'n_dup_keys', CAST(n_dup_keys AS DOUBLE) FROM dup
        |UNION ALL SELECT 'duplicates', 'user_id,ts', 'n_dup_rows', CAST(n_dup_rows AS DOUBLE) FROM dup
        |UNION ALL SELECT 'missing', column_name, 'n_null', CAST(n_null AS DOUBLE) FROM mp
        |UNION ALL SELECT 'missing', column_name, 'pct_null', (round(n_null * 1.0 / n_total + 1e-9, 4) + 0) FROM mp
        |UNION ALL SELECT 'range', column_name, 'n_above', CAST(n_above AS DOUBLE) FROM rc
        |UNION ALL SELECT 'range', column_name, 'n_below', CAST(n_below AS DOUBLE) FROM rc
        |UNION ALL SELECT 'high_null', 'row', 'n_high_null_rows', CAST(n_high_null_rows AS DOUBLE) FROM hn
        |ORDER BY check_name, item, metric""".stripMargin,
    "q_feature_stats" ->
      s"""$duckWeatherView
        |SELECT 'humidity' AS feature,
        |       (round(avg(humidity) + 1e-9, 4) + 0) AS mean,
        |       (round(stddev_samp(humidity) + 1e-9, 4) + 0) AS std,
        |       (round(min(humidity) + 1e-9, 4) + 0) AS min_v,
        |       (round(max(humidity) + 1e-9, 4) + 0) AS max_v,
        |       count(*) - count(humidity) AS n_null,
        |       (round(corr(humidity, temperature) + 1e-9, 4) + 0) AS corr_target
        |FROM weather
        |UNION ALL
        |SELECT 'wind_speed',
        |       (round(avg(wind_speed) + 1e-9, 4) + 0),
        |       (round(stddev_samp(wind_speed) + 1e-9, 4) + 0),
        |       (round(min(wind_speed) + 1e-9, 4) + 0),
        |       (round(max(wind_speed) + 1e-9, 4) + 0),
        |       count(*) - count(wind_speed),
        |       (round(corr(wind_speed, temperature) + 1e-9, 4) + 0)
        |FROM weather
        |ORDER BY feature""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash,
        |       min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "q_dedup_keepbest" ->
      """WITH tok AS (
        |  SELECT doc_id, text,
        |         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks,
        |         length(text) AS n_chars,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, content_hash,
        |         CAST(len(toks) AS DOUBLE) AS n_tok,
        |         CAST(n_chars AS DOUBLE) AS n_chars,
        |         CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','is','in','to'))) AS DOUBLE) AS n_stop,
        |         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) AS n_punct
        |  FROM tok
        |), q AS (
        |  SELECT doc_id, content_hash,
        |         (round(least(n_tok / 200.0, 1.0) * 0.5 + (n_stop / greatest(n_tok, 1.0)) * 0.25
        |               + (1.0 - n_punct / greatest(n_chars, 1.0)) * 0.25 + 1e-9, 4) + 0) AS quality_score
        |  FROM m
        |), s AS (
        |  SELECT content_hash, doc_id, quality_score,
        |         row_number() OVER (PARTITION BY content_hash ORDER BY quality_score DESC, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY content_hash) AS n_copies
        |  FROM q
        |)
        |SELECT content_hash, doc_id AS keep_id, quality_score AS best_quality, n_copies
        |FROM s WHERE rn = 1 ORDER BY keep_id""".stripMargin,
    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source, n_tokens,
        |         CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM t
        |)
        |SELECT doc_id, source, n_tokens,
        |       cum_before // 2048 AS pack_id,
        |       cum_before % 2048 AS start_offset
        |FROM c ORDER BY source, doc_id""".stripMargin,
    "q_token_count" ->
      """WITH norm AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS ntext
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CAST(len(string_split(ntext, ' ')) AS BIGINT) AS n_ws_tokens,
        |       CAST(len(regexp_extract_all(ntext, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_bpe_tokens
        |FROM norm ORDER BY doc_id""".stripMargin,
    // greedy BPE APPLICATION replicated in SQL (see bpeChainSql) —
    // count form and piece form of the same per-word fixed point
    "q_token_count_bpe" ->
      s"""$bpeChainSql, wcount AS (
        |  SELECT word, count(*) AS n FROM pieces GROUP BY word
        |), doctot AS (
        |  SELECT w.doc_id, sum(c.n) AS nb
        |  FROM words w JOIN wcount c ON c.word = w.word
        |  GROUP BY w.doc_id
        |)
        |SELECT norm.doc_id,
        |       CAST(len(string_split(ntext, ' ')) AS BIGINT) AS n_ws_tokens,
        |       CAST(coalesce(d.nb, 0) AS BIGINT) AS n_bpe_tokens
        |FROM norm LEFT JOIN doctot d ON d.doc_id = norm.doc_id
        |ORDER BY norm.doc_id""".stripMargin,
    "q_tokenize_bpe" ->
      s"""$bpeChainSql
        |SELECT w.doc_id,
        |       CAST(row_number() OVER (PARTITION BY w.doc_id ORDER BY w.widx, p.pos) - 1 AS INT) AS pos,
        |       p.sym AS piece
        |FROM words w JOIN pieces p ON p.word = w.word
        |ORDER BY doc_id, pos""".stripMargin,
    // greedy BPE merge LEARNING replicated in SQL (see bpeTrainSql);
    // 50 = the nMerges the query entry trains
    "q_train_bpe" -> bpeTrainSql(50),
    // the PII patterns AND boundary-restoring replacements interpolate
    // from TextAnalysis so both engines compile the exact same regex
    // source (Java regex ∩ RE2 syntax; boundaries are explicit
    // captured classes, not \b — see TextAnalysis.ipPat)
    "q_redact_pii" ->
      // the IP replace runs twice (pass-1 consumes the boundary char
      // the next adjacent IP needed — see TextAnalysis.redactPii); the
      // count sums both passes' matches
      s"""WITH t1 AS (
        |  SELECT doc_id, text,
        |         regexp_replace(text, '${TextAnalysis.emailPat}', '<EMAIL>', 'g') AS a
        |  FROM documents
        |), t2a AS (
        |  SELECT doc_id, text, a,
        |         regexp_replace(a, '${TextAnalysis.ipPat}', '${TextAnalysis.ipReplDuck}', 'g') AS b1
        |  FROM t1
        |), t2 AS (
        |  SELECT doc_id, text, a, b1,
        |         regexp_replace(b1, '${TextAnalysis.ipPat}', '${TextAnalysis.ipReplDuck}', 'g') AS b
        |  FROM t2a
        |)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '${TextAnalysis.emailPat}')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(a, '${TextAnalysis.ipPat}'))
        |            + len(regexp_extract_all(b1, '${TextAnalysis.ipPat}')) AS BIGINT) AS n_ips,
        |       CAST(len(regexp_extract_all(b, '${TextAnalysis.phonePat}')) AS BIGINT) AS n_phones,
        |       regexp_replace(b, '${TextAnalysis.phonePat}', '${TextAnalysis.phoneReplDuck}', 'g') AS text_redacted
        |FROM t2 ORDER BY doc_id""".stripMargin,
    "q_quality_filter" ->
      """WITH tok AS (
        |  SELECT doc_id, text,
        |         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
        |         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS DOUBLE) AS n_tok,
        |         (CAST(length(norm) AS DOUBLE) - (CAST(len(toks) AS DOUBLE) - 1))
        |           / greatest(CAST(len(toks) AS DOUBLE), 1.0) AS mean_wl,
        |         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE)
        |           / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio,
        |         len(list_filter(toks, t -> t IN ('the','a','of','and','is','in','to'))) AS n_stop
        |  FROM tok
        |)
        |SELECT doc_id,
        |       CAST(n_tok AS BIGINT) AS n_tokens,
        |       (round(mean_wl + 1e-9, 4) + 0) AS mean_word_len,
        |       CAST(CASE WHEN n_tok >= 20 AND n_tok <= 100000 THEN 1 ELSE 0 END AS BIGINT) AS pass_length,
        |       CAST(CASE WHEN mean_wl >= 3.0 AND mean_wl <= 10.0 THEN 1 ELSE 0 END AS BIGINT) AS pass_word_len,
        |       CAST(CASE WHEN punct_ratio <= 0.2 THEN 1 ELSE 0 END AS BIGINT) AS pass_punct,
        |       CAST(CASE WHEN n_stop >= 1 THEN 1 ELSE 0 END AS BIGINT) AS pass_stopword,
        |       CAST(CASE WHEN n_tok >= 20 AND n_tok <= 100000
        |                  AND mean_wl >= 3.0 AND mean_wl <= 10.0
        |                  AND punct_ratio <= 0.2 AND n_stop >= 1
        |            THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |         greatest(len(toks) - 2, 0) AS n_ngrams,
        |         CASE WHEN len(toks) >= 3 THEN
        |           len(list_distinct(list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
        |         ELSE 0 END AS n_distinct
        |  FROM tok
        |)
        |SELECT doc_id,
        |       CAST(n_ngrams AS BIGINT) AS n_ngrams,
        |       CAST(n_distinct AS BIGINT) AS n_distinct,
        |       CASE WHEN n_ngrams > 0
        |            THEN (round(1.0 - n_distinct * 1.0 / n_ngrams + 1e-9, 4) + 0)
        |            ELSE 0.0 END AS repetition_ratio
        |FROM g ORDER BY doc_id""".stripMargin,
    "q_decontaminate" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, source,
        |         list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM tok WHERE len(toks) >= 3
        |), bench AS (
        |  SELECT DISTINCT unnest(sh) AS s FROM sh WHERE source = 'src0'
        |), corpus AS (
        |  SELECT doc_id, unnest(sh) AS s FROM sh WHERE source <> 'src0'
        |), hits AS (
        |  SELECT c.doc_id, count(DISTINCT c.s) AS n_shared
        |  FROM corpus c JOIN bench b ON c.s = b.s GROUP BY c.doc_id
        |)
        |SELECT d.doc_id,
        |       CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
        |       CAST(CASE WHEN coalesce(h.n_shared, 0) >= 3 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.source <> 'src0'
        |ORDER BY d.doc_id""".stripMargin,
    "q_decontaminate_fuzzy" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, source,
        |         list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM tok WHERE len(toks) >= 3
        |), bench AS (
        |  SELECT doc_id AS bench_id, len(sh) AS nb, unnest(sh) AS s FROM sh
        |  WHERE source = 'src0' AND len(sh) > 0
        |), corpus AS (
        |  SELECT doc_id, unnest(sh) AS s FROM sh WHERE source <> 'src0'
        |), hits AS (
        |  SELECT c.doc_id, b.bench_id, count(*) * 1.0 / any_value(b.nb) AS cont
        |  FROM corpus c JOIN bench b ON c.s = b.s
        |  GROUP BY c.doc_id, b.bench_id
        |), best AS (
        |  SELECT doc_id, bench_id, cont,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY cont DESC, bench_id) AS rn
        |  FROM hits
        |)
        |SELECT d.doc_id,
        |       CAST(coalesce(b.bench_id, -1) AS BIGINT) AS best_bench,
        |       (round(coalesce(b.cont, 0) + 1e-9, 4) + 0) AS containment,
        |       CAST(CASE WHEN b.cont >= 0.8 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        |FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.doc_id
        |WHERE d.source <> 'src0'
        |ORDER BY d.doc_id""".stripMargin,
    "q_unigram_logprob" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
        |  FROM documents
        |), t AS (SELECT doc_id, token FROM tok WHERE token <> ''),
        |freq AS (SELECT token, count(*) AS n_tok FROM t GROUP BY token),
        |tot AS (SELECT count(*) AS n_total FROM t)
        |SELECT doc_id, count(*) AS n_tokens,
        |       (round(CAST(sum(CAST((round(-log2(n_tok * 1.0 / n_total) + 1e-9, 6) + 0) AS DECIMAL(38,6))) AS DOUBLE) / count(*) + 1e-9, 4) + 0) AS mean_nll
        |FROM t JOIN freq USING (token) CROSS JOIN tot
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // DSIR importance: add-one-smoothed unigram llr over the union
    // vocab; the per-token ratio is ONE quotient of exact integer-
    // valued double products, so the single log2 sits inside the 6dp
    // nudge (see TextAnalysis.importanceWeights)
    "q_importance_weights" ->
      """WITH rt AS (
        |  SELECT doc_id,
        |         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
        |  FROM documents WHERE source <> 'src0'
        |), r AS (SELECT doc_id, token FROM rt WHERE token <> ''),
        |tt AS (
        |  SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
        |  FROM documents WHERE source = 'src0'
        |), tk AS (SELECT token FROM tt WHERE token <> ''),
        |rf AS (SELECT token, count(*) AS c_r FROM r GROUP BY token),
        |tf AS (SELECT token, count(*) AS c_t FROM tk GROUP BY token),
        |vocab AS (
        |  SELECT coalesce(rf.token, tf.token) AS token,
        |         coalesce(c_r, 0) AS c_r, coalesce(c_t, 0) AS c_t
        |  FROM rf FULL OUTER JOIN tf ON rf.token = tf.token
        |), tot AS (
        |  SELECT sum(c_r) AS n_r, sum(c_t) AS n_t, count(*) AS v FROM vocab
        |)
        |SELECT doc_id, count(*) AS n_tokens,
        |       (round(CAST(sum(CAST((round(log2(((c_t + 1) * 1.0 * (n_r + v)) / ((c_r + 1) * 1.0 * (n_t + v))) + 1e-9, 6) + 0) AS DECIMAL(38,6))) AS DOUBLE) / count(*) + 1e-9, 4) + 0) AS importance
        |FROM r JOIN vocab USING (token) CROSS JOIN tot
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // hashed-bigram DSIR: bigram strings re-formed from the token
    // list, hashed through the SAME poly64+mix64 emulation the
    // hashEmbedCte chain validated (wrapping 64-bit multiplies as
    // 32x32 HUGEINT splits), bucket = (h >> 1) % 4096; smoothing over
    // the FIXED bucket space (V = 4096 literal, not the observed
    // vocab — the paper's construction)
    "q_importance_weights_ng" ->
      """WITH docs2 AS (
        |  SELECT doc_id, source,
        |         list_filter(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '), t -> t <> '') AS arr
        |  FROM documents
        |), bi AS (
        |  SELECT doc_id, (source = 'src0') AS tgt,
        |         arr[CAST(i AS INT)] || ' ' || arr[CAST(i AS INT) + 1] AS t
        |  FROM docs2, unnest(range(1, len(arr))) AS u(i)
        |), tb AS (
        |  SELECT doc_id, tgt, hex(encode(t)) AS h, octet_length(encode(t)) AS nb FROM bi
        |), p AS (
        |  SELECT doc_id, tgt,
        |    CAST(list_reduce(
        |      list_prepend(1125899906842597::HUGEINT,
        |        list_transform(range(0, nb), i ->
        |          CAST((strpos('0123456789ABCDEF', h[2*i+1]) - 1) * 16
        |             + (strpos('0123456789ABCDEF', h[2*i+2]) - 1) AS HUGEINT))),
        |      (acc, x) -> (acc * 31 + x) % 18446744073709551616::HUGEINT) AS UBIGINT) AS x
        |  FROM tb
        |), s1 AS (SELECT doc_id, tgt, xor(x, x >> 33) AS a FROM p),
        |m1 AS (SELECT doc_id, tgt, CAST(((((a::HUGEINT // 4294967296) * 3981806797 + (a::HUGEINT % 4294967296) * 4283543511) % 4294967296) * 4294967296
        |       + (a::HUGEINT % 4294967296) * 3981806797) % 18446744073709551616::HUGEINT AS UBIGINT) AS b FROM s1),
        |s2 AS (SELECT doc_id, tgt, xor(b, b >> 33) AS c FROM m1),
        |m2 AS (SELECT doc_id, tgt, CAST(((((c::HUGEINT // 4294967296) * 444984403 + (c::HUGEINT % 4294967296) * 3301882366) % 4294967296) * 4294967296
        |       + (c::HUGEINT % 4294967296) * 444984403) % 18446744073709551616::HUGEINT AS UBIGINT) AS d FROM s2),
        |hx AS (SELECT doc_id, tgt, xor(d, d >> 33) AS h FROM m2),
        |bk AS (SELECT doc_id, tgt, CAST((h >> 1) % 4096 AS BIGINT) AS bucket FROM hx),
        |rc AS (SELECT bucket, count(*) AS c_r FROM bk WHERE NOT tgt GROUP BY bucket),
        |tc AS (SELECT bucket, count(*) AS c_t FROM bk WHERE tgt GROUP BY bucket),
        |vocab AS (
        |  SELECT coalesce(rc.bucket, tc.bucket) AS bucket,
        |         coalesce(c_r, 0) AS c_r, coalesce(c_t, 0) AS c_t
        |  FROM rc FULL OUTER JOIN tc ON rc.bucket = tc.bucket
        |), tot AS (SELECT sum(c_r) AS n_r, sum(c_t) AS n_t FROM vocab)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       (round(CAST(sum(CAST((round(log2(((c_t + 1) * 1.0 * (n_r + 4096)) / ((c_r + 1) * 1.0 * (n_t + 4096))) + 1e-9, 6) + 0) AS DECIMAL(38,6))) AS DOUBLE) / count(*) + 1e-9, 4) + 0) AS importance
        |FROM bk JOIN vocab USING (bucket) CROSS JOIN tot
        |WHERE NOT tgt
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // DSIR end-to-end: the ng chain generalized to POOLED features
    // (unigram strings UNION bigram strings through the same
    // poly64+mix64 HUGEINT emulation), per-doc log_w = 4dp DECIMAL
    // sum of 6dp natural-log ratios, then the log-space A-ES key
    // g - log_w with g = 9dp ln(-ln(u)) of the exact dyadic Knuth
    // salt uniform — exp never evaluated on either engine
    "q_dsir_select" ->
      """WITH docs2 AS (
        |  SELECT doc_id, source,
        |         list_filter(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '), t -> t <> '') AS arr
        |  FROM documents
        |), feats AS (
        |  SELECT doc_id, (source = 'src0') AS tgt, arr[CAST(i AS INT)] AS t
        |  FROM docs2, unnest(range(1, len(arr) + 1)) AS u(i)
        |  UNION ALL
        |  SELECT doc_id, (source = 'src0') AS tgt,
        |         arr[CAST(i AS INT)] || ' ' || arr[CAST(i AS INT) + 1] AS t
        |  FROM docs2, unnest(range(1, len(arr))) AS u(i)
        |), tb AS (
        |  SELECT doc_id, tgt, hex(encode(t)) AS h, octet_length(encode(t)) AS nb FROM feats
        |), p AS (
        |  SELECT doc_id, tgt,
        |    CAST(list_reduce(
        |      list_prepend(1125899906842597::HUGEINT,
        |        list_transform(range(0, nb), i ->
        |          CAST((strpos('0123456789ABCDEF', h[2*i+1]) - 1) * 16
        |             + (strpos('0123456789ABCDEF', h[2*i+2]) - 1) AS HUGEINT))),
        |      (acc, x) -> (acc * 31 + x) % 18446744073709551616::HUGEINT) AS UBIGINT) AS x
        |  FROM tb
        |), s1 AS (SELECT doc_id, tgt, xor(x, x >> 33) AS a FROM p),
        |m1 AS (SELECT doc_id, tgt, CAST(((((a::HUGEINT // 4294967296) * 3981806797 + (a::HUGEINT % 4294967296) * 4283543511) % 4294967296) * 4294967296
        |       + (a::HUGEINT % 4294967296) * 3981806797) % 18446744073709551616::HUGEINT AS UBIGINT) AS b FROM s1),
        |s2 AS (SELECT doc_id, tgt, xor(b, b >> 33) AS c FROM m1),
        |m2 AS (SELECT doc_id, tgt, CAST(((((c::HUGEINT // 4294967296) * 444984403 + (c::HUGEINT % 4294967296) * 3301882366) % 4294967296) * 4294967296
        |       + (c::HUGEINT % 4294967296) * 444984403) % 18446744073709551616::HUGEINT AS UBIGINT) AS d FROM s2),
        |hx AS (SELECT doc_id, tgt, xor(d, d >> 33) AS h FROM m2),
        |bk AS (SELECT doc_id, tgt, CAST((h >> 1) % 4096 AS BIGINT) AS bucket FROM hx),
        |rc AS (SELECT bucket, count(*) AS c_r FROM bk WHERE NOT tgt GROUP BY bucket),
        |tc AS (SELECT bucket, count(*) AS c_t FROM bk WHERE tgt GROUP BY bucket),
        |vocab AS (
        |  SELECT coalesce(rc.bucket, tc.bucket) AS bucket,
        |         coalesce(c_r, 0) AS c_r, coalesce(c_t, 0) AS c_t
        |  FROM rc FULL OUTER JOIN tc ON rc.bucket = tc.bucket
        |), tot AS (SELECT sum(c_r) AS n_r, sum(c_t) AS n_t FROM vocab),
        |w AS (
        |  SELECT doc_id, count(*) AS n_features,
        |         (round(CAST(sum(CAST((round(ln(((c_t + 1) * 1.0 * (n_r + 4096)) / ((c_r + 1) * 1.0 * (n_t + 4096))) + 1e-9, 6) + 0) AS DECIMAL(38,6))) AS DOUBLE) + 1e-9, 4) + 0) AS log_w
        |  FROM bk JOIN vocab USING (bucket) CROSS JOIN tot
        |  WHERE NOT tgt
        |  GROUP BY doc_id
        |)
        |SELECT doc_id, n_features, log_w,
        |       ((round(ln(-ln(((((doc_id % 2147483648 + 2147483648) % 2147483648) * 2654435761) % 4294967296 + 0.5) / 4294967296.0)) + 1e-9, 9) + 0) - log_w + 0) AS sample_key
        |FROM w
        |ORDER BY sample_key, doc_id
        |LIMIT 100""".stripMargin,
    "q_mix_quality" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
        |  FROM documents
        |), t AS (SELECT doc_id, token FROM tok WHERE token <> ''),
        |freq AS (SELECT token, count(*) AS n_tok FROM t GROUP BY token),
        |tot AS (SELECT count(*) AS n_total FROM t),
        |scored AS (
        |  SELECT doc_id,
        |         (round(CAST(sum(CAST((round(-log2(n_tok * 1.0 / n_total) + 1e-9, 6) + 0) AS DECIMAL(38,6))) AS DOUBLE) / count(*) + 1e-9, 4) + 0) AS mean_nll
        |  FROM t JOIN freq USING (token) CROSS JOIN tot
        |  GROUP BY doc_id
        |), bucketed AS (
        |  SELECT doc_id, mean_nll,
        |         CAST(CASE WHEN mean_nll >= CAST(4.90 AS DOUBLE) THEN 1 ELSE 0 END
        |            + CASE WHEN mean_nll >= CAST(4.92 AS DOUBLE) THEN 1 ELSE 0 END AS BIGINT) AS bucket
        |  FROM scored
        |), ranked AS (
        |  SELECT doc_id, bucket, mean_nll,
        |         row_number() OVER (PARTITION BY bucket
        |           ORDER BY (((doc_id % 2147483648 + 2147483648) % 2147483648) * 2654435761) % 4294967296, doc_id) AS rn
        |  FROM bucketed
        |)
        |SELECT doc_id, bucket, mean_nll, CAST(rn AS BIGINT) AS sample_rank
        |FROM ranked
        |WHERE rn <= CASE bucket WHEN 0 THEN 50 WHEN 1 THEN 100 ELSE 30 END
        |ORDER BY bucket, sample_rank""".stripMargin,
    "q_length_histogram" ->
      """WITH t AS (
        |  SELECT len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS n
        |  FROM documents
        |), tot AS (SELECT sum(n) AS n_total FROM t)
        |SELECT CAST(
        |         CASE WHEN n >= 16 THEN 1 ELSE 0 END
        |       + CASE WHEN n >= 64 THEN 1 ELSE 0 END
        |       + CASE WHEN n >= 256 THEN 1 ELSE 0 END
        |       + CASE WHEN n >= 1024 THEN 1 ELSE 0 END AS BIGINT) AS bucket,
        |       count(*) AS n_docs,
        |       CAST(sum(n) AS BIGINT) AS n_tokens,
        |       (round(sum(n) * 1.0 / any_value(n_total) + 1e-9, 6) + 0) AS token_share
        |FROM t CROSS JOIN tot
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,
    "q_source_overlap" ->
      """WITH tok AS (
        |  SELECT source,
        |         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |), shx AS (
        |  SELECT source, unnest(list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |  FROM tok WHERE len(toks) >= 3
        |), sh AS (SELECT DISTINCT source, s FROM shx),
        |totals AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source),
        |shared AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT src_a, src_b, n_shared, ta.n_sh AS n_a, tb.n_sh AS n_b,
        |       (round(n_shared * 1.0 / least(ta.n_sh, tb.n_sh) + 1e-9, 6) + 0) AS containment
        |FROM shared JOIN totals ta ON shared.src_a = ta.source
        |            JOIN totals tb ON shared.src_b = tb.source
        |ORDER BY src_a, src_b""".stripMargin,
    "q_corpus_diff" ->
      """WITH o AS (
        |  SELECT doc_id,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h_old
        |  FROM documents WHERE doc_id % 13 <> 0
        |), n AS (
        |  SELECT doc_id,
        |         md5(regexp_replace(lower(trim(
        |           CASE WHEN doc_id % 17 = 0 THEN text || ' revised' ELSE text END)),
        |           '\s+', ' ', 'g')) AS h_new
        |  FROM documents WHERE doc_id % 19 <> 0
        |)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN n.doc_id IS NULL THEN 'removed'
        |            WHEN h_old <> h_new THEN 'changed'
        |            ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    // add-one smoothing over the UNION vocabulary; p's scaled to
    // per-mille BEFORE the 6dp round (raw unigram p's quantize to
    // nothing at 6dp); rank on the ROUNDED |dp| like every FP rank
    "q_vocab_drift" ->
      """WITH oldtok AS (
        |  SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
        |  FROM documents WHERE doc_id % 13 <> 0
        |), newtok AS (
        |  SELECT unnest(string_split(regexp_replace(lower(trim(
        |           CASE WHEN doc_id % 17 = 0 THEN text || ' revised' ELSE text END)),
        |           '\s+', ' ', 'g'), ' ')) AS token
        |  FROM documents WHERE doc_id % 19 <> 0
        |), ot AS (SELECT token, count(*) AS n_old FROM oldtok WHERE token <> '' GROUP BY token),
        |nt AS (SELECT token, count(*) AS n_new FROM newtok WHERE token <> '' GROUP BY token),
        |merged AS (
        |  SELECT token, coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
        |  FROM ot FULL OUTER JOIN nt USING (token)
        |), totals AS (
        |  SELECT sum(n_old) AS t_old, sum(n_new) AS t_new, count(*) AS v FROM merged
        |), scored AS (
        |  SELECT token, n_old, n_new,
        |         (n_old + 1) / CAST(t_old + v AS DOUBLE) AS p_old,
        |         (n_new + 1) / CAST(t_new + v AS DOUBLE) AS p_new
        |  FROM merged CROSS JOIN totals
        |)
        |SELECT token, CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
        |       (round(p_old * 1000.0 + 1e-9, 6) + 0) AS p_old_permil,
        |       (round(p_new * 1000.0 + 1e-9, 6) + 0) AS p_new_permil,
        |       (round(abs(p_new - p_old) * 1000.0 + 1e-9, 6) + 0) AS abs_dp_permil,
        |       (round(p_new * ln(p_new / p_old) * 1000.0 + 1e-9, 6) + 0) AS kl_term_permil
        |FROM scored
        |ORDER BY abs_dp_permil DESC, token ASC
        |LIMIT 50""".stripMargin,
    "q_blocklist_filter" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_distinct(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS toks
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CAST(len(list_intersect(toks, ['dup', 'stall'])) AS BIGINT) AS n_blocked_terms,
        |       CAST(CASE WHEN len(list_intersect(toks, ['dup', 'stall'])) = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM t
        |ORDER BY doc_id""".stripMargin,
    // A-ES keys: u is an exact dyadic double in both engines; ln is
    // the one inexact step, absorbed by the 9dp round + doc_id tie
    "q_weighted_sample" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS n_tokens,
        |         ((((doc_id % 2147483648 + 2147483648) % 2147483648) * 2654435761) % 4294967296) AS salt
        |  FROM documents
        |)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       (round(-ln((salt + 0.5) / 4294967296.0) / CAST(n_tokens AS DOUBLE) + 1e-9, 9) + 0) AS sample_key
        |FROM t
        |ORDER BY sample_key, doc_id
        |LIMIT 100""".stripMargin,
    // sqrt (IEEE-exact in both engines) + 6dp DECIMAL weights make the
    // quota division's operands bit-identical — see mixTemperature
    "q_mix_temperature" ->
      """WITH counts AS (SELECT lang, count(*) AS n_key FROM documents GROUP BY lang),
        |w AS (
        |  SELECT lang, n_key,
        |         CAST((round(sqrt(CAST(n_key AS DOUBLE)) + 1e-9, 6) + 0) AS DECIMAL(38,6)) AS w
        |  FROM counts
        |), tot AS (SELECT CAST(sum(w) AS DECIMAL(38,6)) AS w_tot FROM w),
        |quotas AS (
        |  SELECT lang,
        |         least(n_key, greatest(1, CAST(floor(CAST(w * 600 AS DOUBLE) / CAST(w_tot AS DOUBLE)) AS BIGINT))) AS quota
        |  FROM w CROSS JOIN tot
        |), ranked AS (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY (((doc_id % 2147483648 + 2147483648) % 2147483648) * 2654435761) % 4294967296, doc_id) AS rn
        |  FROM documents
        |)
        |SELECT r.doc_id, r.lang, CAST(rn AS BIGINT) AS sample_rank
        |FROM ranked r JOIN quotas q USING (lang)
        |WHERE rn <= quota
        |ORDER BY lang, sample_rank""".stripMargin,
    "q_bigram_logprob" ->
      """WITH ta AS (
        |  SELECT doc_id, source,
        |         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |), ti AS (
        |  SELECT doc_id, source, CAST(unnest(range(0, len(toks))) AS INT) AS pos, toks FROM ta
        |), t AS (
        |  SELECT doc_id, source, pos, toks[pos + 1] AS token,
        |         CASE WHEN pos > 0 THEN toks[pos] END AS prev
        |  FROM ti WHERE toks[pos + 1] <> ''
        |), tr AS (SELECT * FROM t WHERE source <> 'src0'),
        |f1 AS (SELECT token, count(*) AS c1 FROM tr GROUP BY token),
        |sc AS (SELECT sum(c1) AS n_train, count(*) AS v_train FROM f1),
        |f2 AS (
        |  SELECT tr.prev, tr.token, count(*) * 1.0 / any_value(f1p.c1) AS p2
        |  FROM tr JOIN f1 f1p ON tr.prev = f1p.token
        |  WHERE tr.prev IS NOT NULL GROUP BY tr.prev, tr.token
        |), scored AS (
        |  SELECT t.doc_id, t.pos, f2.p2,
        |         CASE WHEN t.pos = 0 THEN (coalesce(f1.c1, 0) + 1) * 1.0 / (sc.n_train + sc.v_train)
        |              WHEN f2.p2 IS NOT NULL THEN f2.p2
        |              ELSE 0.4 * ((coalesce(f1.c1, 0) + 1) * 1.0 / (sc.n_train + sc.v_train))
        |         END AS score
        |  FROM t LEFT JOIN f1 ON t.token = f1.token
        |         LEFT JOIN f2 ON t.prev = f2.prev AND t.token = f2.token
        |         CROSS JOIN sc
        |)
        |SELECT doc_id, count(*) AS n_tokens,
        |       (round(CAST(sum(CAST((round(-log2(score) + 1e-9, 6) + 0) AS DECIMAL(38,6))) AS DOUBLE) / count(*) + 1e-9, 4) + 0) AS mean_nll,
        |       CAST(sum(CASE WHEN pos > 0 AND p2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff
        |FROM scored GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_vocab_topk" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
        |  FROM documents
        |)
        |SELECT token, count(*) AS n_total, count(DISTINCT doc_id) AS n_docs
        |FROM tok WHERE token <> ''
        |GROUP BY token
        |ORDER BY n_total DESC, token ASC
        |LIMIT 100""".stripMargin,
    "q_tfidf_topk" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
        |  FROM documents
        |), t AS (SELECT doc_id, token FROM tok WHERE token <> ''),
        |tf AS (SELECT doc_id, token, count(*) AS n_tf FROM t GROUP BY doc_id, token),
        |dfr AS (SELECT token, count(*) AS n_df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, token, n_tf, n_df,
        |         (round(n_tf * (ln((n_docs + 1) / (n_df + 1.0)) + 1) + 1e-9, 6) + 0) AS tfidf
        |  FROM tf JOIN dfr USING (token) CROSS JOIN n
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rn
        |  FROM scored
        |)
        |SELECT doc_id, token, CAST(n_tf AS BIGINT) AS n_tf, CAST(n_df AS BIGINT) AS n_df,
        |       tfidf, CAST(rn AS BIGINT) AS term_rank
        |FROM ranked WHERE rn <= 5 ORDER BY doc_id, term_rank""".stripMargin,
    // heavy set = tokens with exact count > 2N/(k+1) at k=64; the two
    // booleans are the Misra-Gries merged-bound contract (see
    // heavyHittersCheck's scaladoc) and must be TRUE for every row
    // under any partitioning
    "q_heavy_hitters_check" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
        |  FROM documents
        |), t AS (SELECT token FROM tok WHERE token <> ''),
        |n AS (SELECT count(*) AS n_total FROM t),
        |f AS (SELECT token, count(*) AS n_exact FROM t GROUP BY token)
        |SELECT token, CAST(n_exact AS BIGINT) AS n_exact,
        |       TRUE AS found, TRUE AS est_in_bound
        |FROM f CROSS JOIN n
        |WHERE n_exact > 2.0 * n_total / 65
        |ORDER BY token""".stripMargin,
    "q_stratified_sample" ->
      """SELECT doc_id, source, CAST(rn AS BIGINT) AS sample_rank FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY (((doc_id % 2147483648 + 2147483648) % 2147483648) * 2654435761) % 4294967296, doc_id) AS rn
        |  FROM documents
        |) WHERE rn <= 10 ORDER BY source, sample_rank""".stripMargin,
    "q_strip_markup" -> {
      // nested literal replaces generated from the SAME entity table
      // the Spark side folds over (decode order preserved; SQL '' quote)
      val decoded = TextAnalysis.entityMap.foldLeft("nt") { case (acc, (ent, repl)) =>
        s"replace($acc, '$ent', '${repl.replace("'", "''")}')"
      }
      s"""WITH stripped AS (
        |  SELECT doc_id, text,
        |         regexp_replace(text, '${TextAnalysis.tagPat}', ' ', 'g') AS nt
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '${TextAnalysis.tagPat}')) AS BIGINT) AS n_tags,
        |       CAST(len(regexp_extract_all(nt, '${TextAnalysis.entityPat}')) AS BIGINT) AS n_entities,
        |       trim(regexp_replace($decoded, '\\s+', ' ', 'g')) AS text_clean
        |FROM stripped ORDER BY doc_id""".stripMargin
    },
    // the composed pipeline (see the q_curate queries entry): shared
    // stage chain + span cut k=20 over normalized windows (cut applies
    // to ORIGINAL-case tokens; an uncut doc passes through verbatim,
    // mirroring cutSpans' when(size(ivs)=0) arm; `okeep` nulls each cut
    // token instead of dropping its row, so a doc whose every token is
    // cut still has a `rebuilt` row, and string_agg over all-null gives
    // NULL → '', as in cutSpans) + PII redaction + per-source quota-10
    // Knuth-salt sample
    "q_curate" -> (curateOracleStages +
      s"""
        |), wins AS (
        |  SELECT doc_id, CAST(unnest(range(0, greatest(len(toks) - 19, 0))) AS INT) AS pos, toks
        |  FROM nd
        |), w2 AS (
        |  SELECT doc_id, pos, array_to_string(list_slice(toks, pos + 1, pos + 20), ' ') AS w
        |  FROM wins
        |), freq AS (
        |  SELECT w FROM w2 GROUP BY w HAVING count(DISTINCT doc_id) > 1
        |), starts AS (
        |  SELECT doc_id, pos FROM w2 WHERE w IN (SELECT w FROM freq)
        |), isl AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN pos > coalesce(max(pos + 20) OVER (
        |           PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |         THEN 1 ELSE 0 END AS ni
        |  FROM starts
        |), isl2 AS (
        |  SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM isl
        |), ivs AS (
        |  SELECT doc_id, min(pos) AS s, max(pos) + 20 AS e FROM isl2 GROUP BY doc_id, island
        |), ote AS (
        |  SELECT doc_id, CAST(unnest(range(0, len(otoks))) AS INT) AS i, otoks
        |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS otoks FROM nd
        |        WHERE doc_id IN (SELECT DISTINCT doc_id FROM ivs))
        |), okeep AS (
        |  SELECT ote.doc_id, ote.i,
        |         CASE WHEN NOT EXISTS (SELECT 1 FROM ivs
        |                    WHERE ivs.doc_id = ote.doc_id AND ote.i >= ivs.s AND ote.i < ivs.e)
        |              THEN ote.otoks[ote.i + 1] END AS t
        |  FROM ote
        |), rebuilt AS (
        |  SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS text_cut
        |  FROM okeep GROUP BY doc_id
        |), spanned AS (
        |  SELECT n.doc_id, n.source,
        |         CASE WHEN r.doc_id IS NULL THEN n.text ELSE coalesce(r.text_cut, '') END AS text
        |  FROM nd n LEFT JOIN rebuilt r USING (doc_id)
        |), red1 AS (
        |  SELECT doc_id, source,
        |         regexp_replace(text, '${TextAnalysis.emailPat}', '<EMAIL>', 'g') AS a
        |  FROM spanned
        |), red2a AS (
        |  SELECT doc_id, source,
        |         regexp_replace(a, '${TextAnalysis.ipPat}', '${TextAnalysis.ipReplDuck}', 'g') AS b1
        |  FROM red1
        |), red2 AS (
        |  SELECT doc_id, source,
        |         regexp_replace(b1, '${TextAnalysis.ipPat}', '${TextAnalysis.ipReplDuck}', 'g') AS b
        |  FROM red2a
        |), redacted AS (
        |  SELECT doc_id, source,
        |         regexp_replace(b, '${TextAnalysis.phonePat}', '${TextAnalysis.phoneReplDuck}', 'g') AS text
        |  FROM red2
        |), sampled AS (
        |  SELECT doc_id, source, text FROM (
        |    SELECT doc_id, source, text,
        |           row_number() OVER (PARTITION BY source
        |             ORDER BY (((doc_id % 2147483648 + 2147483648) % 2147483648) * 2654435761) % 4294967296, doc_id) AS rn
        |    FROM redacted
        |  ) WHERE rn <= 10
        |)
        |SELECT doc_id, source, text FROM sampled ORDER BY doc_id""").stripMargin,
    // the same run's datasheet: stage counts recomputed independently.
    // The sample count needs no text work (the kept set is a pure
    // (doc_id, source) function), so the tail stops at the id level
    "q_curate_manifest" -> (curateOracleStages +
      """
        |), samp AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |           row_number() OVER (PARTITION BY source
        |             ORDER BY (((doc_id % 2147483648 + 2147483648) % 2147483648) * 2654435761) % 4294967296, doc_id) AS rn
        |    FROM nd
        |  ) WHERE rn <= 10
        |), c AS (
        |  SELECT (SELECT count(*) FROM base) AS n0,
        |         (SELECT count(*) FROM aq) AS n1,
        |         (SELECT count(*) FROM ae) AS n2,
        |         (SELECT count(*) FROM ad) AS n3,
        |         (SELECT count(*) FROM nd) AS n4,
        |         (SELECT count(*) FROM samp) AS n5
        |), rows_ AS (
        |  SELECT 0 AS stage_idx, 'input' AS stage, n0 AS docs_in, n0 AS docs_out FROM c
        |  UNION ALL SELECT 1, 'strip_markup', n0, n0 FROM c
        |  UNION ALL SELECT 2, 'quality_filter', n0, n1 FROM c
        |  UNION ALL SELECT 3, 'exact_dedup', n1, n2 FROM c
        |  UNION ALL SELECT 4, 'decontaminate', n2, n3 FROM c
        |  UNION ALL SELECT 5, 'near_dup', n3, n4 FROM c
        |  UNION ALL SELECT 6, 'span_dedup', n4, n4 FROM c
        |  UNION ALL SELECT 7, 'redact_pii', n4, n4 FROM c
        |  UNION ALL SELECT 8, 'stratified_sample', n4, n5 FROM c
        |)
        |SELECT stage_idx, stage, docs_in, docs_out, docs_in - docs_out AS docs_dropped
        |FROM rows_ ORDER BY stage_idx""").stripMargin,
    // exact set counts recomputed from the documents table; the bloom
    // guarantees arrive as Spark-evaluated booleans asserted TRUE
    // (no_false_negatives is the structural bloom property;
    // fp_in_bound has ~100 bits/item of headroom at every gate SF)
    "q_bloom_membership_check" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS ch,
        |         doc_id % 2 = 0 AS ins
        |  FROM documents
        |), ev AS (SELECT DISTINCT ch FROM h WHERE ins)
        |SELECT
        |  CAST((SELECT count(*) FROM h WHERE ins) AS BIGINT) AS n_inserted,
        |  CAST((SELECT count(*) FROM h WHERE NOT ins AND ch IN (SELECT ch FROM ev)) AS BIGINT) AS n_dup_content,
        |  CAST((SELECT count(*) FROM h WHERE NOT ins AND ch NOT IN (SELECT ch FROM ev)) AS BIGINT) AS n_new,
        |  TRUE AS no_false_negatives,
        |  TRUE AS fp_in_bound""".stripMargin,
    // the replay's admitted membership, restated WITHOUT replaying:
    // batch = doc_id mod 4, and two-tier own-batch-excluded membership
    // composed over the in-order replay reduces to "per content, the
    // earliest batch wins; within it, the lowest doc_id" (doc_ids are
    // non-negative in every gate corpus, so % matches Spark's pmod —
    // the q_dedup_incremental precedent)
    "q_corpus_ingest_check" ->
      """WITH v AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id + 2000001, text FROM documents WHERE doc_id % 11 = 0
        |), b AS (
        |  SELECT doc_id, doc_id % 4 AS batch_id,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash
        |  FROM v
        |)
        |SELECT doc_id, CAST(batch_id AS BIGINT) AS batch_id, content_hash
        |FROM (SELECT *, row_number() OVER (PARTITION BY content_hash
        |        ORDER BY batch_id, doc_id) AS rn FROM b)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // the band store's admitted membership, restated from doc_id
    // arithmetic alone: the check corpus is CONSTRUCTED (synthetic
    // md5-chunk texts, zero natural shingle overlap) so the only
    // rejections are the injected near-duplicates — evens admit in
    // batch 0, odds in batch 1, the %10=5 fresh re-keys in batch 2;
    // every +1e7/+2e7/+3e7 injected copy is band-rejected (base tier /
    // selfHits / delta tail respectively)
    "q_neardup_store_check" ->
      """SELECT doc_id, batch_id FROM (
        |  SELECT doc_id, CAST(0 AS BIGINT) AS batch_id FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, CAST(1 AS BIGINT) FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 40000000, CAST(2 AS BIGINT) FROM documents WHERE doc_id % 10 = 5
        |) ORDER BY doc_id""".stripMargin,
    "q_dedup_incremental" ->
      """WITH nh AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash
        |  FROM documents WHERE doc_id % 2 = 1
        |), ch AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash
        |  FROM documents WHERE doc_id % 2 = 0
        |)
        |SELECT content_hash, min(doc_id) AS keep_id, count(*) AS n_batch_copies
        |FROM nh WHERE content_hash NOT IN (SELECT content_hash FROM ch)
        |GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "q_assign_ids" ->
      """SELECT doc_id, source,
        |       CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS global_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_dedup_lines" ->
      """WITH ls AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS arr FROM documents
        |), lines AS (
        |  SELECT doc_id, unnest(range(1, len(arr) + 1)) AS line_no, unnest(arr) AS line FROM ls
        |), freq AS (
        |  SELECT line FROM lines WHERE trim(line) <> ''
        |  GROUP BY line HAVING count(DISTINCT doc_id) > 2
        |), kept AS (
        |  SELECT doc_id, line_no, line FROM lines
        |  WHERE line NOT IN (SELECT line FROM freq)
        |), rebuilt AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |         string_agg(line, chr(10) ORDER BY line_no) AS text_clean
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |       CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
        |       CAST(len(string_split(d.text, chr(10))) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
        |       coalesce(text_clean, '') AS text_clean
        |FROM documents d LEFT JOIN rebuilt USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // span-dedup oracle: DuckDB compares window CONTENT where Spark
    // compares the positional 64-bit window hash — identical semantics
    // modulo ~n²/2⁶⁵ hash collisions (the dedup_lines discipline)
    "q_dedup_spans" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |), wins AS (
        |  SELECT doc_id, CAST(unnest(range(0, greatest(len(toks) - 19, 0))) AS INT) AS pos, toks
        |  FROM tok
        |), w2 AS (
        |  SELECT doc_id, pos, array_to_string(list_slice(toks, pos + 1, pos + 20), ' ') AS w
        |  FROM wins
        |), freq AS (
        |  SELECT w FROM w2 GROUP BY w HAVING count(DISTINCT doc_id) > 1
        |), starts AS (
        |  SELECT doc_id, pos FROM w2 WHERE w IN (SELECT w FROM freq)
        |), isl AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN pos > coalesce(max(pos + 20) OVER (
        |           PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |         THEN 1 ELSE 0 END AS ni
        |  FROM starts
        |), isl2 AS (
        |  SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM isl
        |), ivs AS (
        |  SELECT doc_id, min(pos) AS s, max(pos) + 20 AS e FROM isl2 GROUP BY doc_id, island
        |), te AS (
        |  SELECT doc_id, CAST(unnest(range(0, len(toks))) AS INT) AS i, toks FROM tok
        |), keep AS (
        |  SELECT te.doc_id, te.i, te.toks[te.i + 1] AS t FROM te
        |  WHERE NOT EXISTS (SELECT 1 FROM ivs
        |                    WHERE ivs.doc_id = te.doc_id AND te.i >= ivs.s AND te.i < ivs.e)
        |), rebuilt AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |         string_agg(t, ' ' ORDER BY i) AS text_clean
        |  FROM keep GROUP BY doc_id
        |)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |       CAST(len(t.toks) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
        |       coalesce(r.text_clean, '') AS text_clean
        |FROM tok t LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    // the q_dedup_spans CTE with MEMBERSHIP flagging: a corpus window
    // is flagged iff its CONTENT appears among the benchmark's
    // 13-gram windows (the oracle compares window strings where the
    // kernel compares 64-bit hashes — content equality implies hash
    // equality, and the no-collision premise is the same one every
    // shingle-hash oracle in this file stands on)
    "q_decontaminate_spans" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents WHERE source <> 'src0'
        |), btok AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents WHERE source = 'src0'
        |), wins AS (
        |  SELECT doc_id, CAST(unnest(range(0, greatest(len(toks) - 12, 0))) AS INT) AS pos, toks
        |  FROM tok
        |), w2 AS (
        |  SELECT doc_id, pos, array_to_string(list_slice(toks, pos + 1, pos + 13), ' ') AS w
        |  FROM wins
        |), bwins AS (
        |  SELECT CAST(unnest(range(0, greatest(len(toks) - 12, 0))) AS INT) AS pos, toks
        |  FROM btok
        |), bad AS (
        |  SELECT DISTINCT array_to_string(list_slice(toks, pos + 1, pos + 13), ' ') AS w
        |  FROM bwins
        |), starts AS (
        |  SELECT doc_id, pos FROM w2 WHERE w IN (SELECT w FROM bad)
        |), isl AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN pos > coalesce(max(pos + 13) OVER (
        |           PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |         THEN 1 ELSE 0 END AS ni
        |  FROM starts
        |), isl2 AS (
        |  SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM isl
        |), ivs AS (
        |  SELECT doc_id, min(pos) AS s, max(pos) + 13 AS e FROM isl2 GROUP BY doc_id, island
        |), te AS (
        |  SELECT doc_id, CAST(unnest(range(0, len(toks))) AS INT) AS i, toks FROM tok
        |), keep AS (
        |  SELECT te.doc_id, te.i, te.toks[te.i + 1] AS t FROM te
        |  WHERE NOT EXISTS (SELECT 1 FROM ivs
        |                    WHERE ivs.doc_id = te.doc_id AND te.i >= ivs.s AND te.i < ivs.e)
        |), rebuilt AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |         string_agg(t, ' ' ORDER BY i) AS text_clean
        |  FROM keep GROUP BY doc_id
        |)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |       CAST(len(t.toks) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
        |       coalesce(r.text_clean, '') AS text_clean
        |FROM tok t LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    // the one-window reference form — the operator's bucketed cumsum
    // must agree with it exactly for any bucket boundaries
    "q_shard_plan" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tokens,
        |         coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t
        |)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(cum_before // 2048 AS BIGINT) AS shard
        |FROM c ORDER BY doc_id""".stripMargin,
    // window CONTENT equality stands in for the kernel's 64-bit window
    // hashes — the same collision premise as every shingle oracle
    "q_contamination_report" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents WHERE source <> 'src0'
        |), btok AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents WHERE source = 'src0'
        |), cw AS (
        |  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, pos + 1, pos + 13), ' ') AS w
        |  FROM (SELECT doc_id, CAST(unnest(range(0, greatest(len(toks) - 12, 0))) AS INT) AS pos, toks
        |        FROM tok)
        |), bw AS (
        |  SELECT DISTINCT doc_id AS bench_id, array_to_string(list_slice(toks, pos + 1, pos + 13), ' ') AS w
        |  FROM (SELECT doc_id, CAST(unnest(range(0, greatest(len(toks) - 12, 0))) AS INT) AS pos, toks
        |        FROM btok)
        |), btot AS (
        |  SELECT bench_id, count(*) AS n_kgrams FROM bw GROUP BY bench_id
        |), hits AS (
        |  SELECT bench_id, count(DISTINCT doc_id) AS n_docs, count(DISTINCT w) AS n_shared
        |  FROM bw JOIN cw USING (w) GROUP BY bench_id
        |)
        |SELECT bench_id, CAST(n_kgrams AS BIGINT) AS n_kgrams,
        |       CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared_kgrams,
        |       CAST(coalesce(n_docs, 0) AS BIGINT) AS n_contaminated_docs,
        |       (round(coalesce(n_shared, 0) * 1.0 / n_kgrams + 1e-9, 6) + 0) AS leaked_frac
        |FROM btot LEFT JOIN hits USING (bench_id)
        |ORDER BY bench_id""".stripMargin,
    "q_url_stats" ->
      s"""WITH urldocs AS (
        |  SELECT doc_id,
        |         text || ' https://www.src' || ((doc_id % 7 + 7) % 7)
        |              || '.example.com/doc/' || doc_id AS text
        |  FROM documents
        |), u AS (
        |  SELECT doc_id,
        |         unnest(regexp_extract_all(text, '${TextAnalysis.urlPat}', 1)) AS host
        |  FROM urldocs
        |), d AS (
        |  SELECT doc_id, regexp_replace(lower(host), '^www\\.', '') AS domain FROM u
        |)
        |SELECT domain, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
        |FROM d WHERE domain <> ''
        |GROUP BY domain ORDER BY n_urls DESC, domain ASC""".stripMargin,
    // urldocs mirrors urlDedupView; c1-c3 restate each canonicalizeUrl
    // rule (plain-string literal: single-backslash regex reaches RE2)
    "q_url_dedup" ->
      """WITH urldocs AS (
        |  SELECT doc_id, n_chars,
        |         'HTTPS://WWW.Src' || ((doc_id % 3 + 3) % 3) || '.Example.COM'
        |      || CASE WHEN (doc_id % 2 + 2) % 2 = 0 THEN ':443' ELSE '' END
        |      || '/Doc/' || ((doc_id % 5 + 5) % 5)
        |      || CASE WHEN (doc_id % 3 + 3) % 3 = 0 THEN '/' ELSE '' END
        |      || CASE WHEN (doc_id % 2 + 2) % 2 = 0
        |              THEN '?b=2&utm_source=u' || doc_id || '&a=1&id=' || ((doc_id % 2 + 2) % 2)
        |              ELSE '?a=1&id=' || ((doc_id % 2 + 2) % 2) || '&b=2&gclid=g' || doc_id END
        |      || '#sec' || doc_id AS url
        |  FROM documents
        |), c1 AS (
        |  SELECT doc_id, n_chars, regexp_replace(url, '#.*$', '') AS nf FROM urldocs
        |), c2 AS (
        |  SELECT doc_id, n_chars,
        |         lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |         lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth,
        |         regexp_replace(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '') AS pth,
        |         regexp_extract(nf, '\?(.*)$', 1) AS q
        |  FROM c1
        |), c3 AS (
        |  SELECT doc_id, n_chars, scheme, pth,
        |         regexp_replace(CASE WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
        |                             WHEN scheme = 'http'  THEN regexp_replace(auth, ':80$', '')
        |                             ELSE auth END, '^www\.', '') AS host,
        |         array_to_string(list_sort(list_filter(string_split(q, '&'),
        |           p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|msclkid|igshid|ref)='))), '&') AS kept
        |  FROM c2
        |), canon AS (
        |  SELECT doc_id, n_chars,
        |         scheme || '://' || host || pth
        |           || CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS url_canon
        |  FROM c3
        |), ranked AS (
        |  SELECT doc_id, url_canon,
        |         row_number() OVER (PARTITION BY url_canon ORDER BY n_chars DESC, doc_id ASC) AS rn,
        |         count(*) OVER (PARTITION BY url_canon) AS n_dupes
        |  FROM canon
        |)
        |SELECT doc_id, url_canon, CAST(n_dupes AS BIGINT) AS n_dupes
        |FROM ranked WHERE rn = 1 ORDER BY url_canon""".stripMargin,
    // poly64 re-expressed in DuckDB: the byte fold runs in HUGEINT with
    // an explicit mod-2^64 (DuckDB integer arithmetic errors on
    // overflow rather than wrapping), over the UTF-8 bytes recovered
    // from hex(encode(..)) — DuckDB has no direct byte accessor for
    // BLOBs. list_reduce over a single-element [seed] list returns the
    // seed, which matches the empty-string fingerprint.
    "q_fingerprint" ->
      """WITH norm AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t FROM documents
        |), b AS (
        |  SELECT doc_id, hex(encode(t)) AS h, octet_length(encode(t)) AS nb FROM norm
        |)
        |SELECT doc_id,
        |  CAST(CASE WHEN v >= 9223372036854775808::HUGEINT
        |            THEN v - 18446744073709551616::HUGEINT ELSE v END AS BIGINT) AS fp64
        |FROM (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(1125899906842597::HUGEINT,
        |        list_transform(range(0, nb), i ->
        |          CAST((strpos('0123456789ABCDEF', h[2*i+1]) - 1) * 16
        |             + (strpos('0123456789ABCDEF', h[2*i+2]) - 1) AS HUGEINT))),
        |      (acc, x) -> (acc * 31 + x) % 18446744073709551616::HUGEINT) AS v
        |  FROM b)
        |ORDER BY doc_id""".stripMargin,
    // the hashing-trick embedding, token by token: poly64 (as above,
    // per token) then the mix64 finalizer — two xor-shift rounds and
    // two WRAPPING 64-bit multiplies, emulated 32x32 split in HUGEINT
    // (a direct 64x64 product overflows even HUGEINT):
    //   lo64(x*C) = ((hi(x)*lo(C) + lo(x)*hi(C)) mod 2^32)*2^32 + lo(x)*lo(C)
    // with C1 = ff51afd7_ed558ccd, C2 = c4ceb9fe_1a85ec53. Bucket =
    // (h>>1) % 64, sign = low bit; the signed counts then L2-normalize
    // through FLOAT exactly as the kernel does (double product, cast
    // to float32), so the rounded values are bit-identical.
    "q_hash_embed" ->
      s"""$hashEmbedCte
        |SELECT acc.doc_id AS vec_id, acc.i,
        |  (round(CAST(CASE WHEN nrm.ss > 0
        |       THEN CAST(CAST(s AS DOUBLE) * (1.0/sqrt(nrm.ss)) AS FLOAT)
        |       ELSE CAST(0.0 AS FLOAT) END AS DOUBLE) + 1e-9, 6) + 0) AS x
        |FROM acc JOIN nrm ON acc.doc_id = nrm.doc_id
        |ORDER BY vec_id, i""".stripMargin,
    "q_token_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
        |  FROM documents
        |), tc AS (
        |  SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token
        |), agg AS (
        |  SELECT doc_id,
        |         CAST(sum(c) AS BIGINT) AS n_tokens,
        |         count(*) AS n_distinct,
        |         CAST(sum(CAST(round(c * log2(c) + 1e-9, 6) AS DECIMAL(38,6))) AS DOUBLE) AS clogc
        |  FROM tc GROUP BY doc_id
        |)
        |SELECT doc_id, n_tokens, n_distinct,
        |       (round(log2(n_tokens) - clogc / n_tokens + 1e-9, 4) + 0) AS entropy_bits
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q_chunk_docs" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, toks,
        |         unnest(range(0, CAST(1 + ceil(greatest(len(toks) - 64, 0) / 48.0) AS BIGINT))) AS k
        |  FROM tok
        |)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
        |       CAST(len(toks[(k*48+1):(k*48+64)]) AS BIGINT) AS n_chunk_tokens,
        |       array_to_string(toks[(k*48+1):(k*48+64)], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_corpus_stats" ->
      """WITH tok AS (
        |  SELECT source, text,
        |         len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS n_tok_i,
        |         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks,
        |         length(text) AS n_chars,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
        |  FROM documents
        |), m AS (
        |  SELECT source, n_tok_i, h,
        |         (round(least(CAST(n_tok_i AS DOUBLE) / 200.0, 1.0) * 0.5
        |            + (CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','is','in','to'))) AS DOUBLE)
        |               / greatest(CAST(n_tok_i AS DOUBLE), 1.0)) * 0.25
        |            + (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE)
        |               / greatest(CAST(n_chars AS DOUBLE), 1.0)) * 0.25 + 1e-9, 4) + 0) AS q
        |  FROM tok
        |)
        |SELECT source,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tok_i) AS BIGINT) AS n_tokens,
        |       (round(CAST(sum(n_tok_i) AS DOUBLE) / count(*) + 1e-9, 4) + 0) AS avg_tokens,
        |       (round(CAST(sum(CAST(q AS DECIMAL(38,6))) AS DOUBLE) / count(*) + 1e-9, 4) + 0) AS avg_quality,
        |       count(DISTINCT h) AS n_distinct_contents
        |FROM m GROUP BY source ORDER BY source""".stripMargin,
    "q_text_quality" ->
      """WITH tok AS (
        |  SELECT doc_id, text,
        |         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks,
        |         length(text) AS n_chars
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |         CAST(n_chars AS DOUBLE) AS n_chars,
        |         CAST(len(toks) AS DOUBLE) AS n_tok,
        |         CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','is','in','to'))) AS DOUBLE) AS n_stop,
        |         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) AS n_punct,
        |         CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) AS n_upper
        |  FROM tok
        |)
        |SELECT doc_id,
        |       CAST(n_chars AS BIGINT) AS n_chars_m,
        |       CAST(n_tok AS BIGINT) AS n_tokens,
        |       (round(n_stop / greatest(n_tok, 1.0) + 1e-9, 4) + 0) AS stopword_ratio,
        |       (round(n_punct / greatest(n_chars, 1.0) + 1e-9, 4) + 0) AS punct_ratio,
        |       (round(n_upper / greatest(n_chars, 1.0) + 1e-9, 4) + 0) AS upper_ratio,
        |       (round(least(n_tok / 200.0, 1.0) * 0.5 + (n_stop / greatest(n_tok, 1.0)) * 0.25
        |             + (1.0 - n_punct / greatest(n_chars, 1.0)) * 0.25 + 1e-9, 4) + 0) AS quality_score
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(toks, t -> t IN ('der','die','und','ist','ein','nicht'))) AS BIGINT) AS s_de,
        |         CAST(len(list_filter(toks, t -> t IN ('the','of','and','is','to','that'))) AS BIGINT) AS s_en,
        |         CAST(len(list_filter(toks, t -> t IN ('el','la','de','que','los','una'))) AS BIGINT) AS s_es,
        |         CAST(len(list_filter(toks, t -> t IN ('le','la','et','les','des','une'))) AS BIGINT) AS s_fr
        |  FROM tok
        |)
        |SELECT doc_id, s_de, s_en, s_es, s_fr,
        |       CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
        |            WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |            WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |            WHEN s_es >= s_fr THEN 'es'
        |            ELSE 'fr' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) - 1),
        |           i -> string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')[i]
        |                || ' ' || string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')[i+1]
        |                || ' ' || string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')[i+2]
        |         )) AS sh
        |  FROM documents
        |  WHERE len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) >= 3
        |), ex AS (
        |  SELECT doc_id, unnest(sh) AS s, len(sh) AS n_sh FROM sh
        |), shared AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         count(*) AS inter, any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT doc_a, doc_b,
        |       (round(inter * 1.0 / (na + nb - inter) + 1e-9, 4) + 0) AS jaccard
        |FROM shared
        |WHERE (round(inter * 1.0 / (na + nb - inter) + 1e-9, 4) + 0) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Oracle = ALL exact-Jaccard pairs at tau=0.8: the LSH candidate
    // stage is recall<1 in general, but on this corpus every true pair
    // agrees on >=1 of the 16 bands (dups are J>=0.9, where the miss
    // probability is (1-0.9^8)^16 ~ 5e-14) and the hash family is
    // deterministic — so band-candidates + exact verify reproduce the
    // full exact answer, and this oracle pins BOTH the verify-side
    // Jaccard arithmetic and the no-lost-candidates property.
    "q_dedup_minhash" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) - 1),
        |           i -> string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')[i]
        |                || ' ' || string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')[i+1]
        |                || ' ' || string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')[i+2]
        |         )) AS sh
        |  FROM documents
        |  WHERE len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) >= 3
        |), ex AS (
        |  SELECT doc_id, unnest(sh) AS s, len(sh) AS n_sh FROM sh
        |), shared AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         count(*) AS inter, any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT doc_a, doc_b,
        |       (round(inter * 1.0 / (na + nb - inter) + 1e-9, 4) + 0) AS jaccard
        |FROM shared
        |WHERE (round(inter * 1.0 / (na + nb - inter) + 1e-9, 4) + 0) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Connected components over the tau=0.8 near-dup pair graph via
    // recursive transitive closure; cluster_id = component-minimum
    // doc_id, the same canonical contract as nearDupClusters.
    "q_dedup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) - 1),
        |           i -> string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')[i]
        |                || ' ' || string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')[i+1]
        |                || ' ' || string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')[i+2]
        |         )) AS sh
        |  FROM documents
        |  WHERE len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) >= 3
        |), ex AS (
        |  SELECT doc_id, unnest(sh) AS s, len(sh) AS n_sh FROM sh
        |), shared AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         count(*) AS inter, any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |), pairs AS (
        |  SELECT doc_a, doc_b FROM shared
        |  WHERE (round(inter * 1.0 / (na + nb - inter) + 1e-9, 4) + 0) >= 0.8
        |), und AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs
        |), reach(a, b) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
        |)
        |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    // SimHash near-dup pairs, DETERMINISTICALLY equivalent to exact
    // all-pairs hamming <= 6: 6 differing bits spread over 8 disjoint
    // 8-bit chunks leave >= 2 chunks untouched (pigeonhole), so the
    // chunk-bucket candidate join has FULL recall by construction (no
    // probabilistic caveat, unlike banded minhash). The oracle
    // therefore recomputes the whole kernel — poly64 over UTF-8 bytes
    // (hex-pair fold, byte-exact for any encoding), the mix64
    // finalizer (32-bit-limb multiply mod 2^64 — HUGEINT holds the
    // partial products), per-bit +-1 votes, sign-of-sum signature —
    // and compares exact pairwise bit_count(xor) over all signatures.
    // Pins the bucketing's no-lost-candidates property AND the
    // hamming/vote arithmetic against an independent engine.
    "q_dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |           range(1, len(tk) - 1),
        |           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shl
        |  FROM toks WHERE len(tk) >= 3
        |), ex AS (
        |  SELECT doc_id, unnest(shl) AS s FROM sh
        |), hx AS (
        |  SELECT doc_id, hex(encode(s)) AS h, octet_length(encode(s)) AS nb FROM ex
        |), p AS (
        |  SELECT doc_id, list_reduce(list_prepend(1125899906842597::HUGEINT,
        |           list_transform(range(0, nb),
        |             i -> 16*(strpos('0123456789ABCDEF', h[2*i+1:2*i+1])-1)
        |                + (strpos('0123456789ABCDEF', h[2*i+2:2*i+2])-1))),
        |           (acc, x) -> (acc*31 + x) % 18446744073709551616::HUGEINT) AS h64
        |  FROM hx
        |), m1 AS (SELECT doc_id, xor(h64, h64 >> 33) AS x FROM p),
        |m2 AS (SELECT doc_id, ((x % 4294967296)*18397679294719823053::HUGEINT
        |        + ((x // 4294967296)*18397679294719823053::HUGEINT % 4294967296)*4294967296)
        |        % 18446744073709551616::HUGEINT AS x FROM m1),
        |m3 AS (SELECT doc_id, xor(x, x >> 33) AS x FROM m2),
        |m4 AS (SELECT doc_id, ((x % 4294967296)*14181476777654086739::HUGEINT
        |        + ((x // 4294967296)*14181476777654086739::HUGEINT % 4294967296)*4294967296)
        |        % 18446744073709551616::HUGEINT AS x FROM m3),
        |mixed AS (SELECT doc_id, xor(x, x >> 33) AS m FROM m4),
        |votes AS (
        |  SELECT doc_id, b, sum(CASE WHEN (m >> b) % 2 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM mixed, unnest(range(0, 64)) AS u(b)
        |  GROUP BY doc_id, b
        |), sig AS (
        |  SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS sg
        |  FROM votes GROUP BY doc_id
        |), sigb AS (
        |  SELECT doc_id, CAST(CASE WHEN sg >= 9223372036854775808::HUGEINT
        |         THEN sg - 18446744073709551616::HUGEINT ELSE sg END AS BIGINT) AS sgn
        |  FROM sig
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       bit_count(xor(a.sgn, b.sgn)) AS hamming
        |FROM sigb a JOIN sigb b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sgn, b.sgn)) <= 6
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_embed" ->
      """WITH e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e
        |)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |       (round(CASE WHEN (a.nrm * b.nrm) > 0 THEN
        |               list_sum(list_transform(range(1, len(a.v) + 1),
        |               i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) END + 1e-9, 6) + 0) AS cos
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE (round(CASE WHEN (a.nrm * b.nrm) > 0 THEN
        |        list_sum(list_transform(range(1, len(a.v) + 1),
        |        i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) END + 1e-9, 6) + 0) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,
    // Full pipeline replication of the multi-table multi-probe RHP
    // ANN (Similarity.annLsh defaults: 4 tables x 6 planes, seed 42,
    // probeRadius 1, 20 queries, k=5): the hyperplanes are
    // data-independent constants (see rhpPlanesSql), and DuckDB
    // re-derives buckets, the hamming-1 probe fan-out, the deduped
    // candidate join, and the exact rounded-cosine top-k — so bucket
    // arithmetic, probe XOR, candidate completeness, and verify
    // ranking are all pinned against an independent engine. NULLS
    // LAST mirrors Spark's desc default (no zero-norm vectors exist
    // in testdata, but the orders must agree by construction).
    "q_ann_lsh" ->
      s"""${rhpIdxSql(4, 6, 42L)}, q AS (
        |  SELECT vec_id, tbl, bucket FROM idx WHERE vec_id < 20
        |), probes AS (
        |  SELECT vec_id, tbl, bucket AS pb FROM q
        |  UNION ALL
        |  SELECT vec_id, tbl, xor(bucket, 1 << fp.p) AS pb
        |  FROM q CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5)) fp(p)
        |), cand AS (
        |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS cand_id
        |  FROM probes a JOIN idx b
        |    ON a.tbl = b.tbl AND a.pb = b.bucket AND a.vec_id <> b.vec_id
        |), scored AS (
        |  SELECT c.query_id, c.cand_id,
        |         (round(CASE WHEN (qa.nrm * cb.nrm) > 0 THEN
        |                 list_sum(list_transform(range(1, len(qa.v) + 1),
        |                 i -> qa.v[i] * cb.v[i])) / (qa.nrm * cb.nrm) END + 1e-9, 6) + 0) AS cos
        |  FROM cand c JOIN n qa ON c.query_id = qa.vec_id
        |              JOIN n cb ON c.cand_id = cb.vec_id
        |)
        |SELECT query_id, cand_id, cos,
        |       CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY cos DESC NULLS LAST, cand_id) AS INT) AS rank
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |          ORDER BY cos DESC NULLS LAST, cand_id) <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // Same replication for the near-dup form (embedDedupLsh defaults:
    // 8 tables x 6 planes, seed 42, tau 0.4): bucket-colliding i<j
    // pairs, deduped across tables, exact rounded-cosine filter.
    "q_dedup_embed_lsh" ->
      s"""${rhpIdxSql(8, 6, 42L)}, cand AS (
        |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
        |  FROM idx a JOIN idx b
        |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        |), scored AS (
        |  SELECT c.va, c.vb,
        |         (round(CASE WHEN (na.nrm * nb.nrm) > 0 THEN
        |                 list_sum(list_transform(range(1, len(na.v) + 1),
        |                 i -> na.v[i] * nb.v[i])) / (na.nrm * nb.nrm) END + 1e-9, 6) + 0) AS cos
        |  FROM cand c JOIN n na ON c.va = na.vec_id
        |              JOIN n nb ON c.vb = nb.vec_id
        |)
        |SELECT va AS vec_a, vb AS vec_b, cos
        |FROM scored WHERE cos >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,
    // the rounded cos carries "+ 0" INSIDE scored so DuckDB's ORDER BY
    // never sees a -0.0 (Spark's round can't emit one)
    "q_semantic_decontaminate" ->
      """WITH e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e
        |), bench AS (
        |  SELECT vec_id AS bench_id, v AS bv, nrm AS bnrm FROM n WHERE vec_id % 20 = 0
        |), corpus AS (
        |  SELECT vec_id, v, nrm FROM n WHERE vec_id % 20 <> 0
        |), scored AS (
        |  SELECT c.vec_id, b.bench_id,
        |         (round(list_sum(list_transform(range(1, len(c.v) + 1),
        |                 i -> c.v[i] * b.bv[i])) / (c.nrm * b.bnrm) + 1e-9, 6) + 0) AS cos
        |  FROM corpus c CROSS JOIN bench b
        |  WHERE c.nrm > 0 AND b.bnrm > 0
        |), best AS (
        |  SELECT vec_id, bench_id, cos,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, bench_id) AS rn
        |  FROM scored
        |)
        |SELECT c.vec_id,
        |       CAST(coalesce(b.bench_id, -1) AS BIGINT) AS best_bench,
        |       coalesce(b.cos, 0.0) AS cosine,
        |       CAST(CASE WHEN b.cos >= 0.4 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        |FROM corpus c LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (vec_id)
        |ORDER BY c.vec_id""".stripMargin,
    "q_ann_topk" ->
      """WITH e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e
        |), scored AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
        |         (round(CASE WHEN (a.nrm * b.nrm) > 0 THEN
        |                 list_sum(list_transform(range(1, len(a.v) + 1),
        |                 i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) END + 1e-9, 6) + 0) AS cos
        |  FROM n a JOIN n b ON a.vec_id < 20 AND a.vec_id <> b.vec_id
        |)
        |SELECT query_id, cand_id, cos,
        |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC NULLS LAST, cand_id) AS INT) AS rank
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC NULLS LAST, cand_id) <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // every expected value below is synthMedia's id arithmetic
    // restated (Multimodal.scala synthMedia); the booleans are the
    // Spark-side decode contract — DuckDB expects TRUE, any codec
    // regression flips the hashed column
    "q_media_features_check" ->
      """WITH e AS (
        |  SELECT CAST(unnest(range(0, 300)) AS BIGINT) AS id
        |), f AS (
        |  SELECT id, id % 4 AS m4, id // 4 AS g FROM e
        |)
        |SELECT id AS media_id,
        |       CASE WHEN m4 IN (0, 3) THEN 'image'
        |            WHEN m4 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |       CASE WHEN m4 = 0 THEN 'ppm'
        |            WHEN m4 = 3 THEN CASE WHEN g % 2 = 0 THEN 'png' ELSE 'jpeg' END
        |            WHEN m4 = 1 THEN 'wav-pcm16'
        |            ELSE CASE g % 3 WHEN 0 THEN 'y4m' WHEN 1 THEN 'gif'
        |                 ELSE 'avi-mjpeg' END END AS fmt,
        |       TRUE AS magic_ok,
        |       CAST(CASE WHEN m4 = 0 THEN 32 + id % 32
        |                 WHEN m4 = 3 THEN 16 + id % 16
        |                 WHEN m4 = 2 THEN 16 + id % 16 ELSE 0 END AS INTEGER) AS width,
        |       CAST(CASE WHEN m4 = 0 THEN 24 + id % 24
        |                 WHEN m4 = 3 THEN 12 + id % 12
        |                 WHEN m4 = 2 THEN 16 ELSE 0 END AS INTEGER) AS height,
        |       CAST(CASE WHEN m4 IN (0, 3) THEN 1
        |                 WHEN m4 = 2 THEN 3 ELSE 0 END AS INTEGER) AS n_frames_sampled,
        |       CAST(CASE WHEN m4 IN (0, 3) THEN 1
        |                 WHEN m4 = 2 THEN 5 + id % 4 ELSE 0 END AS INTEGER) AS n_frames_total,
        |       CAST(CASE WHEN m4 = 1 THEN 8 * (1000 + id % 9000) ELSE 0 END AS BIGINT) AS n_samples,
        |       TRUE AS rms_ok
        |FROM f ORDER BY media_id""".stripMargin,
    "q_ml_feature_prep" ->
      s"""$duckMasked,
        |filled AS (
        |  SELECT event_id,
        |         coalesce(value, 0.0) AS value,
        |         coalesce(humidity, 0.0) AS humidity,
        |         coalesce(wind_speed, 0.0) AS wind_speed
        |  FROM masked
        |),
        |stats AS (
        |  SELECT (round(avg(value) + 1e-9, 4) + 0) AS m_v, (round(stddev_pop(value) + 1e-9, 4) + 0) AS s_v,
        |         (round(avg(humidity) + 1e-9, 4) + 0) AS m_h, (round(stddev_pop(humidity) + 1e-9, 4) + 0) AS s_h,
        |         (round(avg(wind_speed) + 1e-9, 4) + 0) AS m_w, (round(stddev_pop(wind_speed) + 1e-9, 4) + 0) AS s_w
        |  FROM filled
        |)
        |SELECT event_id,
        |       (round((value - m_v) / s_v, 6) + 0) AS value_scaled,
        |       (round((humidity - m_h) / s_h, 6) + 0) AS humidity_scaled,
        |       (round((wind_speed - m_w) / s_w, 6) + 0) AS wind_speed_scaled
        |FROM filled CROSS JOIN stats ORDER BY event_id""".stripMargin,
  )
}
