package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Similarity search over the embeddings table (SURVEY.md §2H):
  * embedding-cosine near-dup pairs, brute-force cosine top-k, and the
  * LSH-bucketed ANN scale path.
  *
  * Numeric discipline: floats are cast to double BEFORE any multiply,
  * and all sums run left-to-right over the array — the DuckDB oracle
  * mirrors the exact same expression shape so both engines produce
  * bit-identical doubles.
  */
object Similarity {

  /** Left-to-right double-precision dot product of two float arrays —
    * the codegen'd dotFD kernel (the zip_with/aggregate HOF chain
    * is CodegenFallback and ~10x slower on the hot path). */
  private def dot(a: Column, b: Column): Column = GraftFunctions.dotFD(a, b)

  /** vec_id + embedding + its L2 norm (double). */
  def withNorm(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Model-free document embeddings via the hashing trick
    * ([[graft.functions.GraftFunctions.hashEmbed]]): token multiset → signed-bucket
    * counts → L2-normalized `array<float>`, emitted in this module's
    * (vec_id, embedding) shape so every similarity operator —
    * [[embedDedup]], [[embedDedupLsh]], [[annTopK]]/[[annLsh]]/
    * [[annIvf]], [[clusterEmbed]] — runs directly on a TEXT corpus
    * with no external model. Cosine here approximates token-multiset
    * cosine (signed hashing keeps the inner product unbiased;
    * collision noise ~1/√dim), which is exactly the granularity
    * lexical near-dup detection and topic clustering want. Scan-local
    * codegen'd projection — the embedding never costs a shuffle. */
  def hashEmbedDocs(docs: DataFrame, dim: Int = 64): DataFrame =
    docs.select(col("doc_id").as("vec_id"),
      GraftFunctions.hashEmbed(TextAnalysis.tokens(col("text")), dim)
        .as("embedding"))

  /** Pair cosine, null on a zero-norm side (cosine is undefined
    * there, and ANSI mode makes the bare division an error — zero
    * vectors exist once [[hashEmbedDocs]] embeds empty documents).
    * Null propagates through `>= tau` filters and sorts last in
    * top-k, so degenerate vectors never form pairs. */
  private def cosine: Column = {
    val d = col("a.nrm") * col("b.nrm")
    when(d > 0, dot(col("a.v"), col("b.v")) / d)
  }

  /** Embedding-cosine near-dup pairs: all (i<j) pairs with
    * cosine >= tau. Locally a broadcast nested-loop block join — this
    * operator is the exact reference semantics, and it BROADCASTS THE
    * FULL EMBEDDINGS TABLE. The stream side is repartitioned to the
    * full parallelism first: NLJ parallelism equals the stream side's
    * partition count, and a small parquet file arrives as ONE
    * partition, which would serialize the O(n²) scoring onto a single
    * core. Catalyst pushes the `cos >= tau` filter into the join
    * condition, so sub-threshold pairs are never materialized.
    *
    * @note 100TB: use [[embedDedupLsh]] — bucket-restricted candidates,
    *       id-only exchanges; this exact form is O(n²) scoring with a
    *       corpus-sized broadcast and exists as the oracle path. */
  def embedDedup(embeddings: DataFrame, tau: Double = 0.4): DataFrame = {
    val e = withNorm(embeddings)
    spreadToCores(e).as("a")
      .join(broadcast(e.as("b")), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(cosine + lit(1e-9), 6).as("cos"))
      .filter(col("cos") >= tau)
      .orderBy("vec_a", "vec_b")
  }

  /** Brute-force cosine top-k: for each query vector (vec_id <
    * nQueries), the k nearest other vectors by rounded cosine,
    * tie-broken by candidate id — deterministic across engines.
    * Broadcasts the full embeddings table as the candidate side.
    *
    * @note 100TB: use [[annLsh]] (hyperplane buckets) or [[annIvf]]
    *       (coarse quantizer) — both score ~bucket-sized candidate
    *       slices instead of the whole corpus per query; this exact
    *       form is the recall baseline and the oracle path. */
  def annTopK(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5): DataFrame = {
    val e = withNorm(embeddings)
    val q = e.filter(col("vec_id") < nQueries)
    val scored = q.as("a").join(broadcast(e.as("b")), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("cand_id"),
        round(cosine + lit(1e-9), 6).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** LSH-bucketed ANN (the 100 TB path): multi-table multi-probe
    * random-hyperplane LSH — `tables` independent seeded signatures of
    * `nPlanes` bits each; a candidate is any vector whose bucket in
    * some table is within hamming distance `probeRadius` of the
    * query's bucket in that table (multi-probe: a near neighbour that
    * just misses the query's bucket almost always differs in ONE
    * plane's sign, so probing the nPlanes hamming-1 neighbours buys
    * most of the recall of 2^nPlanes more tables at zero index cost —
    * only the tiny QUERY side fans out, the corpus index is built
    * once). Candidate ids are deduped FIRST, then exact-cosine top-k
    * runs once per surviving pair over joined-back vectors. The probe
    * side is broadcast, so the corpus-sized index streams map-side;
    * per-bucket lists are ~n/2^nPlanes of the corpus, and recall grows
    * with `tables`/`probeRadius` (pinned >0.5 against annTopK in
    * SimilaritySpec). */
  /** (vec_id, table, bucket): the lean multi-table random-hyperplane
    * bucket index shared by [[annLsh]] / [[embedDedupLsh]] and the
    * bucket-skew probe — ids only, so whatever exchange the candidate
    * join plans never carries vectors (`tables` copies of every
    * embedding through a shuffle would dominate the exchange at high
    * dim; vectors are joined back exactly once per DEDUPED pair
    * instead, so a pair colliding in m tables pays one dot product,
    * not m). */
  def rhpIndex(embeddings: DataFrame, nPlanes: Int, tables: Int,
               seed: Long): DataFrame =
    embeddings
      .select(Seq(col("vec_id")) ++
        (0 until tables).map(t =>
          GraftFunctions.rhpSig(col("embedding"), nPlanes, seed + t).as(s"b$t")): _*)
      .select(col("vec_id"),
        posexplode(array((0 until tables).map(t => col(s"b$t")): _*)))
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")

  /** RHP bucket population profile (bucket count, largest bucket,
    * pre-verify candidate-pair volume) — the skew early-warning for
    * the embedding-LSH joins, logged per bench run (graft.Bench) and
    * bound-asserted in ScaleSpec. */
  def rhpBucketStats(embeddings: DataFrame, nPlanes: Int = 6, tables: Int = 8,
                     seed: Long = 42L): DataFrame =
    rhpIndex(embeddings, nPlanes, tables, seed)
      .groupBy("table", "bucket").agg(count(lit(1)).as("c"))
      .agg(
        count(lit(1)).as("n_buckets"),
        max(col("c")).as("max_bucket"),
        sum(col("c") * (col("c") - 1) / 2).cast("long").as("n_cand_pairs"))

  def annLsh(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5,
             nPlanes: Int = 6, tables: Int = 4, probeRadius: Int = 1,
             seed: Long = 42L): DataFrame = {
    require(probeRadius >= 0 && probeRadius <= 1,
      "probeRadius > 1 multiplies probe fan-out combinatorially; use more tables instead")
    val idx = rhpIndex(embeddings, nPlanes, tables, seed)
    // query-side probe fan-out: own bucket + each single-bit flip
    val probeCols = col("bucket") +: (if (probeRadius >= 1)
      (0 until nPlanes).map(p => col("bucket").bitwiseXOR(lit(1 << p))) else Seq.empty)
    val q = idx.filter(col("vec_id") < nQueries)
      .withColumn("pbucket", explode(array(probeCols: _*)))
    // the probe side is nQueries × tables × (1+nPlanes) id rows —
    // broadcast it, so the corpus index is probed map-side and the
    // only exchange in candidate generation is the small id-pair
    // distinct (multi-table collisions collapse BEFORE any vector
    // work)
    val candIds = broadcast(q.as("a"))
      .join(idx.as("b"),
        col("a.table") === col("b.table") && col("a.pbucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("cand_id"))
      .distinct()
    // exact verify: one cosine per surviving pair. Only the QUERY
    // VECTOR side gets a broadcast hint (bounded by nQueries); the
    // pair table is ~nQueries x bucket-population rows — LINEAR in
    // corpus size — so hinting it broadcast would bypass the size
    // threshold and OOM at exactly the scale this operator targets.
    // Locally AQE broadcasts the small pair side on its own; at scale
    // the verify is one hash join on cand_id
    val eN = withNorm(embeddings)
    val qv = eN.filter(col("vec_id") < nQueries)
    val cand = candIds
      .join(broadcast(qv.as("a")), col("query_id") === col("a.vec_id"))
      .join(eN.as("b"), col("cand_id") === col("b.vec_id"))
      .select(col("query_id"), col("cand_id"),
        round(cosine + lit(1e-9), 6).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("cand_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** Semantic (embedding-space) decontamination — the third member of
    * the decontamination family ([[Dedup.decontaminate]] exact global
    * shingles, [[Dedup.decontaminateFuzzy]] per-item containment):
    * for every corpus vector, the best-matching benchmark vector and
    * its cosine, flagged at `tau`. Catches reworded eval items that
    * share no n-grams at all (the embedding is the paraphrase-robust
    * axis); compose with [[hashEmbedDocs]] to run it straight off a
    * text corpus with no external model.
    *
    * Deterministic: best = max by 6dp-ROUNDED cosine, ties to the
    * lowest bench id. The rounded compare is the cross-engine-stable
    * one — raw dot-product sums differ in the last ulp between
    * engines, so a raw argmax could flip where two benchmark items
    * land within an ulp; after rounding both engines agree and the id
    * tiebreak resolves exact ties. Zero-norm corpus vectors (cosine
    * undefined — [[cosine]] yields null) surface as (-1, 0.0, 0).
    *
    * Shape: the benchmark is eval-set-bounded (MBs vs a corpus of
    * TBs) → broadcast; corpus vectors never shuffle — the only
    * exchange is the partial-aggregated (vec_id, best, cos) rollup,
    * one row per corpus vector. Per-row cost is |bench| dot products,
    * embarrassingly parallel across the scan.
    * @note 100TB: if the benchmark itself outgrows broadcast size,
    * bucket both sides with [[rhpIndex]] (the [[embedDedupLsh]]
    * shape) and verify only bucket-colliding pairs. */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                            tau: Double = 0.4): DataFrame = {
    // empty-benchmark probe (r21, bounded side — one tiny job at
    // build): the join-free rollup below emits nothing from an empty
    // cross join, where the former corpus-id left join kept every
    // vector as (-1, 0.0, 0) — reproduce that shape directly
    if (benchmark.isEmpty)
      return corpus.select(col("vec_id"), lit(-1L).as("best_bench"),
        lit(0.0).as("cosine"), lit(0L).as("contaminated"))
        .orderBy("vec_id")
    val c = spreadToCores(withNorm(corpus)).as("a")
    val b = withNorm(benchmark)
      .select(col("vec_id").as("bench_id"), col("v"), col("nrm")).as("b")
    // null cosines (zero-norm vectors) stay IN the rollup (r21): a
    // null struct FIELD ranks lowest, so any real cosine still wins
    // the max, and an all-null vector surfaces as m.cos null — decoded
    // to the (-1, 0.0, 0) sentinel below. This removes the former
    // corpus-id left join AND its second corpus scan + broadcast(best)
    // build: with a non-empty benchmark every corpus vector appears in
    // the cross join (withNorm drops no rows), so the rollup already
    // covers all ids.
    val scored = c.join(broadcast(b))
      .select(col("a.vec_id").as("vec_id"), col("bench_id"),
        round(cosine + lit(1e-9), 6).as("cos"))
    // max(struct) keeps the rollup partial-aggregable (map-side
    // combine collapses the |bench| fan-out before the exchange); the
    // negated id makes the struct order "highest cos, lowest id"
    scored
      .groupBy("vec_id")
      .agg(max(struct(col("cos"), (-col("bench_id")).as("nb"))).as("m"))
      .select(col("vec_id"),
        when(col("m.cos").isNotNull, -col("m.nb")).otherwise(lit(-1L))
          .as("best_bench"),
        coalesce(col("m.cos"), lit(0.0)).as("cosine"),
        coalesce(col("m.cos") >= tau, lit(false)).cast("long").as("contaminated"))
      .orderBy("vec_id")
  }

  /** The 100 TB form of [[embedDedup]]: candidate pairs are restricted
    * to vectors sharing a multi-table random-hyperplane bucket, then
    * verified with exact cosine — the O(n²) pair space shrinks to the
    * per-bucket blocks, shuffling on (table, bucket) like annLsh. A
    * high-cosine duplicate collides in some table with probability
    * →1 as cos→1 (recall vs the exact operator is pinned in
    * SimilaritySpec); raise `tables` to push recall at a given τ. */
  def embedDedupLsh(embeddings: DataFrame, tau: Double = 0.4,
                    nPlanes: Int = 6, tables: Int = 8,
                    seed: Long = 42L): DataFrame = {
    val idx = rhpIndex(embeddings, nPlanes, tables, seed)
    // candidate generation over ids only: the (table, bucket) self-join
    // shuffles 24-byte index rows, not `tables` copies of each vector,
    // and the distinct collapses multi-table collisions BEFORE the
    // verify — a pair colliding in m tables pays one dot product
    val candIds = idx.as("a").join(idx.as("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
      // the distinct's output is byte-small, so AQE coalesces it to ~1
      // partition and the per-pair dot-product verify serializes onto
      // one core (the ngramJaccard width-pin lesson); an explicit
      // keyed repartition is exempt from coalescing. Cost: one
      // 16 B/pair exchange
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism,
        col("vec_a"))
    val eN = withNorm(embeddings)
    candIds
      .join(eN.as("a"), col("vec_a") === col("a.vec_id"))
      .join(eN.as("b"), col("vec_b") === col("b.vec_id"))
      .select(col("vec_a"), col("vec_b"),
        round(cosine + lit(1e-9), 6).as("cos"))
      .filter(col("cos") >= tau)
      .orderBy("vec_a", "vec_b")
  }

  /** cid + centroid array (already unit norm) as a broadcastable frame. */
  private def centroidDF(spark: SparkSession, cents: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    cents.toSeq.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cid", "c")
  }

  /** Sample-trained spherical k-means centroids (unit norm) — the
    * bounded-driver-state quantizer shared by [[annIvf]] and
    * [[clusterEmbed]]. Trains on a bounded seeded sample (~256
    * vectors per centroid — ample for a coarse quantizer) fetched by
    * ONE distributed top-k-by-hash job; at dim 64 that's ~1 MB of
    * driver memory regardless of corpus size, and Lloyd's over it is
    * microseconds of driver CPU (the faiss shape: quantizer training
    * is sample-sized by design). All corpus-sized work stays in the
    * cluster. Deterministic: seeded hash order, ties to the lowest
    * cid — same data + seed ⇒ bit-identical centroids. `e` must be
    * the [[withNorm]] frame. */
  /** Count of quantizer trainings in this JVM — test instrumentation
    * for the train-once sharing contract (IntegrationSpec pins that a
    * ClusterBalanced curation run trains exactly once). */
  private[graft] val quantizerTrainings =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Train the shared coarse quantizer ONCE for reuse across
    * [[clusterEmbed]] / [[mixByCluster]] / [[annIvf]] calls on the
    * same corpus: each of those self-trains by default (convenient,
    * deterministic — same data + seed ⇒ same centroids), but a
    * pipeline that both mixes and publishes the per-topic datasheet
    * would then pay the training sample job twice for bit-identical
    * results. Train here, pass the array to each consumer's
    * `centroids` parameter. The array is nList×dim floats — KBs —
    * so holding it across calls is free. */
  def trainedQuantizer(embeddings: DataFrame, k: Int = 16, iters: Int = 3,
                       seed: Long = 42L): Array[Array[Float]] =
    trainQuantizer(Caches.persistTracked(withNorm(embeddings)), k, iters, seed)

  private[graft] def trainQuantizer(e: DataFrame, nList: Int, iters: Int,
                                    seed: Long): Array[Array[Float]] = {
    quantizerTrainings.incrementAndGet()
    // zero-norm vectors (empty docs under hashEmbedDocs) cannot be
    // unit-scaled — a NaN sample row would poison every centroid
    val sample: Array[Array[Float]] =
      BoundedFold.sample(e.filter(col("nrm") > 0), "vec_id", nList * 256, seed)
        .select(col("v"), col("nrm")).collect()
        .map { r =>
          val n = r.getDouble(1)
          r.getSeq[Float](0).map(x => (x / n).toFloat).toArray
        }
    require(sample.nonEmpty,
      "trainQuantizer: embeddings input is empty — nothing to train on")
    val dim = sample.head.length
    // a tiny corpus can yield fewer sample vectors than requested
    // clusters; train only as many centroids as there are init
    // vectors (faiss clamps the same way)
    val nL = math.min(nList, sample.length)

    // init: first nL sample vectors (hash order = seeded random)
    var cents: Array[Array[Float]] = sample.take(nL)
    for (_ <- 1 to iters) {
      // spherical update: mean of member unit vectors, renormalized;
      // assignment uses the same argmax-dot/ties-to-lowest rule as the
      // distributed TextHash.ivfAssign kernel
      val sums = Array.fill(nL)(new Array[Double](dim))
      val cnt = new Array[Int](nL)
      sample.foreach { v =>
        var best = 0
        var bs = Double.NegativeInfinity
        var c = 0
        while (c < nL) {
          var acc = 0.0
          var i = 0
          while (i < dim) { acc += v(i).toDouble * cents(c)(i).toDouble; i += 1 }
          if (acc > bs) { bs = acc; best = c }
          c += 1
        }
        val s = sums(best)
        var i = 0
        while (i < dim) { s(i) += v(i).toDouble; i += 1 }
        cnt(best) += 1
      }
      cents = cents.zipWithIndex.map { case (old, cid) =>
        if (cnt(cid) == 0) old // empty list keeps its centroid
        else {
          val v = sums(cid)
          val n = math.sqrt(v.map(x => x * x).sum)
          if (n == 0.0) old else v.map(x => (x / n).toFloat)
        }
      }
    }
    cents
  }

  /** Topic/domain clustering for data mixing — per-vector spherical
    * k-means assignment plus the cosine to the owning centroid (the
    * membership confidence a mixing policy thresholds on). The
    * pre-training corpus use: cluster the embedding space, then
    * sample/weight per cluster (cluster-balanced mixing, semantic
    * dedup domains) — the per-cluster datasheet is [[clusterStats]].
    *
    * Same scale shape as [[annIvf]]'s quantizer: training state is a
    * bounded driver sample (~1 MB), corpus labeling is the codegen'd
    * `ivfAssign` map over the scan, and the centroid join for the
    * confidence column broadcasts KBs. One presentation sort aside,
    * nothing corpus-sized shuffles. Deterministic: same data + seed ⇒
    * identical assignment (ties to the lowest cid).
    *
    * Deliberately NOT persisted (the r15 plan change): the sample
    * action and the assignment action each rescan the source instead
    * of sharing a cached copy. For a wide float-array corpus the
    * cache write+read costs MORE than a columnar rescan — measured at
    * the 100× corpus (500k×128): ~0.26 s per decode pass, 0.75 s
    * no-persist vs 0.97 s persisted per full run — and at 100 TB a
    * MEMORY_AND_DISK copy of the corpus is exactly the thing a
    * cluster cannot hold. Callers that genuinely reuse the normed
    * frame across MANY actions ([[mixByCluster]]'s three passes,
    * [[trainedQuantizer]]'s cross-operator sharing) keep their own
    * persist. */
  def clusterEmbed(embeddings: DataFrame, k: Int = 16, iters: Int = 3,
                   seed: Long = 42L,
                   centroids: Option[Array[Array[Float]]] = None): DataFrame = {
    val spark = embeddings.sparkSession
    val e = withNorm(embeddings)
    val cents = centroids.getOrElse(trainQuantizer(e, k, iters, seed))
    e.withColumn("cid", GraftFunctions.ivfAssign(col("v"), cents))
      .join(broadcast(centroidDF(spark, cents)), "cid")
      .select(col("vec_id"), col("cid"),
        // zero-norm vectors (empty docs under hashEmbedDocs) sit in
        // cid 0 by the tie rule with confidence 0, not a divide error
        round(when(col("nrm") > 0, dot(col("v"), col("c")) / col("nrm"))
          .otherwise(0.0) + lit(1e-9), 6).as("ccos"))
      .orderBy("vec_id")
  }

  /** Cluster-balanced sampling for data mixing — the composition the
    * clustering EXISTS for in a pre-training pipeline: `quota` vectors
    * per k-means cluster, selected in the deterministic Knuth-salt
    * order (uniform within cluster, reproducible cross-engine — the
    * same salt contract as [[TextAnalysis.stratifiedSample]], with the
    * cluster id as the stratum). Topic-balancing an embedding corpus
    * is this in one call: train/assign, then cap every topic at the
    * same budget.
    *
    * Scale shape: assignment is the codegen'd `ivfAssign` scan-local
    * map (no join, no shuffle); the per-cluster rank window is
    * salt-bound-prefiltered ([[TextAnalysis.saltBoundsByKey]]) to
    * ~quota rows per cluster before it sorts anything, so the window
    * input is output-sized, never corpus-sized; the result is
    * (k × quota)-bounded. Deterministic end-to-end: seeded training,
    * ties to the lowest cid, total (salt, vec_id) order. */
  def mixByCluster(embeddings: DataFrame, quota: Int, k: Int = 16,
                   iters: Int = 3, seed: Long = 42L,
                   centroids: Option[Array[Array[Float]]] = None): DataFrame = {
    require(quota > 0, s"quota must be positive: $quota")
    val e = Caches.persistTracked(withNorm(embeddings))
    val cents = centroids.getOrElse(trainQuantizer(e, k, iters, seed))
    // vec_id rides as doc_id through the shared salt/bound helpers
    // (their salt is keyed on that column name), renamed back at the end
    val assigned = e.select(col("vec_id").as("doc_id"),
      GraftFunctions.ivfAssign(col("v"), cents).as("cid"))
    val w = Window.partitionBy("cid").orderBy(col("sample_key"), col("doc_id"))
    assigned
      .select(col("doc_id"), col("cid"), TextAnalysis.sampleSalt.as("sample_key"))
      .join(broadcast(TextAnalysis.saltBoundsByKey(assigned, "cid", lit(quota))),
        Seq("cid"), "left")
      .filter(col("salt_bound").isNull || col("sample_key") < col("salt_bound"))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= quota)
      .select(col("doc_id").as("vec_id"), col("cid"), col("sample_rank"))
      .orderBy("cid", "sample_rank")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication") — the third
    * near-dup axis beside MinHash/SimHash shingles and RHP-bucketed
    * cosine: EMBEDDING near-dups resolved WITHIN k-means clusters, the
    * construction that catches semantic duplicates sharing no n-grams
    * while bounding the pair space by cluster the way bands/buckets
    * bound it elsewhere. Per cluster of the shared coarse quantizer
    * ([[trainQuantizer]] — pass `centroids` to reuse a
    * [[trainedQuantizer]] training across operators), every (i<j)
    * pair is cosine-scored and a vector with a LOWER-id neighbor at
    * cos ≥ tau is dropped — the keep-min-id rule of the other dedup
    * families (the paper keeps one arbitrary representative per
    * dup-group; min-id is the deterministic choice). Returns the
    * SURVIVORS (vec_id, cid).
    *
    * Scale shape: assignment is the codegen'd scan-local `ivfAssign`
    * map; each cluster then resolves ROW-LOCALLY — one collect_list
    * regroup on cid and the codegen'd
    * [[graft.functions.GraftFunctions.semDedupDrops]] kernel runs the pairwise
    * cosine loop over primitive arrays at memory speed. The r18 pair-
    * JOIN form (both sides partitioned on cid) was semantically
    * identical but paid ~100 ns of row materialization per candidate
    * pair — the 100×/k=16 probe (200k vectors, 1.25G pairs) measured
    * 177-212 s against numpy's 25 s BLAS tiles; the kernel does the
    * same arithmetic in the low seconds. Nothing corpus-sized is
    * broadcast (contrast [[embedDedup]], the exact oracle-path
    * form). Work is O(N²·d/k); one cluster must fit one row — BOTH
    * are why k must scale with the corpus: the paper runs k ≈ √N
    * (11k clusters for 5B embeddings), which bounds the cluster row
    * at ~√N·d·4 B and the total work at ~N^1.5·d
    * ([[semDedupClusterStats]] publishes the skew). Zero-norm
    * vectors have no defined cosine and can never pair, so they
    * always survive.
    *
    * FP discipline: cosine rounds to 6dp (+1e-9 nudge, BigDecimal
    * HALF_UP — exactly Spark's Round) before the tau compare, the
    * [[embedDedup]] contract; the dot is [[graft.functions.TextHash
    * .dotFD]]'s left-to-right widened sum; assignment ties go to the
    * lowest cid. Deterministic end-to-end for the trained-literal
    * oracle. */
  def semDedup(embeddings: DataFrame, tau: Double = 0.4, k: Int = 16,
               iters: Int = 3, seed: Long = 42L,
               centroids: Option[Array[Array[Float]]] = None): DataFrame = {
    // persisted: the normed frame feeds the quantizer sample job, the
    // cluster regroup, and the survivor anti-join's left side — three
    // consumers (the mixByCluster precedent)
    val e = Caches.persistTracked(withNorm(embeddings))
    val cents = centroids.getOrElse(trainQuantizer(e, k, iters, seed))
    val assigned = e.select(col("vec_id"), col("v"), col("nrm"),
      GraftFunctions.ivfAssign(col("v"), cents).as("cid"))
    val dropIds = assigned
      .groupBy("cid")
      .agg(collect_list(struct(col("vec_id"), col("v"), col("nrm"))).as("cluster"))
      .select(explode(GraftFunctions.semDedupDrops(col("cluster"), tau))
        .as("vec_id"))
    assigned.join(dropIds, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cid"))
      .orderBy("vec_id")
  }

  /** [[semDedup]]'s cluster-occupancy skew probe for the bench line
    * (the lsh_buckets pattern): cluster count, max cluster size, and
    * the within-cluster candidate-pair volume Σ n_c·(n_c−1)/2 — the
    * quantity the cluster restriction bounds. Pass `centroids` to
    * reuse a [[trainedQuantizer]] training (the semDedup hook). */
  def semDedupClusterStats(embeddings: DataFrame, k: Int = 16,
                           iters: Int = 3, seed: Long = 42L,
                           centroids: Option[Array[Array[Float]]] = None)
      : (Long, Long, Long) = {
    val e = withNorm(embeddings)
    val cents = centroids.getOrElse(trainQuantizer(e, k, iters, seed))
    val row = e.select(GraftFunctions.ivfAssign(col("v"), cents).as("cid"))
      .groupBy("cid").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)), max("n"), sum(expr("(n * (n - 1)) div 2"))).head()
    (row.getLong(0),
      if (row.isNullAt(1)) 0L else row.getLong(1),
      if (row.isNullAt(2)) 0L else row.getLong(2))
  }

  /** Per-subspace product-quantization codebooks (Jégou, Douze,
    * Schmid 2011) — the vector split into `m` equal subspaces, each
    * with its own `kCodes`-centroid L2 k-means codebook trained on a
    * seeded bounded driver sample (the [[trainQuantizer]] pattern:
    * hash-ordered sample, fixed Lloyd iterations, argmin ties to the
    * lowest code, empty clusters keep their centroid — bit-
    * deterministic, so the codebooks export as trained literals).
    * Driver state: m·kCodes·(d/m) floats = d·kCodes — KBs.
    *
    * Sample sizing (the √N-rule precedent, r19): the sample is
    * kCodes·256 vectors — k-means estimation adequacy scales with the
    * parameters PER codebook, kCodes·dsub, not with the corpus, so
    * ~256 points per centroid is the faiss-conventional margin (39+
    * is their warning floor) and the sample should GROW LINEARLY WITH
    * kCodes (already automatic here) but needs no corpus-size term.
    * When dsub grows past ~O(100) dims per subspace (small m over a
    * high-dim embedding), raise the per-centroid multiplier toward
    * ~4·dsub so each centroid's covariance is still overdetermined;
    * the driver cost stays sample·d·4 B — MBs. A larger sample
    * changes the trained literals, so it is a TRAINING parameter, not
    * a tuning knob to flip between runs of the same corpus. */
  def trainPqCodebooks(embeddings: DataFrame, m: Int = 16, kCodes: Int = 32,
                       iters: Int = 5, seed: Long = 42L)
      : Array[Array[Array[Float]]] = {
    val sample = pqSample(embeddings, kCodes, seed)
    require(sample.nonEmpty,
      "trainPqCodebooks: embeddings input is empty — nothing to train on")
    // widened floats are EXACT doubles, so routing through the shared
    // double-sample Lloyd is bit-identical to the pre-r19 float form
    pqLloyd(sample.map(_.map(_.toDouble)), m, kCodes, iters)
  }

  /** Shared per-subspace Lloyd trainer of [[trainPqCodebooks]] (raw
    * vectors, widened) and [[trainIvfPqCodebooks]] (coarse residuals,
    * natively double): init = first `kCodes` sample rows (hash order =
    * seeded random), argmin left-to-right squared L2 with ties to the
    * lowest code, empty clusters keep their centroid, means truncate
    * to float — bit-deterministic, so every consumer's codebooks
    * export as trained literals. */
  private def pqLloyd(sample: Array[Array[Double]], m: Int, kCodes: Int,
                      iters: Int): Array[Array[Array[Float]]] = {
    val d = sample.head.length
    require(d % m == 0, s"dim $d is not divisible by m=$m subspaces")
    val dsub = d / m
    Array.tabulate(m) { s =>
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      var cents: Array[Array[Float]] =
        sub.take(math.min(kCodes, sub.length)).map(_.map(_.toFloat))
      for (_ <- 1 to iters) {
        val sums = Array.fill(cents.length)(new Array[Double](dsub))
        val cnt = new Array[Int](cents.length)
        sub.foreach { v =>
          var best = 0
          var bd = Double.PositiveInfinity
          var c = 0
          while (c < cents.length) {
            var acc = 0.0
            var i = 0
            while (i < dsub) {
              val x = v(i) - cents(c)(i).toDouble
              acc += x * x
              i += 1
            }
            if (acc < bd) { bd = acc; best = c }
            c += 1
          }
          val t = sums(best)
          var i = 0
          while (i < dsub) { t(i) += v(i); i += 1 }
          cnt(best) += 1
        }
        cents = cents.zipWithIndex.map { case (old, ci) =>
          if (cnt(ci) == 0) old
          else sums(ci).map(x => (x / cnt(ci)).toFloat)
        }
      }
      cents
    }
  }

  /** Driver replica of [[graft.functions.TextHash.ivfPqEncode]]'s
    * coarse-assign + unit-normalize + residual arithmetic (exactly the
    * kernel's double chain: widened left-to-right dot argmax with ties
    * to the lowest cid, ‖v‖ from the same left-to-right squared sum, a
    * zero-norm vector skips the scaling) — used by the codebook
    * trainer and the per-query LUT so every residual in the system is
    * the same bits the scan-local encoder produces. */
  private[graft] def coarseResidual(v: Array[Float],
                                    cents: Array[Array[Float]])
      : (Int, Double, Array[Double]) = {
    var cid = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val ct = cents(c)
      val lim = math.min(v.length, ct.length)
      var acc = 0.0
      var i = 0
      while (i < lim) { acc += v(i).toDouble * ct(i).toDouble; i += 1 }
      if (acc > bestDot) { bestDot = acc; cid = c }
      c += 1
    }
    var ss = 0.0
    var i = 0
    while (i < v.length) { ss += v(i).toDouble * v(i).toDouble; i += 1 }
    val nrm = math.sqrt(ss)
    (cid, nrm, residualVs(v, nrm, cents(cid)))
  }

  /** The residual of `v`'s unit-normalized form against ONE given
    * centroid (full centroid dim; missing tail elements of a short
    * vector read as 0 — the kernel clamp). Split from
    * [[coarseResidual]] for the query-side LUT, whose residuals are
    * taken against each PROBED list's centroid, not just the owner's. */
  private def residualVs(v: Array[Float], nrm: Double,
                         cent: Array[Float]): Array[Double] = {
    val d = cent.length
    val r = new Array[Double](d)
    var i = 0
    while (i < d) {
      val x = if (i < v.length) v(i).toDouble else 0.0
      r(i) = (if (nrm > 0) x / nrm else x) - cent(i).toDouble
      i += 1
    }
    r
  }

  /** Residual PQ codebooks for IVF-PQ (Jégou 2011 §III): per-subspace
    * L2 k-means over the coarse RESIDUALS — each sample vector is
    * unit-normalized, assigned to its inverted list, and the codebooks
    * train on `v/‖v‖ − c_cid` (the quantity the index actually
    * encodes; one shared codebook set serves every list because
    * unit-sphere residuals are O(1) whatever the raw norms). Same
    * bounded-sample / seeded / bit-deterministic contract (and the
    * same kCodes·256 sizing rule) as [[trainPqCodebooks]], so these
    * too export as trained literals. */
  def trainIvfPqCodebooks(embeddings: DataFrame,
                          cents: Array[Array[Float]],
                          m: Int = 16, kCodes: Int = 32,
                          iters: Int = 5, seed: Long = 42L)
      : Array[Array[Array[Float]]] =
    ivfPqLloydFromSample(pqSample(embeddings, kCodes, seed), cents,
      m, kCodes, iters)

  /** The bounded training-sample collect of [[trainPqCodebooks]] and
    * [[trainIvfPqCodebooks]], split out so [[annIvfPq]] can overlap it
    * with the coarse quantizer's own sample job (the two collects are
    * independent — only the Lloyd step needs the trained centroids;
    * guide §2.6's overlap-independent-jobs form). */
  private[graft] def pqSample(embeddings: DataFrame, kCodes: Int,
                              seed: Long): Array[Array[Float]] =
    BoundedFold.sample(embeddings.select(col("vec_id"), col("embedding")),
      "vec_id", kCodes * 256, seed)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)

  private[graft] def ivfPqLloydFromSample(sample: Array[Array[Float]],
                                          cents: Array[Array[Float]],
                                          m: Int, kCodes: Int, iters: Int)
      : Array[Array[Array[Float]]] = {
    require(sample.nonEmpty,
      "trainIvfPqCodebooks: embeddings input is empty — nothing to train on")
    pqLloyd(sample.map(v => coarseResidual(v, cents)._3), m, kCodes, iters)
  }

  /** Product-quantization ANN (the MEMORY-BOUNDED axis beside
    * [[annLsh]]'s buckets and [[annIvf]]'s inverted lists): the
    * corpus index is m int codes per vector — 8 codes standing in
    * for 64 floats, a 32× payload compression, which is what lets a
    * 100 TB embedding store keep its ENTIRE index hot (the faiss PQ
    * posture; compose with IVF list restriction — IVF-PQ — when the
    * candidate sweep itself must shrink). Scoring is ADC (asymmetric
    * distance computation): per query, an m·kCodes lookup table of
    * 6dp-rounded per-subspace squared distances (built on the driver
    * from the bounded query set — the [[annTopK]] contract) joins
    * the exploded code stream broadcast-side; a candidate's
    * approximate distance is the DECIMAL-exact sum of its m looked-up
    * entries, so the rank is deterministic cross-engine (the decSum
    * discipline — a raw double SUM over a shuffle would be
    * order-dependent). Top-k per query by (adist, cand_id).
    *
    * Scale shape: encoding is the scan-local codegen'd [[graft
    * .functions.GraftFunctions.pqEncode]] map; the only corpus-sized rows in motion
    * are (sub, code, vec_id) ints through ONE broadcast join and one
    * (query, cand) rollup — vectors never shuffle, never broadcast.
    * Approximation contract: PQ ranks by quantized distance —
    * SimilaritySpec pins recall against [[annTopK]]; raise kCodes/m
    * for tighter recall (the codebooks stay KBs). */
  def annPq(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5,
            m: Int = 16, kCodes: Int = 32, seed: Long = 42L,
            codebooks: Option[Array[Array[Array[Float]]]] = None): DataFrame = {
    val spark = embeddings.sparkSession
    // overlap the two independent bounded driver pulls (codebook
    // training sample, query vectors) — the annIvfPq r20 pattern;
    // same collected rows, bit-identical codebooks
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // blocking{}: these futures BLOCK on Spark collects — mark them so
    // the shared fork-join pool spawns compensation threads instead of
    // starving under concurrent callers (r20 ADVICE)
    val cbF = Future(blocking(codebooks.getOrElse(
      trainPqCodebooks(embeddings, m, kCodes, seed = seed))))
    val qvecsF = Future(blocking(embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))))
    val cb = Await.result(cbF, Duration.Inf)
    val dsub = cb(0)(0).length
    // spread: the encode map, LUT probe and ADC partial aggregate all
    // run inside this scan stage (size-gated — no-op at scale)
    val codes = spreadToCores(embeddings.select("vec_id", "embedding"))
      .select(col("vec_id"),
      posexplode(GraftFunctions.pqEncode(col("embedding"), cb))
        .as(Seq("sub", "code")))
    // per-query ADC lookup table, built on the driver from the
    // collected query vectors (nQueries · d floats — bounded by the
    // same designated-query contract as annTopK) with the SAME
    // subspace arithmetic the encoder and the DuckDB oracle use
    val qvecs = Await.result(qvecsF, Duration.Inf)
    val lutRows = for {
      (qid, qv) <- qvecs.toSeq
      s <- cb.indices
      c <- cb(s).indices
    } yield {
      val cent = cb(s)(c)
      val base = s * dsub
      var acc = 0.0
      var i = 0
      while (i < dsub) {
        val x = (if (base + i < qv.length) qv(base + i).toDouble else 0.0) -
          cent(i).toDouble
        acc += x * x
        i += 1
      }
      (qid, s, c,
        java.math.BigDecimal.valueOf(acc + 1e-9)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
    }
    import spark.implicits._
    val lut = lutRows.toDF("query_id", "sub", "code", "pd")
    val w = Window.partitionBy("query_id").orderBy(asc("adist"), asc("cand_id"))
    codes
      .join(broadcast(lut), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("cand_id"))
      .agg(decSum(col("pd")).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ ANN (Jégou, Douze, Schmid 2011 §III — IVFADC, the faiss
    * production shape): the [[annIvf]] inverted-list restriction and
    * the [[annPq]] memory-bounded code index COMPOSED — the corpus
    * index is m+1 ints per vector (list id + residual PQ codes), a
    * query scores ONLY the candidates in its nProbe nearest lists,
    * and scoring is ADC over codes, so at 100 TB both the candidate
    * sweep (nProbe/nList of the corpus) and the index payload (ints,
    * not floats) are bounded at once. Residual encoding is also the
    * RECALL lever over plain PQ: `v/‖v‖ − c_list` has a fraction of
    * the raw vector's variance, so the same m×kCodes budget quantizes
    * it much more tightly (SimilaritySpec pins recall vs [[annTopK]]
    * strictly above [[annPq]]'s).
    *
    * Geometry: codes quantize the UNIT-SPHERE residual, so a
    * candidate's ADC value approximates ‖q/‖q‖ − x/‖x‖‖² = 2−2cosθ —
    * monotone in the cosine the exact operators rank by. ADC rank is
    * (adist ASC, cand_id ASC) over 6dp LUT entries DECIMAL-summed —
    * deterministic cross-engine, the [[annPq]] discipline.
    *
    * RE-RANKING (`refine`, the faiss IndexRefine posture): ADC keeps
    * a refine·k shortlist per query, then ONE exact rounded-cosine
    * pass over the shortlist (joined back to the vector store by id)
    * picks the final top-k. Measured necessity, not decoration: pure
    * residual-ADC ranking read recall 0.26/0.29 vs [[annTopK]] on the
    * test corpora — 16 coarse lists leave most unit-sphere variance
    * in the residual, so m=16×32 codes rank coarsely WITHIN a list —
    * while the re-ranked form recovers nearly the probed-list ceiling
    * (pinned above both [[annPq]]'s 0.43 and [[annIvf]]'s default in
    * SimilaritySpec). The refine cost is nQueries·refine·k id-lookups
    * — independent of corpus size; the INDEX stays m+1 ints/vector.
    *
    * Scale shape: encoding is ONE scan-local codegen'd map
    * ([[graft.functions.GraftFunctions.ivfPqEncode]] — both trained matrices ride as
    * reference objects); the only corpus-sized rows in motion are
    * (cid, sub, code, vec_id) ints through ONE broadcast join against
    * the per-(query, probed-list) LUT and one (query, cand) rollup;
    * the refine join streams the vector store map-side against the
    * fixed-size shortlist. Vectors never shuffle, never broadcast.
    * Driver state is bounded by construction: centroids (nList·d
    * floats), codebooks (d·kCodes floats), query vectors (the
    * [[annTopK]] designated-query contract), and the LUT
    * (nQueries·nProbe·m·kCodes rounded doubles — KBs). Probe
    * selection replicates [[annIvf]]'s window exactly (raw ccos DESC
    * NULLS LAST, ties to the lowest cid) on the driver, where the
    * query vectors already live; nProbe defaults to 6 (of 16 lists) —
    * the recall/sweep point the refine stage deserves. */
  def annIvfPq(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5,
               nList: Int = 16, nProbe: Int = 6, iters: Int = 3,
               m: Int = 16, kCodes: Int = 32, pqIters: Int = 5,
               refine: Int = 4, seed: Long = 42L,
               centroids: Option[Array[Array[Float]]] = None,
               codebooks: Option[Array[Array[Array[Float]]]] = None)
      : DataFrame = {
    require(refine >= 1, s"refine must be >= 1: $refine")
    val spark = embeddings.sparkSession
    // the three bounded driver pulls — quantizer sample, codebook
    // sample, query vectors — are INDEPENDENT jobs (only the Lloyd
    // step consumes the trained centroids), but ran sequentially and
    // cost three back-to-back single-scan jobs (~0.5 s of the sf0.1
    // wall). Overlap them (guide §2.6); same collected rows, same
    // training inputs, bit-identical results.
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // blocking{}: see annPq — Spark collects inside futures must not
    // starve the shared fork-join pool (r20 ADVICE). A failed training
    // pull still leaves the sibling collects running detached; with
    // three bounded jobs that is an accepted cost (they finish and are
    // discarded), not an orphan-job leak.
    val centsF = Future(blocking(centroids.getOrElse(
      trainQuantizer(withNorm(embeddings), nList, iters, seed))))
    val cbSampleF =
      if (codebooks.isDefined) Future.successful(Array.empty[Array[Float]])
      else Future(blocking(pqSample(embeddings, kCodes, seed)))
    val qvecsF = Future(blocking(embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))))
    val cents = Await.result(centsF, Duration.Inf)
    val cb = codebooks.getOrElse(ivfPqLloydFromSample(
      Await.result(cbSampleF, Duration.Inf), cents, m, kCodes, pqIters))
    val dsub = cb(0)(0).length

    // corpus index: one scan-local map to [cid, codes...], exploded to
    // 4-int rows — the only corpus-sized stream in the plan. The
    // explicit embedding-null prefilter (pushes to the parquet scan)
    // plus the never-hit coalesce make `cid` NON-NULLABLE, so the
    // inner join can no longer infer an IsNotNull(cid) data filter
    // that re-evaluates the encode kernel at the scan (r19 verdict
    // item 8: one extra ~3k-flop pass per row). A null-embedding row
    // produced no output before either — its null code array
    // generates nothing — so results are unchanged.
    // spreadToCores: the encode map, the LUT probe and the ADC partial
    // aggregate all run inside this scan stage — a single-file corpus
    // arrives as ONE partition and serializes them onto one core
    // (size-gated: a well-partitioned 100 TB store passes through)
    val codes = spreadToCores(embeddings
      .filter(col("embedding").isNotNull))
      .select(col("vec_id"),
        GraftFunctions.ivfPqEncode(col("embedding"), cents, cb).as("cc"))
      .select(col("vec_id"),
        coalesce(element_at(col("cc"), 1), lit(-1)).as("cid"),
        posexplode(slice(col("cc"), 2, m)).as(Seq("sub", "code")))

    // driver-built per-(query, probed list) ADC lookup table: the
    // query vectors are bounded by the designated-query contract and
    // collected anyway, so probe ranking runs where they live
    val qvecs = Await.result(qvecsF, Duration.Inf)
    val lutRows = for {
      (qid, qv) <- qvecs.toSeq
      // ccos per centroid, then annIvf's probe window: DESC with a
      // zero-norm query's undefined ccos sorting LAST, ties to the
      // lowest cid
      nrm = {
        var ss = 0.0; var i = 0
        while (i < qv.length) { ss += qv(i).toDouble * qv(i).toDouble; i += 1 }
        math.sqrt(ss)
      }
      cid <- cents.indices
        .map { c =>
          val ct = cents(c)
          val lim = math.min(qv.length, ct.length)
          var acc = 0.0; var i = 0
          while (i < lim) { acc += qv(i).toDouble * ct(i).toDouble; i += 1 }
          (c, if (nrm > 0) Some(acc / nrm) else None)
        }
        .sortWith { (p, q) =>
          (p._2, q._2) match {
            case (Some(a), Some(b)) => if (a != b) a > b else p._1 < q._1
            case (Some(_), None)    => true
            case (None, Some(_))    => false
            case (None, None)       => p._1 < q._1
          }
        }
        .take(nProbe).map(_._1)
      r = residualVs(qv, nrm, cents(cid))
      s <- cb.indices
      c <- cb(s).indices
    } yield {
      val cw = cb(s)(c)
      val base = s * dsub
      var acc = 0.0
      var i = 0
      while (i < dsub) {
        val x = (if (base + i < r.length) r(base + i) else 0.0) - cw(i).toDouble
        acc += x * x
        i += 1
      }
      (qid, cid, s, c,
        java.math.BigDecimal.valueOf(acc + 1e-9)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
    }
    import spark.implicits._
    val lut = lutRows.toDF("query_id", "cid", "sub", "code", "pd")
    val shortW = Window.partitionBy("query_id")
      .orderBy(asc("adist"), asc("cand_id"))
    val shortlist = codes
      .join(broadcast(lut), Seq("cid", "sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("cand_id"))
      .agg(decSum(col("pd")).as("adist"))
      .withColumn("srank", row_number().over(shortW))
      .filter(col("srank") <= refine * k)
      .select("query_id", "cand_id")
    // refine: exact rounded cosine over the fixed-size shortlist only
    // (the annLsh verify shape — query vectors broadcast, the vector
    // store streams through one hash join on cand_id)
    val eN = withNorm(embeddings)
    val qv = eN.filter(col("vec_id") < nQueries)
    val cand = shortlist
      .join(broadcast(qv.as("a")), col("query_id") === col("a.vec_id"))
      .join(eN.as("b"), col("cand_id") === col("b.vec_id"))
      .select(col("query_id"), col("cand_id"),
        round(cosine + lit(1e-9), 6).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("cand_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** Per-cluster datasheet over [[clusterEmbed]]'s assignment: size
    * and cohesion (mean/min cosine-to-centroid) per cluster — what a
    * mixing policy reads to set per-cluster quotas. One partial-agg
    * shuffle on the bounded cid key. */
  def clusterStats(assigned: DataFrame): DataFrame =
    assigned.groupBy("cid")
      .agg(count(lit(1)).as("n_vectors"),
        // ccos is 6dp fixed-point — DECIMAL sum keeps the mean
        // bit-identical cross-engine (the decSum/decAvg discipline)
        decAvg(col("ccos"), 6).as("mean_ccos"),
        rnd(min(col("ccos")), 6).as("min_ccos"))
      .orderBy("cid")

  /** IVF ANN (the k-means counterpart to annLsh's hyperplane buckets):
    * a spherical k-means coarse quantizer of nList centroids is trained
    * distributed; only the nList×dim centroid matrix — KBs by design —
    * ever lands on the driver, the standard IVF shape. Nearest-centroid
    * assignment is the codegen'd [[graft.functions.TextHash.ivfAssign]]
    * expression with the centroid matrix baked in, so both training
    * assignment and the final inverted-list labeling are pure map-side
    * work (no join, no shuffle); each Lloyd iteration shuffles only the
    * tiny (cid, dim) partial sums, summed in DECIMAL so centroids are
    * bit-identical regardless of partition order. A query then scores
    * only the vectors in its nProbe closest lists; that candidate join
    * hash-partitions on the list id, so at 100 TB each list is a
    * co-located slice and the pair space is ~nProbe/nList of brute
    * force (train the quantizer on a sample there rather than the full
    * corpus). Deterministic end-to-end: seeded xxhash64 init, ties to
    * the lowest cid. */
  def annIvf(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5,
             nList: Int = 16, nProbe: Int = 4, iters: Int = 3,
             seed: Long = 42L,
             centroids: Option[Array[Array[Float]]] = None): DataFrame = {
    val spark = embeddings.sparkSession
    val e = Caches.persistTracked(withNorm(embeddings))
    val cents = centroids.getOrElse(trainQuantizer(e, nList, iters, seed))

    // final inverted-list labels: a pure map over the corpus
    val assigned = e.withColumn("cid", GraftFunctions.ivfAssign(col("v"), cents))
    val cdf = centroidDF(spark, cents)

    // nProbe nearest lists per query vector
    val q = e.filter(col("vec_id") < nQueries)
    val pw = Window.partitionBy("query_id").orderBy(desc("ccos"), asc("cid"))
    val probed = q.crossJoin(broadcast(cdf))
      .select(col("vec_id").as("query_id"), col("cid"),
        // centroids are unit; zero-norm queries get null ccos (sorts
        // last) instead of an ANSI divide error
        when(col("nrm") > 0, dot(col("v"), col("c")) / col("nrm")).as("ccos"))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= nProbe)
      .select("query_id", "cid")

    // exact cosine over the probed inverted lists only. The (query ×
    // probe) side is tiny by construction (nQueries × nProbe rows) and
    // is broadcast, so the corpus-sized inverted-list table streams
    // through a broadcast hash join on cid — it is never shuffled.
    val qp = q.as("a")
      .join(probed.as("p"), col("a.vec_id") === col("p.query_id"))
    val cand = broadcast(qp)
      .join(assigned.as("b"),
        col("p.cid") === col("b.cid") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("cand_id"),
        round(cosine + lit(1e-9), 6).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("cand_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }
}
