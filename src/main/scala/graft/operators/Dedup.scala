package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Near-duplicate detection over the documents corpus (SURVEY.md §2H):
  * MinHash+LSH, SimHash, and exact n-gram Jaccard.
  *
  * Scale design: the candidate space is always bucket-restricted — the
  * O(n²) pair space is never materialized. MinHash bands and SimHash
  * chunks are hash-shuffle keys; each bucket's pair expansion is local
  * to its partition. Shingles are carried as 8-byte hashes (codegen'd
  * ShingleHash64 expression), never as strings, so bucket joins and
  * set intersections run on longs; shingle sets that feed multiple
  * plan branches are persisted once instead of recomputed per branch.
  */
object Dedup {

  /** Distinct word n-gram shingles as strings (reference semantics /
    * debugging; the pipelines below use the hashed form). */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    docs.select(
      col("doc_id"),
      when(size(toks) >= n,
        array_distinct(transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
        .otherwise(array().cast("array<string>")).as("sh"))
  }

  /** Distinct hashed n-gram shingles (array<long>, codegen'd). The
    * input spreads to full parallelism first — tokenization + hashing
    * is the corpus-wide per-row kernel, and a single-partition small
    * table would run it on one core. The result is fenced: callers
    * filter on `size(sh)`, which would otherwise recompute the kernel
    * inside the filter and again in the projection. */
  def shingleHashes(docs: DataFrame, n: Int = 3): DataFrame =
    fence(spreadToCores(docs).select(
      col("doc_id"),
      GraftFunctions.shingleHash64(TextAnalysis.tokens(col("text")), n).as("sh")))

  /** MinHash+LSH near-dup pairs: 128 minhashes → `bands` bands of
    * 128/bands rows; docs agreeing on any band's slice are candidates;
    * candidates are verified with EXACT shingle-set Jaccard >= tau.
    *
    * The band bucket key is (band index, hash of the slice) — a single
    * shuffle; bucket sizes are tiny because agreeing on 8 uniform
    * 64-bit minhashes is itself a strong filter. */
  /** (doc_id, band, bucket) — each doc's 16 band-bucket keys. Shared
    * by the pair pipeline and the bucket-skew probe. */
  private def bandBuckets(sh: DataFrame, k: Int, bands: Int): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"bands ($bands) must evenly divide signature size ($k)")
    val rows = k / bands
    sh.select(col("doc_id"),
        GraftFunctions.minhashSigL(col("sh"), k).as("sig"))
      .select(
        col("doc_id"), col("sig"),
        posexplode(array((0 until bands).map(b =>
          slice(col("sig"), b * rows + 1, rows)): _*)))
      .select(col("doc_id"), col("pos").as("band"), hash(col("col")).as("bucket"))
  }

  /** (doc_id, band, bb) — each document's LSH band keys with the band
    * index folded into ONE 64-bit join key (`bb = xxhash64(band,
    * bucket)`), the storable form of [[bandBuckets]]: the streaming
    * near-dup membership store ([[graft.streaming.CorpusIngest]])
    * keeps exactly these keys per admitted document, bucketed by bb,
    * so a batch's keys semi-join the store on a single column with
    * the catalog's bucket layout satisfying the store side. Documents
    * too short to shingle (< n tokens) emit no keys — they can never
    * be near-dup-rejected, by design. */
  private[graft] def bandKeys(docs: DataFrame, k: Int = 128,
                              bands: Int = 16): DataFrame =
    bandBuckets(shingleHashes(docs).filter(size(col("sh")) > 0), k, bands)
      .select(col("doc_id"), col("band"),
        xxhash64(col("band"), col("bucket")).as("bb"))

  /** Band-bucket population profile: bucket count, largest bucket, and
    * the pre-verify candidate-pair volume (Σ c·(c−1)/2). THE skew
    * early-warning for the LSH join — a hot bucket shows up here long
    * before it shows up as a straggler task at 100 TB. Logged per
    * bench run (graft.Bench). */
  def minhashBucketStats(docs: DataFrame, k: Int = 128, bands: Int = 16): DataFrame =
    bandBuckets(shingleHashes(docs).filter(size(col("sh")) > 0), k, bands)
      .groupBy("band", "bucket").agg(count(lit(1)).as("c"))
      .agg(
        count(lit(1)).as("n_buckets"),
        max(col("c")).as("max_bucket"),
        sum(col("c") * (col("c") - 1) / 2).cast("long").as("n_cand_pairs"))

  def minhashPairs(docs: DataFrame, k: Int = 128, bands: Int = 16,
                   tau: Double = 0.8): DataFrame =
    minhashPairsRaw(docs, k, bands, tau).orderBy("doc_a", "doc_b")

  /** [[minhashPairs]] WITHOUT the presentation sort — the composition
    * form (r16): a consumer that resolves the pairs into components
    * ([[nearDupClusters]] — order-independent by construction: the
    * component set and its min-label canonicals are unique whatever
    * order edges arrive in) must not pay a range exchange + full sort
    * just to discard it. The sort survives EliminateSorts on exactly
    * the curation path because the cluster probe is a LIMIT (an
    * order-DEPENDENT operator to Catalyst, though the union-find
    * doesn't care which pairs it sees first). */
  private[graft] def minhashPairsRaw(docs: DataFrame, k: Int = 128,
                                     bands: Int = 16,
                                     tau: Double = 0.8): DataFrame = {
    // sorted once per doc in the cached frame so the verify's
    // intersection is a zero-allocation merge walk (minhash itself is
    // order-independent — min over elements)
    val sh = Caches.persistTracked(
      shingleHashes(docs).filter(size(col("sh")) > 0)
        .select(col("doc_id"), sort_array(col("sh")).as("sh")))
    val banded = bandBuckets(sh, k, bands)
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cand, sh, tau)
  }

  /** Exact Jaccard over candidate pairs via hashed-shingle join-back.
    * `sh` arrays MUST be sorted (the callers' cached frames apply
    * sort_array) — the intersection is the codegen'd merge-walk
    * [[GraftFunctions.sortedIntersectCount]], one pass and zero
    * allocation per candidate pair where array_intersect built hash
    * sets and materialized the intersection array per row. */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame, tau: Double): DataFrame = {
    val withSets = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
    val inter = GraftFunctions
      .sortedIntersectCount(col("sh_a"), col("sh_b")).cast("double")
    val union = (size(col("sh_a")) + size(col("sh_b"))).cast("double") - inter
    withSets
      .select(col("doc_a"), col("doc_b"), rnd(inter / union, 4).as("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  /** SimHash near-dup pairs: 64-bit simhash of the shingle set, split
    * into `chunks` chunks; by pigeonhole any pair within hamming
    * distance < chunks shares a chunk → bucket join on (chunk index,
    * chunk value), then exact hamming verify <= maxHamming. */
  def simhashPairs(docs: DataFrame, chunks: Int = 8, maxHamming: Int = 6): DataFrame = {
    val bits = 64 / chunks
    val sig = Caches.persistTracked(
      shingleHashes(docs).filter(size(col("sh")) > 0)
        .select(col("doc_id"), GraftFunctions.simhash64L(col("sh")).as("sim")))
    val chunked = sig.select(
      col("doc_id"), col("sim"),
      posexplode(array((0 until chunks).map(c =>
        shiftright(col("sim"), c * bits).bitwiseAND(lit((1L << bits) - 1))): _*)))
      .select(col("doc_id"), col("sim"), col("pos").as("chunk"), col("col").as("ck"))
    val cand = chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sim").as("sim_a"), col("b.sim").as("sim_b"))
      .distinct()
    cand
      .select(col("doc_a"), col("doc_b"),
        GraftFunctions.hamming64(col("sim_a"), col("sim_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Resolve a near-dup PAIR frame (doc_a, doc_b) into connected
    * components — the step that turns pairwise matches into actual
    * dedup decisions (one keeper per cluster). Min-label propagation:
    * every doc starts labeled with its own id; each round, a doc
    * takes the minimum label in its neighborhood; at fixpoint the
    * label is the component's minimum doc id, which doubles as the
    * canonical `cluster_id`.
    *
    * Scale: each round is one join + one aggregate, both
    * hash-partitioned on doc id, and round count is bounded by the
    * component DIAMETER — near-dup clusters are tiny dense blobs
    * (pairs of a cluster mostly all co-exist), so 2-3 rounds converge
    * in practice; `maxIters` caps adversarial chains. Rounds
    * `localCheckpoint` their label frame — an iterative plan that is
    * merely persisted keeps its full lineage and grows EXPONENTIALLY
    * (each round references the previous twice); checkpointing
    * truncates it to a scan of the materialized result, and the
    * superseded round's blocks are reclaimed by the ContextCleaner.
    * Output: (doc_id, cluster_id) for every doc appearing in some
    * pair. */
  def nearDupClusters(pairs: DataFrame, maxIters: Int = 20,
                      driverMaxPairs: Long = 1L << 20): DataFrame = {
    // NOT persisted up front (r16): on the common union-find path the
    // pairs are read exactly once (the probe collect) — caching them
    // was a pure write cost; only the distributed path re-reads them
    // per propagation round, and it persists below before iterating
    val p = pairs.select(col("doc_a"), col("doc_b"))
    // Size-adaptive: verified near-dup PAIRS are a vanishing fraction
    // of the corpus (dup-rate × docs, not docs²) — when they fit the
    // driver comfortably, a union-find resolves them in microseconds
    // instead of 2-3 Spark rounds of ~0.5 s fixed scheduling cost
    // each (the same bounded-driver-state pattern as the IVF
    // centroids). The default bound is 1M pairs: the real driver cost
    // is JVM object overhead, not the 16 raw bytes/pair — ~100 bytes
    // per collected Row plus ~50 bytes per boxed HashMap entry ≈
    // 300-400 MB at 1M pairs, safe for common 2-4 GB driver sizings.
    // Beyond the bound, distributed min-label propagation (below) is
    // the path that scales to billions of pairs.
    // The size check IS the collect: limit(bound+1) pulls at most one
    // row past the bound, so the common small case pays ONE job over
    // the pairs instead of a count job plus a collect job, and an
    // over-bound pair set still stops at bound+1 driver rows.
    // Over-bound probe cost: those bound+1 rows are a TRANSIENT
    // allocation discarded before distributedClusters runs — by
    // construction the same ~300-400 MB budget the within-bound
    // union-find legitimately holds, so the guard's driver-memory
    // envelope is unchanged; it is wasted work only on the rare
    // distributed path, where one bounded collect (and one repeated
    // pair computation feeding the persist) is noise against the
    // propagation rounds that follow.
    // The caller's bound is clamped to what THIS driver's heap can
    // plausibly hold (~350 bytes/pair of boxed tuple + HashMap entries
    // — the same estimate the default bound's comment derives), never
    // past the JVM array-length cap: a Long.MaxValue caller bound with
    // ~1-2G pairs must route to the distributed path, not to a
    // collect() that would OOM long before the array limit. The clamp
    // applies BEFORE the probe, so the probe collect itself can never
    // exceed the heap-plausible budget either (an unclamped 500M-pair
    // caller bound previously OOMed in the probe on small heaps); and
    // since the clamp is < Int.MaxValue by construction, the limit()
    // probe covers every caller bound — no separate count-then-collect
    // shape for huge bounds.
    val collectCap = math.min(
      Runtime.getRuntime.maxMemory / 350,
      (Int.MaxValue - 8).toLong) // max JVM array length
    val bound = math.min(driverMaxPairs, collectCap)
    val probe = typedPairs(p).limit((bound + 1).toInt).collect()
    if (probe.length <= bound) driverUnionFind(p.sparkSession, probe)
    else distributedClusters(Caches.persistTracked(p), maxIters)
  }

  /** Typed (doc_a, doc_b) view: a primitive-tuple collect holds two
    * boxed Longs per pair instead of a full Row (~half the transient
    * driver bytes at the probe bound). */
  private def typedPairs(p: DataFrame): org.apache.spark.sql.Dataset[(Long, Long)] = {
    val spark = p.sparkSession
    import spark.implicits._
    p.select(col("doc_a").cast("long"), col("doc_b").cast("long")).as[(Long, Long)]
  }

  /** Driver-side union-find with min-label roots and path compression —
    * exact connected components for pair sets within the driver bound. */
  private def driverUnionFind(spark: SparkSession,
                              pairRows: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    pairRows.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // union by MIN root: the component's root is its minimum doc id,
      // the same canonical cluster_id contract as the distributed path
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.sorted.map(d => (d, find(d)))
      .toDF("doc_id", "cluster_id")
  }

  private def distributedClusters(pairs: DataFrame, maxIters: Int): DataFrame = {
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("cluster_id").as("dst_label")), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min("dst_label").as("neighbor_min"))
      val next = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("neighbor_min"), col("cluster_id")))
            .as("cluster_id"),
          (col("neighbor_min") < col("cluster_id")).as("changed"))
        .localCheckpoint()
      converged = next.filter(col("changed")).limit(1).isEmpty
      labels = next
      i += 1
    }
    // a partially-propagated labeling is silently WRONG dedup — refuse
    // to return it; the caller raises maxIters (diameter exceeded it)
    if (!converged) throw new IllegalStateException(
      s"nearDupClusters did not converge in $maxIters rounds — component " +
        s"diameter exceeds the cap; raise maxIters")
    labels.select("doc_id", "cluster_id").orderBy("doc_id")
  }

  /** Benchmark decontamination — flag training documents whose n-gram
    * overlap with an evaluation/benchmark set reaches `minShared`
    * distinct shingles (the standard pre-training hygiene step: a
    * benchmark item leaked into the corpus inflates eval scores).
    *
    * Scale shape: benchmark sets are TINY relative to the corpus
    * (thousands of items vs billions of documents), so the benchmark's
    * distinct shingle-hash set is broadcast and the corpus streams
    * through a broadcast semi-join inside its own scan stage — the
    * 100 TB side is never shuffled; the only aggregation is the
    * per-doc match count, partial-combined on the corpus partitions.
    * Output covers EVERY corpus document (unmatched → n_shared 0).
    *
    * The broadcast is GUARDED: an explicit `broadcast()` hint bypasses
    * `spark.sql.autoBroadcastJoinThreshold`, so a "benchmark" that
    * turns out corpus-sized would OOM every executor. The guard is
    * two-tier to stay free on the common path:
    *
    *  - tier 0 (zero jobs): Catalyst's own size statistics for the
    *    benchmark plan — the same signal Spark's auto-broadcast uses,
    *    and conservative without CBO (a Filter keeps its child's
    *    size). 8-byte shingle hashes number at most ~text_bytes/2
    *    (one per word position), so stats × 4 bounds the broadcast
    *    payload; within `maxBroadcastShingles` × 8 bytes (default
    *    16M hashes ≈ 128 MB, comfortable for common 4 GB executors)
    *    the hint is safe and construction stays fully lazy.
    *  - tier 1 (one small-side job): stats blew the quick bound —
    *    pay the exact distinct-shingle count; the counted frame
    *    persists and feeds the join, so its work is not wasted.
    *
    * Past the bound the match degrades to a shuffled join: both sides
    * hash-partition on the shingle — still candidate-restricted,
    * never all-pairs. */
  /** The decontamination family's shared broadcast-cap default
    * (16M 8-byte shingle hashes ≈ 128 MB). */
  val DefaultMaxBroadcastShingles: Long = 16L * 1024 * 1024

  /** Stats-tier test shared by [[decontaminate]]'s broadcast decision
    * and the curation pipeline's scan-local-predicate tier: does the
    * benchmark's plan-stats byte bound put its shingle set safely
    * under the broadcast cap? (8-byte hashes number at most
    * ~text_bytes/2, so stats × 4 bounds the payload.) One shared
    * predicate so the two call sites can never drift apart (r18
    * review fix). */
  def fitsShingleBroadcast(benchmark: DataFrame,
                           maxBroadcastShingles: Long =
                             DefaultMaxBroadcastShingles): Boolean =
    benchmark.queryExecution.optimizedPlan.stats.sizeInBytes * 4 <=
      BigInt(maxBroadcastShingles) * 8

  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    n: Int = 3, minShared: Int = 3,
                    maxBroadcastShingles: Long = DefaultMaxBroadcastShingles): DataFrame = {
    // only the shingle set matters on the benchmark side — accept any
    // frame with a `text` column (an eval set rarely shares the
    // corpus's id scheme)
    val bench = spreadToCores(benchmark.select(col("text")))
      .select(explode(
        GraftFunctions.shingleHash64(TextAnalysis.tokens(col("text")), n)).as("s"))
      .distinct()
    val benchSide =
      if (fitsShingleBroadcast(benchmark, maxBroadcastShingles)) broadcast(bench)
      else {
        val cached = Caches.persistTracked(bench)
        if (cached.count() <= maxBroadcastShingles) broadcast(cached) else cached
      }
    val hits = shingleHashes(corpus, n)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .join(benchSide, "s")
      // count(1), NOT countDistinct(s) (r21): the exploded stream is
      // distinct-per-doc by construction — shingleHash64 emits each
      // doc's DISTINCT shingle set, and the benchmark side is itself
      // distinct (one row per s), so the join cannot duplicate a
      // (doc, s) pair. countDistinct planned Catalyst's distinct
      // rewrite: an extra (doc_id, s)-keyed aggregate level + exchange
      // re-deduplicating already-unique rows.
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    corpus.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= minShared).cast("long").as("contaminated"))
      .orderBy("doc_id")
  }

  /** The benchmark's distinct shingle-hash set, collected to the
    * driver for predicate folding — the STREAMING decontamination
    * form, where [[decontaminate]]'s join/agg shape is unavailable (a
    * stateless gate cannot shuffle). Eval sets are MBs against a
    * corpus of TBs by contract; `maxShingles` (default 16M ≈ 128 MB
    * as a long[]) enforces that contract instead of letting a corpus
    * mistakenly passed as `benchmark` OOM the driver. */
  def benchmarkShingles(benchmark: DataFrame, n: Int = 3,
                        maxShingles: Long = DefaultMaxBroadcastShingles): Array[Long] = {
    val rows = spreadToCores(benchmark.select(col("text")))
      .select(explode(
        GraftFunctions.shingleHash64(TextAnalysis.tokens(col("text")), n)).as("s"))
      .distinct()
      .limit(math.min(maxShingles + 1, Int.MaxValue.toLong).toInt)
      .collect()
    require(rows.length <= maxShingles,
      s"benchmark shingle set exceeds maxShingles=$maxShingles — " +
        "is the corpus being passed as the benchmark?")
    rows.map(_.getLong(0))
  }

  /** Scan-local keep predicate: true iff the row's text shares fewer
    * than `minShared` distinct n-gram shingles with the benchmark set
    * ([[benchmarkShingles]]). Semantics match [[decontaminate]]'s
    * `contaminated == 0` exactly (distinct shingles vs the benchmark
    * as a whole); the set rides into codegen as one per-executor
    * reference object, so the predicate is a pure projection — no
    * join, no shuffle, stream-safe ([[graft.streaming.CorpusIngest
    * .curationGate]] composes it in front of the membership store). */
  def decontaminateKeepExpr(shingles: Array[Long], n: Int = 3,
                            minShared: Int = 3): Column =
    GraftFunctions.countInLongSet(
      GraftFunctions.shingleHash64(TextAnalysis.tokens(col("text")), n),
      shingles) < minShared

  /** Cross-source overlap matrix (the datasheet's inter-source
    * leakage audit): for every source pair, how many DISTINCT n-gram
    * shingles they share, plus each side's distinct-shingle total and
    * the containment shared/min(n_a, n_b) — a mirrored corpus, a
    * scraped re-post, or a shared boilerplate family shows up as a
    * hot cell long before per-doc dedup finds the pairs.
    *
    * Shape: ONE corpus-sized shuffle — the per-shingle source BITMASK
    * aggregate `bit_or(1L << src)` (the distinct over (source,
    * shingle) is folded into the OR; the buffer is a single long).
    * The mask rollup `groupBy(m).count` then collapses the frame to
    * one row per OBSERVED source COMBINATION — at most
    * min(2^nSources, #distinct shingles) rows, in practice a handful —
    * so the cached frame, the per-source totals, and the sorted-id
    * pair explode (≤ nSources²/2 pairs per row, `cnt`-weighted) all
    * run over a combination-sized table instead of the corpus's
    * distinct-shingle count. The former collect_set form (kept as the
    * >63-source fallback) cached the full per-shingle frame and
    * exploded pairs once per shingle; the self-equi-join shape before
    * it cost two MORE corpus-sized exchanges. Text never shuffles;
    * shingles travel as int64 hashes (the oracle joins the n-gram
    * strings — identical counts modulo a 2^-64 collision), and the
    * source label is dictionary-encoded BEFORE the explode so the one
    * corpus-sized exchange moves (int64, int64) rows, not a repeated
    * STRING per shingle. Ids are assigned in lexicographic source
    * order, so pair generation and output ordering are identical to
    * the string form; the final ≤ nSources²/2-row projection decodes.
    *
    * NOTE eager construction (laziness break): the source dictionary
    * is collected when the DataFrame is BUILT, and for
    * k ≤ `driverFoldMaxK` the ≤2^k-row mask rollup is too — the
    * totals/pair aggregation then finishes in a driver loop and the
    * result ships as a LocalRelation (bounded driver state, see the
    * fold comment in the body; past the bound, the distributed arm
    * collects only the k-row totals, and its final job is a pure
    * cache read with zero broadcast builds). A docs table that
    * changes between construction and execution would miss it;
    * rebuild to re-snapshot. */
  def sourceOverlap(docs: DataFrame, n: Int = 3,
                    driverFoldMaxK: Int = 20): DataFrame = {
    val spark = docs.sparkSession
    // ONE-exchange dictionary pull: collect_set aggregates the source
    // column in a single partial+final pass (the hash-distinct form
    // materialized an extra AQE exchange job for the same ≤k strings).
    // Sources are non-null by the corpus contract — a null source
    // crashed the former form too (String.compareTo in .sorted).
    val sources = docs.agg(sort_array(collect_set(col("source"))))
      .collect()(0).getSeq[String](0).toArray
    val k = sources.length
    val encodeMap = map(sources.zipWithIndex.flatMap { case (s, i) =>
      Seq(lit(s), lit(i)) }.toSeq: _*)
    val decodeMap = map(sources.zipWithIndex.flatMap { case (s, i) =>
      Seq(lit(i), lit(s)) }.toSeq: _*)
    val shingled = spreadToCores(docs)
      .select(element_at(encodeMap, col("source")).as("src"),
        explode(GraftFunctions.shingleHash64(
          TextAnalysis.tokens(col("text")), n)).as("sh"))
    // (per-shingle sorted source-id set, multiplicity) — via a source
    // BITMASK when the label cardinality fits a long (the normal
    // case): the per-shingle aggregate is bit_or over 1L<<src (a
    // single-long buffer vs a set, still map-side combined), and the
    // mask rollup then collapses the frame to one row per OBSERVED
    // source combination — so everything downstream runs over at most
    // min(2^k, #distinct shingles) rows instead of the corpus's
    // distinct-shingle count, weighted by `cnt`. Past 63 sources the
    // collect_set form takes over (same downstream, weight 1).
    val masksAgg =
      if (k <= 63)
        shingled
          .select(expr("shiftleft(CAST(1 AS BIGINT), src)").as("bit"), col("sh"))
          .groupBy("sh").agg(bit_or(col("bit")).as("m"))
          .groupBy("m").agg(count(lit(1)).as("cnt"))
      else null
    // DRIVER FOLD (r21): for k ≤ driverFoldMaxK the mask rollup is
    // PROVABLY ≤ 2^k ≤ 1M (m, cnt) rows ≈ 16 MB — the same bounded-
    // driver-state class as nearDupClusters' 1M-pair union-find — so
    // collect it and finish the totals + pair aggregation in a driver
    // loop: the whole operator is then TWO Spark jobs (dictionary,
    // mask rollup) and the former final job — a cache fill, a ~26k-row
    // interpreted pair-explode (HOF transform/flatten is
    // CodegenFallback), two more exchanges and ~4 AQE job round-trips
    // — disappears. Arithmetic is bit-identical by construction: the
    // counts are exact long sums in both layouts, the containment
    // division runs on the same doubles, and rnd6 below replicates
    // Spark's round(x + 1e-9, 6) exactly (scala BigDecimal.decimal →
    // java BigDecimal.valueOf, HALF_UP — DedupSpec pins the two arms
    // equal). Sorted-output contract: ids are lexicographic ranks, so
    // the (a, b) loop order IS the orderBy(src_a, src_b) order.
    if (k > 0 && k <= 63 && k <= driverFoldMaxK) {
      val maskRows = masksAgg.collect()
      val nSh = new Array[Long](k)
      val pairCnt = new Array[Long](k * k)
      maskRows.foreach { r =>
        val m = r.getLong(0); val c = r.getLong(1)
        var i = 0
        while (i < k) {
          if (((m >> i) & 1L) != 0L) {
            nSh(i) += c
            var j = i + 1
            while (j < k) {
              if (((m >> j) & 1L) != 0L) pairCnt(i * k + j) += c
              j += 1
            }
          }
          i += 1
        }
      }
      def rnd6(x: Double): Double = new java.math.BigDecimal(
        java.lang.Double.toString(x + 1e-9))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      var a = 0
      while (a < k) {
        var b = a + 1
        while (b < k) {
          val c = pairCnt(a * k + b)
          if (c > 0L) rows.add(org.apache.spark.sql.Row(
            sources(a), sources(b), c, nSh(a), nSh(b),
            rnd6(c.toDouble / math.min(nSh(a), nSh(b)).toDouble)))
          b += 1
        }
        a += 1
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("src_a",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("src_b",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_shared",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_a",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_b",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("containment",
          org.apache.spark.sql.types.DoubleType)))
      return spark.createDataFrame(rows, schema)
    }
    val srcsFrame =
      if (k <= 63) {
        val masks = Caches.persistTracked(masksAgg)
        val bits = array_compact(array((0 until k).map(i =>
          when(col("m").bitwiseAND(lit(1L << i)) =!= lit(0L), lit(i))): _*))
        masks.select(bits.as("srcs"), col("cnt"))
      } else {
        val bySh = Caches.persistTracked(
          shingled.groupBy("sh")
            .agg(sort_array(collect_set(col("src"))).as("srcs")))
        bySh.select(col("srcs"), lit(1L).as("cnt"))
      }
    // per-source distinct-shingle totals, rolled up from the
    // combination-sized cached masks frame (a handful of rows) and
    // collected below into a literal map — see the r20 note at the
    // collect site
    val totals = srcsFrame.select(explode(col("srcs")).as("src"), col("cnt"))
      .groupBy("src").agg(sum(col("cnt")).as("n_sh"))
    // all ordered pairs of the (sorted) per-shingle source-id set,
    // formed scan-local: pair (a, b) counts once per shared shingle
    // (`cnt`-weighted under the mask rollup)
    val pairCol = flatten(transform(col("srcs"), (x, i) =>
      transform(slice(col("srcs"), i + 2, size(col("srcs"))), y =>
        struct(x.as("a"), y.as("b")))))
    // Totals fold into the plan as a LITERAL src→n_sh map (r20): the
    // former two per-side broadcast joins each built their OWN
    // broadcast exchange (different projections defeat exchange
    // reuse), and each build job's lineage re-planned the masks cache
    // fill, so the pair agg waited on two extra concurrent 67-task
    // jobs. The totals table is source-cardinality-sized (≤ k rows,
    // same bound as the dictionary snapshot above) and its eager
    // collect here doubles as the masks cache fill, so the final job
    // reads the combination-sized cache with zero broadcast builds.
    // Degenerate empty corpus: no masks rows → no pair rows → the
    // lookup expression is never evaluated, matching the former
    // inner-join's empty output.
    val totalRows = totals.collect()
    val totalsLit =
      if (totalRows.isEmpty) map().cast("map<int,bigint>")
      else map(totalRows.flatMap(r =>
        Seq(lit(r.getInt(0)), lit(r.getLong(1)))).toSeq: _*)
    srcsFrame
      .select(explode(pairCol).as("p"), col("cnt"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("cnt")).as("n_shared"))
      .select(col("a"), col("b"), col("n_shared"),
        element_at(totalsLit, col("a")).as("n_a"),
        element_at(totalsLit, col("b")).as("n_b"))
      .select(element_at(decodeMap, col("a")).as("src_a"),
        element_at(decodeMap, col("b")).as("src_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        rnd(col("n_shared").cast("double") / least(col("n_a"), col("n_b")), 6)
          .as("containment"))
      .orderBy("src_a", "src_b")
  }

  /** Per-benchmark-ITEM fuzzy decontamination by shingle containment:
    * for every corpus doc, the best-matching benchmark item and the
    * containment |S_item ∩ S_doc| / |S_item| of that item's shingle
    * set in the doc. [[decontaminate]] counts shingles shared with the
    * benchmark as a WHOLE — a doc that swallowed one eval item
    * verbatim but matches only `minShared` global shingles scores the
    * same as scattered noise. Containment per item is the
    * paraphrase-robust form (a doc containing ≥ `tau` of one item's
    * n-grams is flagged no matter how large the benchmark is).
    *
    * Deterministic: best item = max containment, ties to the lowest
    * bench id; containment compares RAW (quotients of exact longs are
    * bit-identical cross-engine), rounds 4dp only for output.
    *
    * Shape: benchmark shingle sets (eval-set-bounded — MBs against a
    * corpus of TBs) broadcast to a candidate equi-join on the shingle
    * hash; only (doc, item) pairs sharing ≥ 1 shingle ever exist. One
    * partial-agg shuffle on (doc_id, bench_id), then the per-doc best
    * item as a struct-max AGGREGATE reusing that shuffle's
    * partitioning (struct comparison is field-lexicographic, so
    * max(cont, −bench_id) is "highest containment, ties to lowest
    * id" — same answer as a rank window without its per-doc sort
    * stage), and the final left join back to corpus ids. The corpus
    * never self-joins and text never shuffles — shingles travel as
    * int64. */
  def decontaminateFuzzy(corpus: DataFrame, benchmark: DataFrame,
                         n: Int = 3, tau: Double = 0.8): DataFrame = {
    val benchSh = shingleHashes(benchmark, n)
      .select(col("doc_id").as("bench_id"), col("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("bench_id"), size(col("sh")).as("nb"), explode(col("sh")).as("s"))
    val hits = shingleHashes(corpus, n)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .join(broadcast(benchSh), "s")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("inter"), first(col("nb")).as("nb"))
      .select(col("doc_id"), col("bench_id"),
        (col("inter").cast("double") / col("nb")).as("cont"))
    val best = hits
      .groupBy(col("doc_id"))
      .agg(max(struct(col("cont"), (-col("bench_id")).as("neg_id"))).as("b"))
      .select(col("doc_id"), (-col("b.neg_id")).as("bench_id"),
        col("b.cont").as("cont"))
    corpus.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("bench_id"), lit(-1L)).as("best_bench"),
        rnd(coalesce(col("cont"), lit(0.0)), 4).as("containment"),
        coalesce(col("cont") >= tau, lit(false)).cast("long").as("contaminated"))
      .orderBy("doc_id")
  }

  /** Exact n-gram Jaccard pairs via shingle bucket-join: only pairs
    * sharing at least one shingle are ever formed (the hashed shingle
    * IS the bucket key), then |A∩B| comes from the join group count
    * and |A∪B| from the per-doc set sizes. Mirrors the string-based
    * DuckDB oracle exactly (counts are hash-collision-free here).
    *
    * @note 100TB: use [[minhashPairs]] — the shared-shingle pair
    *       expansion is superlinear BY SEMANTICS (measured 40.8×
    *       shuffle growth for a 10× data step, BASELINE.md); minhash
    *       restricts candidates to band buckets at linear slope.
    *       [[ngramJaccardPairsPrefix]] halves this form's candidate
    *       space with identical output when exactness is required. */
  def ngramJaccardPairs(docs: DataFrame, tau: Double = 0.5): DataFrame = {
    val sh = Caches.persistTracked(shingleHashes(docs).filter(size(col("sh")) > 0))
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n_sh"))
    val exploded = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val shared = exploded.as("a")
      .join(exploded.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    shared
      .join(broadcast(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na"))), "doc_a")
      .join(broadcast(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb"))), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        rnd(col("inter") / (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= tau)
      .orderBy("doc_a", "doc_b")
  }

  /** Prefix-filtered form of [[ngramJaccardPairs]] — same EXACT output
    * (verification computes the true intersection), polynomially fewer
    * candidates. The prefix bound (Chaudhuri et al. SSJoin / Bayardo
    * et al. all-pairs): under ANY global element order, two sets with
    * J ≥ τ share an element within each set's first
    * `n − ceil(τ·n) + 1` elements — because J ≥ τ forces
    * |A∩B| ≥ ceil(τ·|A|), and if no intersection element sat in A's
    * prefix the whole intersection would fit in the ceil(τ|A|)−1
    * trailing positions. Hash order is the free choice here (shingles
    * are already 64-bit hashes; `sort_array` makes the order global),
    * so only the ~(1−τ) smallest-hash fraction of each doc's shingles
    * generates candidate pairs, and the candidate join's output volume
    * drops by ~(1−τ)² with zero false negatives. Verification then
    * joins the candidate ids back to the per-doc shingle arrays and
    * computes the exact intersection per pair (the codegen'd
    * merge-walk [[GraftFunctions.sortedIntersectCount]] over the
    * sorted arrays — zero allocation) — no exploded group-count, so a
    * candidate pair costs one array walk instead of |A∩B| joined
    * rows.
    *
    * vs the exact operator at scale: the exact form's shuffle volume
    * is the full shared-shingle pair expansion (measured 40.8× for a
    * 10× data step at sf0.1 — superlinear BY DESIGN, documented in
    * BASELINE.md); this form shuffles the prefix expansion plus one
    * array-carrying verify join, trading peak pair volume for a
    * second pass over the shingle arrays. Measured at the bench SFs
    * (BASELINE.md records which form is the default where). */
  def ngramJaccardPairsPrefix(docs: DataFrame, tau: Double = 0.5): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1]: $tau")
    val sh = Caches.persistTracked(
      shingleHashes(docs).filter(size(col("sh")) > 0)
        .select(col("doc_id"), sort_array(col("sh")).as("sh")))
    // the 1e-9 nudge keeps FP round-UP from shortening the prefix when
    // τ·n is mathematically an integer (e.g. τ=0.07, n=100: the double
    // product is 7.000000000000001, ceil=8, one element too few) —
    // under-long prefixes break the zero-false-negative guarantee for
    // pairs with J exactly at τ
    val pLen = (size(col("sh")) -
      ceil(lit(tau) * size(col("sh")) - lit(1e-9)) + 1).cast("int")
    val prefix = sh
      .select(col("doc_id"), size(col("sh")).as("n"),
        posexplode(slice(col("sh"), lit(1), pLen)))
      .select(col("doc_id"), col("n"), col("pos"), col("col").as("s"))
    // two more exactness-preserving prunes on top of the prefix bound
    // (PPJoin, Xiao et al.), BOTH inside the join condition so pruned
    // rows die before the candidate exchange:
    //  - LENGTH: J ≥ τ forces τ·max(na,nb) ≤ min(na,nb) — wildly
    //    different-sized pairs never leave the join.
    //  - POSITIONAL: a row matching element e at sorted positions
    //    (i, j) admits at most min(na−i, nb−j) shared elements ≥ e;
    //    J ≥ τ needs |A∩B| ≥ ⌈τ/(1+τ)·(na+nb)⌉. Per-row filtering is
    //    sound because a qualifying pair's SMALLEST shared element
    //    (which has no shared element before it, so its bound covers
    //    the whole intersection) always satisfies the test — later
    //    rows only ever have tighter bounds, so dropping them cannot
    //    lose the pair. Random low-overlap pairs match late in their
    //    prefixes and die here without ever touching an exchange or
    //    the shingle arrays.
    val req = ceil(lit(tau / (1 + tau)) * (col("a.n") + col("b.n")) - lit(1e-9))
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") >= ceil(lit(tau) * col("b.n") - lit(1e-9)) &&
          col("b.n") >= ceil(lit(tau) * col("a.n") - lit(1e-9)) &&
          least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) >= req)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      // the distinct's output is small in BYTES (16 B/pair), so AQE
      // coalesces it to ~one partition — which then serializes the
      // whole verify stage (two joins + a merge-walk per pair)
      // onto one core. An explicit width pin keeps verify at full
      // parallelism (user repartitions are exempt from AQE
      // coalescing); keyed on doc_a so a non-broadcast verify join
      // can reuse the layout. Cost: one candidate-id-sized exchange.
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_a"))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        // arrays are sort_array'd in the cached frame — the exact
        // intersection is the zero-allocation merge-walk kernel
        GraftFunctions.sortedIntersectCount(col("sa"), col("sb")).as("inter"),
        size(col("sa")).as("na"), size(col("sb")).as("nb"))
      .select(col("doc_a"), col("doc_b"),
        rnd(col("inter") / (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= tau)
      .orderBy("doc_a", "doc_b")
  }

  // ---- bloom-filter corpus membership (the sketch form of the ingest
  // hash store) --------------------------------------------------------

  /** Build the accumulated corpus's content-hash bloom filter and
    * return its serialized bytes — CONSTANT-size driver state by
    * construction (numBits/8 bytes whatever the corpus size; that the
    * whole filter FITS is the operator's point, the same bounded-
    * driver-state doctrine as the IVF centroids and the logit
    * weights). The aggregate is mergeable (per-partition filters
    * bit-OR together), so building it is one map-side-combined pass;
    * merge order cannot change the bits. Returns null on an empty
    * corpus.
    *
    * Sizing (r17, closing the fixed-8192 advice): by default the
    * filter is sized FROM the corpus — a cheap count-only pre-pass
    * (column-pruned to nothing at the parquet reader) sets
    * `expectedItems = max(2^13, n)` and `numBits` to the next power of
    * two of 32 bits/item with a 2^18 floor — the old fixed design
    * point's density (2^18/2^13 = 32, fp ≈ 4e-7) now HELD at any
    * corpus size instead of degrading sharply past it (a 2^18-bit
    * filter driven with 8192's ~22 hash functions saturates fast
    * beyond ~25k items; at the floor the sizes, and hence the filter
    * bytes, are bit-identical to pre-r17). "Any corpus size" includes
    * past Spark's own runtime-bloom-filter conf clamps (4M items /
    * 2^26 bits, which would have silently re-saturated the filter at
    * ~2M docs): the build runs on a session clone with those limits
    * raised to the computed sizes — see the body comment. Callers
    * that already know their cardinality (or cannot afford the extra
    * count job) pass both sizes explicitly; an overdriven explicit
    * filter degrades in the documented direction only — false
    * POSITIVES (over-blocking) rise, false negatives stay impossible.
    * The check query's five output columns are sizing-invariant
    * (exact set counts + booleans that hold for ANY adequate filter),
    * so auto-sizing cannot move its golden. */
  def bloomFilterOf(corpus: DataFrame,
                    expectedItems: Long = -1L,
                    numBits: Long = -1L): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    val items =
      if (expectedItems > 0) expectedItems
      else math.max(1L << 13, corpus.count())
    val bits =
      if (numBits > 0) numBits
      else {
        val want = items.min(1L << 40) * 32 // 32 bits/item, overflow-safe
        math.max(1L << 18, java.lang.Long.highestOneBit(want - 1) << 1)
      }
    // BloomFilterAggregate SILENTLY clamps both sizes via Math.min
    // against spark.sql.optimizer.runtime.bloomFilter.maxNumItems
    // (4M) / maxNumBits (2^26) — limits meant for the optimizer's
    // injected runtime filters, read from SQLConf.get into a CACHED
    // lazy val the first time checkInputDataTypes touches it, i.e.
    // during ANALYSIS (verified in the 4.1.2 bytecode). Past ~2M docs
    // the auto-sizing above would exceed them and the filter would
    // saturate again — the exact cliff the count pre-pass exists to
    // close. So the aggregate Dataset is BUILT (hence analyzed) on a
    // session CLONE with the limits raised to what this build needs:
    // the clamp then caches the raised values, and the caller's
    // session conf is never mutated (r18, the ADVICE fix).
    val agg = Bridge.column(new BloomFilterAggregate(
      Bridge.expression(xxhash64(TextAnalysis.normalize(col("text")))),
      Literal(items), Literal(bits)).toAggregateExpression())
    Bridge.withSessionConfs(
        corpus,
        Map(
          "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" ->
            math.max(items, 4000000L).toString,
          "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" ->
            math.max(bits, 67108864L).toString))
      .agg(agg.as("bf")).head().getAs[Array[Byte]]("bf")
  }

  /** Probe an arriving batch against a built filter — a PURE
    * scan-local projection: the filter bytes fold into the plan as a
    * literal (no join, no broadcast exchange, no shuffle), the
    * incremental-crawl membership gate at its cheapest. Zero false
    * negatives by construction — already-admitted content can never
    * re-admit; false positives drop a genuinely new document at the
    * filter's tunable rate, the over-blocking failure direction every
    * ingest gate in this codebase chooses (NearDupStore, the
    * writeSurvivors crash window). The exact two-tier hash store
    * ([[graft.streaming.CorpusIngest]]) remains the zero-error path;
    * this is the KB-sized summary a fleet of collectors can hold in
    * RAM when the store itself is remote. */
  def bloomMembership(arriving: DataFrame, filter: Array[Byte]): DataFrame =
    arriving.select(col("doc_id"),
      bloomProbeExpr(filter).as("maybe_seen"))

  /** The probe verdict as ONE column over `text` — might_contain with
    * the filter bytes folded in as a plan literal (false on the
    * null/empty-corpus filter). Shared by [[bloomMembership]] and the
    * check query so build and probe can never hash differently. */
  private def bloomProbeExpr(filter: Array[Byte]): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.Bridge
    if (filter == null) lit(false)
    else coalesce(
      Bridge.column(BloomFilterMightContain(Literal(filter),
        Bridge.expression(xxhash64(TextAnalysis.normalize(col("text")))))),
      lit(false))
  }

  /** The `_check` contract query for the bloom path
    * (q_bloom_membership_check): even doc_ids play the accumulated
    * corpus, ALL docs the arriving batch, and the output is ONE row of
    * exact set counts plus two Spark-evaluated booleans the hash CAN
    * gate (the distinct_sketch_check pattern): `no_false_negatives` —
    * every arriving doc whose content IS in the corpus must probe true
    * (the bloom guarantee, deterministic) — and `fp_in_bound` — false
    * positives among the genuinely-new capped at max(3, 1% of new)
    * (numBits/expectedItems give ~100 bits per inserted item at the
    * gate SFs; the expected fp count is ~0, the bound is ~3σ-roomy).
    * DuckDB independently recomputes the three set counts from the
    * documents table and asserts both booleans TRUE, so a bloom
    * false negative or an fp blowup flips the hash red. */
  def bloomMembershipCheck(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"), col("text"),
      (pmod(col("doc_id"), lit(2)) === 0).as("ins"))
    val filter = bloomFilterOf(hashed.filter(col("ins")))
    val evenSet = hashed.filter(col("ins"))
      .select(xxhash64(TextAnalysis.normalize(col("text"))).as("eh")).distinct()
    // ins / content hash / probe verdict are all pure functions of the
    // row — project them in ONE select (the curation handoff
    // discipline: no join whose only product is re-attaching a
    // derivable column); the evenSet membership join is the one
    // genuinely aggregation-derived handoff left
    val probed = hashed
      .select(col("ins"),
        bloomProbeExpr(filter).as("maybe_seen"),
        xxhash64(TextAnalysis.normalize(col("text"))).as("h"))
      .join(evenSet, col("h") === col("eh"), "left")
      .select(col("ins"), col("maybe_seen"), col("eh").isNotNull.as("seen"))
    probed
      .agg(
        sum(col("ins").cast("long")).as("n_inserted"),
        sum((!col("ins") && col("seen")).cast("long")).as("n_dup_content"),
        sum((!col("ins") && !col("seen")).cast("long")).as("n_new"),
        min((!col("seen") || col("maybe_seen")).cast("int")).as("_nfn"),
        sum((!col("seen") && col("maybe_seen")).cast("long")).as("_nfp"))
      .select(
        coalesce(col("n_inserted"), lit(0L)).as("n_inserted"),
        coalesce(col("n_dup_content"), lit(0L)).as("n_dup_content"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        (coalesce(col("_nfn"), lit(1)) === 1).as("no_false_negatives"),
        (coalesce(col("_nfp"), lit(0L)).cast("double")
          <= greatest(lit(3.0), coalesce(col("n_new"), lit(0L)) * 0.01))
          .as("fp_in_bound"))
  }
}
