package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{BoundedFold, Dedup, TextAnalysis}
import graft.sources.Bucketed

/** Configuration of the OPTIONAL streaming near-dup membership store
  * ([[CorpusIngest.sinkBucketed]]'s `nearDup`): a second two-tier
  * store (bucketed base + per-batch delta partitions, the same
  * compaction machinery as the content-hash store) holding the LSH
  * band keys ([[graft.operators.Dedup.bandKeys]]) of every admitted
  * document, so a streamed batch can reject near-duplicates of the
  * ACCUMULATED corpus — not just exact re-sends. The same band test
  * also runs WITHIN the batch against earlier-id documents (keep-min,
  * mirroring the exact path), so a burst of near-identical docs in
  * one trigger admits only its first.
  *
  * Rejection is PROBABILISTIC and conservative, by design: a batch
  * document matching the store in ≥ `minBands` distinct bands is
  * dropped without exact verification — the admitted documents' text
  * is never re-read on the ingest path (that's what makes the store
  * linear in keys, not corpus bytes: ~`bands`·24 B per admitted doc).
  * Where the batch near-dup operators verify candidates with exact
  * Jaccard, here over-blocking is the chosen failure direction, the
  * same philosophy as the hash store's crash window.
  *
  * Tuning (k=128, bands=16 ⇒ 8-row bands; P(band)=J⁸): at J≈0.97
  * (one-sentence edits) a doc matches ~11 bands — rejection is near
  * certain; at J=0.8 P(≥2 bands)≈0.78; at J=0.5 false rejection is
  * ≈0.2%. `minBands`=1 maximizes recall at the cost of rejecting on
  * any single band collision; 2 (default) suppresses those
  * singletons. Documents too short to shingle (< 3 tokens) emit no
  * keys and are never near-dup-rejected.
  *
  * PRODUCTION SIZING (r18 — the scaling rule, so the constructor
  * defaults are a design point, not a hidden contract; StreamingSpec
  * pins a non-default configuration): with r = k/bands rows per band,
  * P(reject at minBands=1) = 1 − (1 − J^r)^bands — the standard
  * MinHash band math, the same family the batch [[graft.operators
  * .Dedup.minhashPairs]] documents. Choose r from the Jaccard
  * threshold you must CATCH (recall target) vs the similarity you
  * must ADMIT (false-rejection ceiling); bands then sets store size
  * at `bands`·24 B per admitted doc:
  *
  *  | goal                               | config            | catch J=0.9 | false-reject J=0.3 |
  *  | aggressive (crawl boilerplate)     | k=64, bands=16, r=4, minBands=1 | ~1−(1−.66)¹⁶ ≈ 1.0 | ≈12% |
  *  | balanced (the default)             | k=128, bands=16, r=8, minBands=2 | ≈0.998 | ≈5e-7 |
  *  | precise (admit paraphrases)        | k=128, bands=8, r=16, minBands=2 | ≈0.45 | ~0 |
  *
  *  - CORPUS SCALE raises singleton-collision pressure linearly (each
  *    stored band key is a 64-bit bucket; spurious matches are
  *    birthday-rare but grow with N·bands), which is what `minBands`=2
  *    suppresses — keep it ≥2 past ~10⁸ docs unless recall is the
  *    overriding goal.
  *  - COMPACTION CADENCE: [[CorpusIngest.compactBands]] folds delta
  *    partitions into the bucketed base; the per-trigger membership
  *    cost is (batch exchange + broadcast delta tail), so compact
  *    when the tail approaches the batch size — every
  *    O(base_growth_% ) batches, not on a clock. The store itself is
  *    linear in ADMITTED keys, never corpus bytes.
  *  - k (signature length) is the only knob that costs scan CPU;
  *    bands/minBands re-slice the same signature for free. */
final case class NearDupStore(table: String, deltaDir: String,
                              minBands: Int = 2, k: Int = 128, bands: Int = 16)

/** Continuous corpus construction — the streaming form of
  * [[graft.operators.TextAnalysis.dedupIncremental]]: documents arrive
  * as a stream, each micro-batch is deduplicated WITHIN itself
  * (keep-lowest-id per content) and AGAINST everything admitted by
  * earlier batches, and the survivors append to the corpus lake.
  *
  * Exactly-once contract (the [[EventsStream.resilientBatch]] layout):
  * batch N writes BOTH its admitted content hashes and its corpus rows
  * under `batch_id=N` partitions with mode-overwrite, so a redelivered
  * batch replaces its own prior attempt instead of double-admitting —
  * and the cross-batch membership check reads every admitted hash
  * EXCEPT its own batch's, so its prior attempt can never block its
  * retry.
  *
  * Two membership-store forms:
  *
  *  - [[sink]]/[[ingestBatch]]: plain batch_id-partitioned parquet,
  *    re-read whole every micro-batch. Correct and catalog-free, but
  *    at years of accumulated batches it is a full-store scan per
  *    trigger and a directory per batch — the testing/bootstrap form.
  *
  *  - [[sinkBucketed]]/[[ingestBatchBucketed]]: the 100 TB form. The
  *    store is two-tier: a bucketed+sorted BASE table of
  *    (content_hash, batch_id) ([[graft.sources.Bucketed]] — the
  *    catalog's bucket layout satisfies the anti-join's distribution,
  *    so the accumulated side never shuffles OR sorts, plan-locked in
  *    ScaleSpec) plus small per-batch DELTA partitions that
  *    [[compact]] periodically folds into the base. Each trigger
  *    anti-joins the batch against the base (one batch-side exchange)
  *    and then against the broadcast delta tail — membership cost per
  *    trigger is bounded by the batch and the tail, not by corpus
  *    age, and the store never exceeds `compactEvery` small files.
  *
  * Scale shape: the membership anti-joins touch content hashes only
  * (32 hex chars + batch id per admitted doc), never corpus text; the
  * within-batch rank windows on the batch side alone, reusing the
  * anti-join's hash partitioning. */
object CorpusIngest {

  /** Marker: set once [[compact]] has successfully built the base
    * table. Its presence makes a missing base table an ERROR (mid-
    * compaction crash — fail CLOSED and recover) rather than "never
    * compacted yet". Underscore prefix: parquet readers ignore it. */
  private def markerPath(deltaDir: String) = new Path(deltaDir, "_base_compacted")

  private def stagingName(hashTable: String) = hashTable + "_staging"

  /** Hash-store schema, shared by the writer and the restart
    * re-registration DDL. */
  private val HashStoreSchema = "content_hash STRING, batch_id BIGINT"

  /** Near-dup band-key store schema (see [[NearDupStore]]). */
  private val BandStoreSchema = "bb BIGINT, band INT, batch_id BIGINT"

  /** The base table is "live" if the catalog has it OR its warehouse
    * data survived a session restart (default in-memory catalog: every
    * entry dies with the JVM while the parquet + bucket files persist)
    * and could be re-registered over its existing location. */
  private def baseLive(spark: SparkSession, hashTable: String): Boolean =
    spark.catalog.tableExists(hashTable) ||
      Bucketed.reRegister(spark, hashTable, HashStoreSchema, "content_hash")

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** batch_id=N partition dirs currently present under `dir`. */
  private def batchPartitions(spark: SparkSession, dir: String): Seq[Path] = {
    val p = new Path(dir)
    val f = fs(spark, dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).map(_.getPath).filter(_.getName.startsWith("batch_id=")).toSeq
  }

  /** Within-batch keep-lowest-id per content + the hash projection —
    * shared by both store forms. */
  private def hashedBatch(batch: Dataset[Row]): DataFrame =
    batch.select(
      col("doc_id"), col("source"), col("text"),
      TextAnalysis.contentHash(col("text")).as("content_hash"))

  private def keepMinPerContent(df: DataFrame): DataFrame =
    // struct-minimum aggregate, not a row_number window (the r15
    // sweep): map-side partial combine dedups each task's batch slice
    // BEFORE the exchange — on the high-duplicate streams this ingest
    // exists for, the shuffle carries the deduped set. doc_id leads
    // the struct (unique within a batch), so the kept row matches the
    // window's orderBy("doc_id") exactly.
    df.groupBy("content_hash")
      .agg(min(struct(col("doc_id"), col("source"), col("text"))).as("_first"))
      .select(col("_first.doc_id").as("doc_id"),
        col("_first.source").as("source"),
        col("_first.text").as("text"), col("content_hash"))

  /** Write one batch's survivors: hash partition FIRST — the two
    * writes are not atomic, and the failure window between them must
    * err toward over-blocking, not double-admission. Hashes-without-
    * rows is safe: a retry of the SAME batch id excludes its own
    * partition (and overwrites both), and the engine redelivers an
    * uncommitted batch under the same id from the checkpoint. The
    * reverse order would let a permanently abandoned stream re-admit
    * the same content under a fresh batch id on a later restart. */
  private def writeSurvivors(survivors: DataFrame, batchId: Long,
                             corpusDir: String, hashDir: String): Unit = {
    survivors.select("content_hash")
      .write.mode("overwrite").parquet(s"$hashDir/batch_id=$batchId")
    survivors.drop("content_hash")
      .write.mode("overwrite").parquet(s"$corpusDir/batch_id=$batchId")
  }

  /** One micro-batch against the plain parquet store: admit new
    * content, idempotently. Exposed for direct redelivery testing. */
  def ingestBatch(batch: Dataset[Row], batchId: Long,
                  corpusDir: String, hashDir: String): Unit = {
    val spark = batch.sparkSession
    val hashed = hashedBatch(batch)
    // hashes admitted by OTHER batches (own prior attempt excluded —
    // a redelivery must be able to re-admit what it admitted before).
    // The first-batch case is an EXPLICIT existence check, not a
    // swallowed read exception: treating any AnalysisException as
    // "first batch" would fail OPEN — a deleted/misconfigured hash
    // store would silently disable cross-batch dedup forever. Here a
    // missing store admits everything ONCE (genuinely first batch);
    // any other read failure propagates, fails the batch, and the
    // stream retries it.
    val prior =
      if (batchPartitions(spark, hashDir).nonEmpty)
        spark.read.parquet(hashDir)
          .filter(col("batch_id") =!= batchId).select("content_hash")
      else hashed.select("content_hash").where(lit(false))
    val survivors = keepMinPerContent(
      hashed.join(prior, Seq("content_hash"), "left_anti")).persist()
    try writeSurvivors(survivors, batchId, corpusDir, hashDir)
    finally { survivors.unpersist(); () }
  }

  /** The streaming sink over the plain parquet store: `docs` must
    * carry (doc_id, source, text). */
  def sink(docs: DataFrame, corpusDir: String, hashDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      ingestBatch(batch, batchId, corpusDir, hashDir)
    }

  /** The scan-local curation gate for the STREAMING ingest path: the
    * same per-row stages batch curation runs before its shuffling
    * stages — markup strip → quality keep → optional blocklist keep —
    * expressed as pure projections/filters (the predicate forms
    * [[graft.operators.TextAnalysis.qualityKeepExpr]] /
    * [[graft.operators.TextAnalysis.blocklistKeepExpr]], not the
    * report operators, whose orderBy a streaming frame rejects).
    * Compose it in front of [[sink]]/[[sinkBucketed]] so junk never
    * reaches the membership store or the corpus:
    * `sink(curationGate(stream, blocklist), ...)`. Streaming-safe by
    * construction: stateless, no shuffle, no sort, no watermark.
    *
    * `benchmark` adds eval-set DECONTAMINATION to the gate: a doc
    * sharing ≥ `decontamMinShared` distinct 3-gram shingles with the
    * benchmark is rejected AT INGEST, so leaked eval items never
    * enter the membership store (batch-time decontamination cannot
    * un-admit the content hash an earlier batch recorded — admit-time
    * is the only point that keeps the store itself clean). The
    * benchmark's shingle set is collected ONCE at gate construction
    * (driver-bounded, [[graft.operators.Dedup.benchmarkShingles]])
    * and folded into the plan as a codegen reference object — the
    * predicate stays a scan-local projection, preserving the gate's
    * no-shuffle discipline; semantics match the batch
    * [[graft.operators.Dedup.decontaminate]] flag exactly. */
  def curationGate(docs: DataFrame, blocklist: Seq[String] = Nil,
                   benchmark: Option[DataFrame] = None,
                   decontamMinShared: Int = 3,
                   qualityModel: Option[graft.operators.QualityClassifier.LogitModel] = None)
      : DataFrame = {
    val cleaned = docs.withColumn("text",
      graft.operators.TextAnalysis.cleanMarkup(col("text")))
    val gated = cleaned.filter(graft.operators.TextAnalysis.qualityKeepExpr())
    val blocked =
      if (blocklist.isEmpty) gated
      else gated.filter(graft.operators.TextAnalysis.blocklistKeepExpr(blocklist))
    // optional MODEL quality gate (r16 — the batch pipeline's
    // qualityModel stage, streaming-safe by the same construction:
    // keepExpr is a pure scan-local projection whose trained weights
    // ride inside the logitDot kernel call; train the model on a BATCH
    // corpus offline, gate the stream with it)
    val modeled = qualityModel match {
      case Some(m) =>
        blocked.filter(graft.operators.QualityClassifier.keepExpr(m))
      case None => blocked
    }
    benchmark match {
      case Some(bench) =>
        // the markup-stripped text is what the batch operators shingle,
        // so strip the benchmark the same way before collecting its set
        val shingles = Dedup.benchmarkShingles(bench.withColumn("text",
          graft.operators.TextAnalysis.cleanMarkup(col("text"))))
        modeled.filter(Dedup.decontaminateKeepExpr(shingles,
          minShared = decontamMinShared))
      case None => modeled
    }
  }

  /** The membership-filtered, within-batch-deduped survivor frame of
    * one batch against the two-tier store — factored out so ScaleSpec
    * can plan-lock it: ONE hash exchange (the batch side; the bucketed
    * base satisfies its distribution from the catalog, the delta tail
    * joins broadcast, and the keep-min window reuses the anti-join's
    * partitioning). */
  private[graft] def survivorsBucketed(batch: Dataset[Row], batchId: Long,
                                       hashTable: String, deltaDir: String): DataFrame = {
    val spark = batch.sparkSession
    val hashed = hashedBatch(batch)
    val none = hashed.select("content_hash").where(lit(false))

    val baseExists = baseLive(spark, hashTable)
    if (!baseExists && fs(spark, deltaDir).exists(markerPath(deltaDir)))
      // fail CLOSED: the base was built at least once (marker) but
      // neither its catalog entry nor its warehouse data can be found —
      // admitting against a partial store would double-admit years of
      // corpus. compact() recovers from its staging table/directory;
      // sinkBucketed runs that recovery automatically.
      throw new IllegalStateException(
        s"corpus hash base table '$hashTable' is missing but its compaction " +
          s"marker exists under $deltaDir — mid-compaction crash; run " +
          "CorpusIngest.compact() to recover before ingesting")
    // own-batch exclusion works tier-by-tier: the base keeps each
    // hash's admitting batch_id, the delta keeps it as the partition
    val base =
      if (baseExists)
        spark.table(hashTable)
          .filter(col("batch_id") =!= batchId).select("content_hash")
      else none
    val delta =
      if (batchPartitions(spark, deltaDir).nonEmpty)
        spark.read.parquet(deltaDir)
          .filter(col("batch_id") =!= batchId).select("content_hash")
      else none

    keepMinPerContent(
      hashed
        .join(base, Seq("content_hash"), "left_anti")
        .join(broadcast(delta), Seq("content_hash"), "left_anti"))
  }

  /** Drop from `exact` (a batch's exact-membership survivors) every
    * document matching the accumulated near-dup store in ≥ minBands
    * distinct bands — see [[NearDupStore]] for the semantics. Same
    * two-tier read as the hash store: bucketed base (catalog layout ⇒
    * the store side never shuffles; plan-locked in ScaleSpec),
    * broadcast delta tail, own-batch partitions excluded so a
    * redelivery can re-admit its own rows. The per-doc matched-band
    * count and the reject set are bounded by the BATCH, so the reject
    * side broadcasts back into the anti-join. */
  private[graft] def nearDupFilter(exact: DataFrame, batchId: Long,
                                   nd: NearDupStore): DataFrame = {
    val spark = exact.sparkSession
    val keys = Dedup.bandKeys(exact, nd.k, nd.bands) // (doc_id, band, bb)
    val none = keys.select("bb").where(lit(false))

    val baseExists = spark.catalog.tableExists(nd.table) ||
      Bucketed.reRegister(spark, nd.table, BandStoreSchema, "bb")
    if (!baseExists && fs(spark, nd.deltaDir).exists(markerPath(nd.deltaDir)))
      throw new IllegalStateException(
        s"near-dup band base table '${nd.table}' is missing but its " +
          s"compaction marker exists under ${nd.deltaDir} — mid-compaction " +
          "crash; run CorpusIngest.compactBands() to recover before ingesting")
    val base =
      if (baseExists)
        spark.table(nd.table).filter(col("batch_id") =!= batchId).select("bb")
      else none
    val delta =
      if (batchPartitions(spark, nd.deltaDir).nonEmpty)
        spark.read.parquet(nd.deltaDir)
          .filter(col("batch_id") =!= batchId).select("bb")
      else none

    // within-batch: the same band test against EARLIER-id batch
    // documents (keep-min, mirroring the exact path's tie rule) — a
    // burst of near-identical docs landing in ONE trigger must not all
    // admit. Like the cross-batch test this is unverified band
    // collision, and it is transitive-over-blocking by design: doc C
    // matching only rejected doc B still drops (B's keys are in the
    // comparison even though B never reaches the store) — the
    // over-block failure direction again. Batch-side rows only.
    val selfHits = keys.as("a")
      .join(keys.as("b"),
        col("a.bb") === col("b.bb") && col("b.doc_id") < col("a.doc_id"))
      .select(col("a.doc_id").as("doc_id"), col("a.band").as("band"))

    // a key row matches when ANY tier (or an earlier in-batch doc)
    // holds its bb; rows are one per (doc, band) by construction, and
    // a band matching several tiers must count once — hence the
    // distinct before the per-doc count
    val matched = keys.join(base, Seq("bb"), "left_semi")
      .select("doc_id", "band")
      .unionByName(keys.join(broadcast(delta), Seq("bb"), "left_semi")
        .select("doc_id", "band"))
      .unionByName(selfHits)
      .distinct()
    val reject = matched.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") >= nd.minBands)
      .select("doc_id")
    exact.join(broadcast(reject), Seq("doc_id"), "left_anti")
  }

  /** One micro-batch against the two-tier bucketed store(s). */
  def ingestBatchBucketed(batch: Dataset[Row], batchId: Long, corpusDir: String,
                          hashTable: String, deltaDir: String,
                          nearDup: Option[NearDupStore] = None): Unit = {
    val exact = survivorsBucketed(batch, batchId, hashTable, deltaDir)
    val survivors = nearDup match {
      case None     => exact.persist()
      case Some(nd) =>
        // the exact survivors feed BOTH the band-key projection and
        // the final anti-join — persist so the membership window does
        // not run twice
        nearDupFilter(exact.persist(), batchId, nd).persist()
    }
    try {
      // band keys land with the content hashes, BEFORE corpus rows —
      // the same over-block-on-crash direction as writeSurvivors
      nearDup.foreach { nd =>
        Dedup.bandKeys(survivors, nd.k, nd.bands).select("bb", "band")
          .write.mode("overwrite").parquet(s"${nd.deltaDir}/batch_id=$batchId")
      }
      writeSurvivors(survivors, batchId, corpusDir, deltaDir)
    } finally {
      survivors.unpersist()
      nearDup.foreach(_ => exact.unpersist())
      ()
    }
  }

  /** Fold the delta partitions into the bucketed base table. Safe to
    * run at any point between batches, idempotent, and self-recovering:
    *
    *  1. recover: a staging table beside a missing base (crash between
    *     drop and rename) is renamed into place; a staging table
    *     beside a LIVE base (crash before drop) is discarded.
    *  2. merge: base rows belonging to batches present in the delta
    *     tail are superseded by the delta (the tail is the newer truth
    *     for its own batch — a redelivered batch may have admitted
    *     different content than the compacted prior attempt), union
    *     the tail, keep one row per content_hash (lowest batch_id).
    *  3. swap: write merged → staging (bucketed+sorted on
    *     content_hash), drop base, rename staging → base, set the
    *     marker, and only THEN delete exactly the delta partitions
    *     that were read — a crash at any step either leaves the old
    *     state fully readable or is repaired by step 1 on the next
    *     run, and hashes present in both base and tail over-block
    *     nothing (the anti-joins are set-semantics).
    *
    * The corpus rows themselves are append-only lake partitions and
    * are not compacted here — they are never re-read on the ingest
    * path. */
  /** Recovery half of the staging-table swap, shared by the hash and
    * corpus compactions. Handles two distinct loss modes:
    *  - same-session crash between drop and rename: the catalog still
    *    holds the MANAGED staging table; finish the swap with a
    *    catalog rename (which moves the managed directory).
    *  - session restart (default in-memory catalog): every catalog
    *    entry died with the JVM while the warehouse directories
    *    survived; operate on the DIRECTORIES — move a completed
    *    staging dir into the base slot if the base dir is gone, then
    *    re-register the base over its location. */
  private def recoverSwap(spark: SparkSession, table: String,
                          schemaDdl: String, keyCol: String): Unit = {
    val staging = stagingName(table)
    if (!spark.catalog.tableExists(table)) {
      if (spark.catalog.tableExists(staging)) {
        spark.sql(s"ALTER TABLE $staging RENAME TO $table")
      } else {
        val baseDir = Bucketed.warehousePath(spark, table)
        val stagingDir = Bucketed.warehousePath(spark, staging)
        val f = baseDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!f.exists(baseDir) && f.exists(stagingDir))
          f.rename(stagingDir, baseDir)
        Bucketed.reRegister(spark, table, schemaDdl, keyCol)
        ()
      }
    } else if (spark.catalog.tableExists(staging)) {
      Bucketed.dropTable(spark, staging)
    }
    // a stale staging DIRECTORY with no catalog entry (restart after a
    // crash before the old base was dropped) would fail the next
    // staging write with LOCATION_ALREADY_EXISTS — clear it now that
    // the base is settled
    if (spark.catalog.tableExists(table) && !spark.catalog.tableExists(staging))
      Bucketed.dropTable(spark, staging)
  }

  /** Commit half of the swap: write `merged` bucketed to the staging
    * table, drop the base, rename staging into place. A crash at any
    * step is repaired by [[recoverSwap]] on the next run. */
  private def swapInTable(spark: SparkSession, table: String,
                          merged: DataFrame, keyCol: String): Unit = {
    val staging = stagingName(table)
    Bucketed.writeBucketed(merged, staging, keyCol)
    Bucketed.dropTable(spark, table)
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
  }

  /** The shared two-tier fold: recover any interrupted swap, then
    * merge the delta partitions into the bucketed base — rows of
    * batches present in the tail are superseded by the tail (the
    * newer truth for their own batch), one row survives per
    * `groupKeys` (lowest batch_id), and only after the swap commits
    * are exactly the read partitions deleted. `dataCols` are the
    * store's key columns (everything but batch_id); `keyCol` is the
    * bucket key the base is clustered on. */
  private def compactKeyed(spark: SparkSession, table: String, deltaDir: String,
                           schemaDdl: String, keyCol: String,
                           dataCols: Seq[String]): Unit = {
    recoverSwap(spark, table, schemaDdl, keyCol)
    if (!spark.catalog.tableExists(table) &&
        fs(spark, deltaDir).exists(markerPath(deltaDir)))
      // outside the crash model (a crash always leaves base or a
      // complete staging, as catalog entry or warehouse directory):
      // the store was externally deleted. Rebuilding from the delta
      // tail alone would silently forget every compacted key —
      // refuse instead.
      throw new IllegalStateException(
        s"membership base '$table' and its staging table are both " +
          s"missing despite the compaction marker under $deltaDir — " +
          "membership state lost; restore the table or remove the marker " +
          "to explicitly accept a rebuild from the delta tail alone")

    val parts = batchPartitions(spark, deltaDir)
    if (parts.isEmpty) return
    // partition values are inferred as the narrowest integral type —
    // cast to the base's long before merging
    val deltas = spark.read.parquet(deltaDir)
      .select(dataCols.map(col) :+ col("batch_id").cast("long").as("batch_id"): _*)
    val base =
      if (spark.catalog.tableExists(table)) spark.table(table)
      else deltas.where(lit(false))
    val deltaIds = deltas.select("batch_id").distinct()
    val merged = base
      .join(deltaIds, Seq("batch_id"), "left_anti")
      .unionByName(deltas.select("batch_id", dataCols: _*))
      .groupBy(dataCols.map(col): _*).agg(min("batch_id").as("batch_id"))

    swapInTable(spark, table, merged, keyCol)
    val f = fs(spark, deltaDir)
    f.create(markerPath(deltaDir), true).close()
    parts.foreach(f.delete(_, true))
  }

  def compact(spark: SparkSession, hashTable: String, deltaDir: String): Unit =
    compactKeyed(spark, hashTable, deltaDir, HashStoreSchema,
      "content_hash", Seq("content_hash"))

  /** Fold the near-dup band-key delta partitions into their bucketed
    * base — [[compact]]'s machinery over the [[NearDupStore]] layout
    * (one surviving row per (bb, band), lowest admitting batch). */
  def compactBands(spark: SparkSession, nd: NearDupStore): Unit =
    compactKeyed(spark, nd.table, nd.deltaDir, BandStoreSchema,
      "bb", Seq("bb", "band"))

  /** Corpus-ROW schema of the consolidated lake table. */
  private val CorpusSchema = "doc_id BIGINT, source STRING, text STRING, batch_id BIGINT"

  /** Parse a `batch_id=N` partition directory's id. */
  private def partId(p: Path): Long = p.getName.stripPrefix("batch_id=").toLong

  /** Fold corpus-row batch partitions with id ≤ `upToBatch` into a
    * consolidated bucketed table (bucketed by doc_id, batch_id kept as
    * a provenance column) — the lake half of the small-files story:
    * the hash-store [[compact]] bounds the MEMBERSHIP file count, this
    * bounds the corpus itself, which otherwise grows one directory per
    * micro-batch forever.
    *
    * CONTRACT — `upToBatch` must be at or below the stream's COMMITTED
    * horizon: the engine never redelivers a committed batch, so
    * folding those partitions can no longer race an
    * overwrite-own-partition retry. Compacting an UNcommitted batch
    * would let its redelivery re-create the partition beside the
    * already-folded rows (a duplicate [[readCorpus]] cannot see past).
    * The ingest path never reads corpus rows, so this can run any time
    * the horizon allows.
    *
    * Idempotent and crash-safe with the same staging-swap machinery as
    * the hash store: only partitions ABOVE the table's current horizon
    * (max folded batch_id) merge in — leftover dirs at or below it
    * (the crash window between rename and dir deletion) are deleted
    * without re-merging, and [[readCorpus]] ignores them meanwhile. */
  def compactCorpus(spark: SparkSession, corpusDir: String,
                    corpusTable: String, upToBatch: Long): Unit = {
    recoverSwap(spark, corpusTable, CorpusSchema, "doc_id")
    val f = fs(spark, corpusDir)
    val tableLive = spark.catalog.tableExists(corpusTable)
    val horizon: Long =
      if (tableLive)
        spark.table(corpusTable).agg(max("batch_id")).head() match {
          case r if r.isNullAt(0) => Long.MinValue
          case r                  => r.getLong(0)
        }
      else Long.MinValue
    val parts = batchPartitions(spark, corpusDir).filter(partId(_) <= upToBatch)
    val (stale, fresh) = parts.partition(partId(_) <= horizon)
    if (fresh.nonEmpty) {
      // basePath keeps the batch_id partition column visible when
      // reading a SUBSET of the partition directories
      val incoming = spark.read.option("basePath", corpusDir)
        .parquet(fresh.map(_.toString): _*)
        .withColumn("batch_id", col("batch_id").cast("long"))
        .select("doc_id", "source", "text", "batch_id")
      val base =
        if (tableLive) spark.table(corpusTable)
          .select("doc_id", "source", "text", "batch_id")
        else incoming.where(lit(false))
      swapInTable(spark, corpusTable, base.unionByName(incoming), "doc_id")
    }
    (stale ++ fresh).foreach(f.delete(_, true))
  }

  /** The unified corpus view: the consolidated table (when it exists)
    * plus every batch partition ABOVE its horizon. Leftover partitions
    * at or below the horizon — the compaction crash window — are
    * excluded, so a reader never sees a folded batch twice.
    *
    * READ-ONLY by contract: a reader racing the sink's compaction must
    * never rename directories or drop staging tables out from under
    * the writer, so — unlike [[compact]]/[[compactCorpus]], which own
    * swap repair — this resolves the base through NON-mutating
    * fallbacks, in order:
    *
    *  1. the catalog's table (normal case),
    *  2. the base table's surviving data directory (session restart:
    *     catalog entry died with the JVM; read as plain parquet — the
    *     catalog's bucket metadata is a join optimization the union
    *     with the tail discards anyway),
    *  3. a completed staging table or directory (crash between the
    *     swap's drop and rename: the staging IS the merged truth, and
    *     the horizon computed from it excludes exactly the partitions
    *     it already folded),
    *  4. tail partitions only (never compacted).
    *
    * Repair of the swap state itself stays with the compaction path
    * ([[sinkBucketed]] runs it on its next trigger). */
  def readCorpus(spark: SparkSession, corpusDir: String,
                 corpusTable: String): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    def dirDf(table: String): Option[DataFrame] = {
      val d = Bucketed.warehousePath(spark, table)
      val f = d.getFileSystem(hconf)
      if (f.exists(d)) Some(spark.read.parquet(d.toString)) else None
    }
    def tableDf(table: String): Option[DataFrame] =
      if (spark.catalog.tableExists(table)) Some(spark.table(table))
      else dirDf(table)
    val base = tableDf(corpusTable).orElse(tableDf(stagingName(corpusTable)))
      .map(_.select("doc_id", "source", "text", "batch_id"))
    val horizon: Long = base.map {
      _.agg(max("batch_id")).head() match {
        case r if r.isNullAt(0) => Long.MinValue
        case r                  => r.getLong(0)
      }
    }.getOrElse(Long.MinValue)
    val tail = batchPartitions(spark, corpusDir).filter(partId(_) > horizon)
    val tailDf =
      if (tail.nonEmpty)
        Some(spark.read.option("basePath", corpusDir)
          .parquet(tail.map(_.toString): _*)
          .withColumn("batch_id", col("batch_id").cast("long"))
          .select("doc_id", "source", "text", "batch_id"))
      else None
    (base, tailDf) match {
      case (Some(b), Some(t)) => b.unionByName(t)
      case (Some(b), None)    => b
      case (None, Some(t))    => t
      case (None, None) =>
        throw new IllegalArgumentException(
          s"no corpus found: table '$corpusTable' absent (no catalog entry, " +
            s"no surviving base or staging directory) and no batch " +
            s"partitions under $corpusDir")
    }
  }

  /** The streaming sink over the two-tier store: every `compactEvery`
    * batches the delta tail folds into the bucketed base, so the
    * per-trigger membership cost and the store's file count stay
    * bounded regardless of stream age. A mid-compaction crash is
    * repaired by the recovery step on the next trigger's compaction
    * (and until then ingest fails CLOSED rather than double-admit).
    *
    * With `corpusTable` set, the CORPUS ROWS compact on the same
    * cadence: while batch N is processing, every batch ≤ N−1 is
    * committed by the engine's serial micro-batch contract, so the
    * sink itself knows a safe [[compactCorpus]] horizon — the lake's
    * file count then stays bounded too, and downstream readers use
    * [[readCorpus]] for the unified view.
    *
    * With `nearDup` set, batches are additionally filtered against the
    * accumulated near-dup band-key store (see [[NearDupStore]] for the
    * probabilistic semantics), which compacts on the same cadence. */
  def sinkBucketed(docs: DataFrame, corpusDir: String, hashTable: String,
                   deltaDir: String, compactEvery: Int = 16,
                   corpusTable: Option[String] = None,
                   nearDup: Option[NearDupStore] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    require(compactEvery > 0, s"compactEvery must be positive: $compactEvery")
    docs.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      val spark = batch.sparkSession
      // repair a mid-compaction crash BEFORE the fail-closed membership
      // check sees the missing base
      if (!spark.catalog.tableExists(hashTable) &&
          fs(spark, deltaDir).exists(markerPath(deltaDir)))
        compact(spark, hashTable, deltaDir)
      nearDup.foreach { nd =>
        if (!spark.catalog.tableExists(nd.table) &&
            fs(spark, nd.deltaDir).exists(markerPath(nd.deltaDir)))
          compactBands(spark, nd)
      }
      ingestBatchBucketed(batch, batchId, corpusDir, hashTable, deltaDir, nearDup)
      if ((batchId + 1) % compactEvery == 0) {
        compact(spark, hashTable, deltaDir)
        nearDup.foreach(compactBands(spark, _))
        // batchId itself is NOT yet committed (this foreachBatch is
        // still running) — its partition must stay overwritable for a
        // redelivery, so the horizon stops one short
        corpusTable.foreach(t =>
          compactCorpus(spark, corpusDir, t, upToBatch = batchId - 1))
      }
    }
  }

  // ---- batch-replay contract query (q_corpus_ingest_check) ---------

  private val replaySeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** The `_check` pattern applied to the STREAMING ingest path: split
    * `docs` into `nBatches` deterministic batches (batch i = doc_id
    * mod nBatches), replay them IN ORDER through
    * [[ingestBatchBucketed]] against a throwaway two-tier store, and
    * emit the admitted membership (doc_id, batch_id, content_hash)
    * sorted by doc_id — which an independent SQL engine can restate
    * without replaying anything: the admitted set IS incremental
    * keep-min dedup over the batch sequence (per content, the
    * EARLIEST batch wins; within it, the LOWEST doc_id — own-batch
    * exclusion plus [[keepMinPerContent]]'s tie rule, composed over
    * the replay order).
    *
    * The replay deliberately exercises the paths the hash-green
    * contract should cover:
    *  - batch 0 lands in delta partitions, then [[compact]] folds them
    *    into the bucketed BASE — later batches test base membership;
    *  - batches past 0 also test the broadcast delta TAIL (their own
    *    deltas accumulate uncompacted);
    *  - batch 0 is REDELIVERED right after the compaction (same id,
    *    its hashes now in the base): own-batch exclusion must let it
    *    re-admit exactly its prior rows by overwriting its own
    *    partitions — any double-admission or self-blocking flips the
    *    membership and fails the hash.
    *
    * Store hygiene (r17, closing the lazy-frame advice): a fresh
    * pid+sequence-keyed temp store per call, and the admitted
    * membership is EAGERLY MATERIALIZED to driver rows before this
    * call tears its own store down on the way out — the returned
    * frame is a localRelation with no dependence on store files, so
    * it survives any number of later replays in the same JVM and no
    * store outlives the call. Bounded driver state: the membership is
    * (long, long, long) per admitted doc over the gate-sized test
    * tables this contract query is defined on (≤ ~5k rows at sf0.1).
    * CONTRACT query, not a production operator: the corpus it replays
    * is bounded by the test tables. Near-dup band filtering stays OFF
    * — its membership is probabilistic by design ([[NearDupStore]])
    * and is pinned by StreamingSpec, not an exact oracle. */
  def replayCheck(docs: DataFrame, nBatches: Int = 4): DataFrame = {
    require(nBatches >= 2, s"a replay needs >= 2 batches: $nBatches")
    val spark = docs.sparkSession
    val id = s"${ProcessHandle.current.pid}_${replaySeq.incrementAndGet()}"
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_ingest_check_$id"
    val corpusDir = s"$base/corpus"
    val deltaDir = s"$base/delta"
    val table = s"graft_ingest_check_$id"

    try {
      val batches = (0 until nBatches).map(i =>
        docs.select(col("doc_id"), col("source"), col("text"))
          .filter(pmod(col("doc_id"), lit(nBatches)) === i))
      batches.zipWithIndex.foreach { case (b, i) =>
        ingestBatchBucketed(b, i.toLong, corpusDir, table, deltaDir)
        if (i == 0) {
          // fold batch 0 into the bucketed base, then REDELIVER it:
          // base-tier own-batch exclusion must re-admit its exact rows
          compact(spark, table, deltaDir)
          ingestBatchBucketed(b, 0L, corpusDir, table, deltaDir)
        }
      }
      val membership = spark.read.parquet(corpusDir)
        .select(col("doc_id"), col("batch_id").cast("long").as("batch_id"),
          TextAnalysis.contentHash(col("text")).as("content_hash"))
        .orderBy("doc_id")
      spark.createDataFrame(
        collectBounded(membership, "replayCheck"), membership.schema)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val p = new Path(base)
      val f = fs(spark, base)
      if (f.exists(p)) { f.delete(p, true); () }
    }
  }

  /** The `_check` pattern applied to the NEAR-DUP BAND STORE
    * (q_neardup_store_check) — the last probabilistic-by-design
    * surface without an exact gate. The band membership itself is
    * hash-defined (no exact verification on the ingest path — that is
    * the operator's point), so no independent engine can re-derive a
    * natural corpus's reject set; instead the corpus is CONSTRUCTED so
    * the reject set is exactly known while every store mechanism still
    * executes for real:
    *
    *  - every document's text is synthesized from doc_id arithmetic
    *    (60 md5-chunk tokens) — two distinct documents share a 3-token
    *    shingle with probability ~2⁻⁹⁶ per position, so natural band
    *    collisions are structurally absent and the expected membership
    *    is pure id arithmetic an independent engine restates;
    *  - injected near-duplicates (the same synthetic text plus ONE
    *    appended token — J = 58/59, per-band match p = J⁸ ≈ 0.87,
    *    P(< minBands of 16 bands) ≈ 6e-13, and DETERMINISTIC given the
    *    seeded signatures) exercise each reject tier: batch 1 carries
    *    copies of batch-0 store documents (rejected via the COMPACTED
    *    bucketed base) and same-batch copies of its own clean
    *    documents (rejected via the within-batch earlier-id selfHits
    *    path); batch 2 carries copies of batch-1 documents whose keys
    *    still sit UNCOMPACTED (rejected via the broadcast delta tail)
    *    plus fresh documents (admitted — the batch stays
    *    non-degenerate);
    *  - batch 1 is REDELIVERED after admission: own-batch exclusion in
    *    BOTH stores must re-admit exactly its prior rows — its own
    *    band keys in the delta must not block its retry.
    *
    * Output: the admitted (doc_id, batch_id) membership, eagerly
    * materialized with the store torn down on exit (the [[replayCheck]]
    * hygiene). DuckDB restates it from the documents table's doc_id
    * arithmetic alone — a false band rejection (a clean document
    * dropped), a missed injection (over-block contract broken), a
    * double admission, or a self-blocked redelivery each flip the
    * hash. */
  /** Cap on the rows a `_check` contract query may pull to the driver
    * (r18 ADVICE guard): [[replayCheck]] and [[nearDupStoreCheck]] are
    * CONTRACT queries over gate-sized test tables (≤ ~5k rows at
    * sf0.1), and both are public and accept any DataFrame — a caller
    * passing a production-scale corpus should fail fast with the
    * contract named, not OOM the driver. 2^20 rows of (long, long[,
    * 32-char hash]) is ≤ ~60 MB, roomy for any test table and far
    * under driver heap. */
  private val CheckCollectCap = 1 << 20

  /** Eagerly materialize a check query's membership under
    * [[CheckCollectCap]] ([[BoundedFold.within]]: the violation is
    * detected from cap+1 collected rows, never by materializing the
    * full oversized result first). */
  private def collectBounded(membership: DataFrame, what: String): java.util.List[Row] = {
    val rows = BoundedFold.within(membership, CheckCollectCap)
      .getOrElse(throw new IllegalArgumentException(
        s"$what: admitted membership exceeds the contract-query bound " +
          s"of $CheckCollectCap rows — this check is defined on " +
          "gate-sized test tables, not production corpora; pass a " +
          "bounded slice"))
    java.util.Arrays.asList(rows: _*)
  }

  def nearDupStoreCheck(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val id = s"${ProcessHandle.current.pid}_${replaySeq.incrementAndGet()}"
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_ndstore_check_$id"
    val corpusDir = s"$base/corpus"
    val hashDelta = s"$base/delta"
    val bandDelta = s"$base/band_delta"
    val hashTable = s"graft_ndcheck_hash_$id"
    val bandTable = s"graft_ndcheck_band_$id"
    val nd = NearDupStore(bandTable, bandDelta)

    def synthText(idCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      concat_ws(" ", transform(sequence(lit(1), lit(60)),
        j => substring(md5(concat(idCol.cast("string"), lit("_"),
          j.cast("string"))), 1, 8)))
    def withText(frame: DataFrame): DataFrame =
      frame.select(col("doc_id"), lit("chk").as("source"),
        when(col("base_id").isNull, synthText(col("doc_id")))
          .otherwise(concat(synthText(col("base_id")), lit(" xtradup")))
          .as("text"))

    try {
      val ids = docs.select(col("doc_id"))
      val store = withText(ids.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), lit(null).cast("long").as("base_id")))
      val batch1 = withText(
        ids.filter(pmod(col("doc_id"), lit(2)) === 1)
          .select(col("doc_id"), lit(null).cast("long").as("base_id"))
        .unionByName(ids.filter(pmod(col("doc_id"), lit(10)) === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            col("doc_id").as("base_id")))
        .unionByName(ids.filter(pmod(col("doc_id"), lit(10)) === 1)
          .select((col("doc_id") + 20000000L).as("doc_id"),
            col("doc_id").as("base_id"))))
      val batch2 = withText(
        ids.filter(pmod(col("doc_id"), lit(10)) === 3)
          .select((col("doc_id") + 30000000L).as("doc_id"),
            col("doc_id").as("base_id"))
        .unionByName(ids.filter(pmod(col("doc_id"), lit(10)) === 5)
          .select((col("doc_id") + 40000000L).as("doc_id"),
            lit(null).cast("long").as("base_id"))))

      ingestBatchBucketed(store, 0L, corpusDir, hashTable, hashDelta, Some(nd))
      // fold batch 0 into BOTH bucketed bases: batch 1's cross-batch
      // rejections must come from the base tier, batch 2's from the
      // still-uncompacted batch-1 delta tail
      compact(spark, hashTable, hashDelta)
      compactBands(spark, nd)
      ingestBatchBucketed(batch1, 1L, corpusDir, hashTable, hashDelta, Some(nd))
      // REDELIVER batch 1: own-batch exclusion in the band store must
      // let its clean rows re-admit (their own keys are now in the
      // delta under batch_id=1)
      ingestBatchBucketed(batch1, 1L, corpusDir, hashTable, hashDelta, Some(nd))
      ingestBatchBucketed(batch2, 2L, corpusDir, hashTable, hashDelta, Some(nd))

      val membership = spark.read.parquet(corpusDir)
        .select(col("doc_id"), col("batch_id").cast("long").as("batch_id"))
        .orderBy("doc_id")
      spark.createDataFrame(
        collectBounded(membership, "nearDupStoreCheck"), membership.schema)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $hashTable")
      spark.sql(s"DROP TABLE IF EXISTS $bandTable")
      val p = new Path(base)
      val f = fs(spark, base)
      if (f.exists(p)) { f.delete(p, true); () }
    }
  }
}
