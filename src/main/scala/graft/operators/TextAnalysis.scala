package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Text analysis + exact dedup over the documents corpus — the
  * LLM-training-data operator set (SURVEY.md §2H): normalization,
  * exact dedup, token counting, quality scoring, language-ID
  * heuristic, content fingerprinting.
  *
  * All operators are per-row Column expressions (whole-stage codegen);
  * dedup is one hash shuffle on the content hash. At 100 TB the
  * content-hash groupBy distributes uniformly by construction (hashes
  * are uniform) and carries only (hash, doc_id) pairs, not the text.
  */
object TextAnalysis {

  /** Canonical text form: lowercase, trimmed, whitespace collapsed —
    * the codegen'd single-byte-scan kernel, bit-exact with
    * `regexp_replace(lower(trim(text)), "\\s+", " ")` (the form the
    * DuckDB oracles state and KernelPropertySpec pins) but with no
    * regex engine in the scan. */
  def normalize(text: Column): Column = GraftFunctions.normalizeWs(text)

  /** Whitespace tokens of [[normalize]] — single-scan kernel,
    * bit-exact with `split(normalize(text), " ")` including Spark
    * split's kept leading/trailing empty tokens. This expression sits
    * in the scan of every text operator; the regex chain it replaces
    * was the shared per-row hot spot. */
  def tokens(text: Column): Column = GraftFunctions.wsTokens(text)

  /** THE content identity of a document — every exact-dedup surface
    * (batch, incremental, streaming ingest, keep-best) must share this
    * one expression: hash stores written by one operator are
    * anti-joined by another, so a drifting copy would silently split
    * the hash space and break cross-operator dedup. */
  def contentHash(text: Column): Column = md5(normalize(text).cast("binary"))

  /** Exact dedup (normalized-content hash, keep lowest doc_id):
    * one row per distinct content with its representative and
    * multiplicity. */
  def dedupExact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), contentHash(col("text")).as("content_hash"))
      .groupBy("content_hash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  /** Token-length histogram over explicit INTEGER bucket boundaries
    * (the datasheet view sequence-length planning reads: how much of
    * the corpus fits a 1k context, how much needs chunking, what
    * packing efficiency to expect). bucket = number of boundaries ≤
    * n_tokens, so bucket 0 is (0, b₀) and bucket `boundaries.size` is
    * [b_last, ∞); per bucket: doc count, token sum, token share.
    * Integer compares only — no log2/width_bucket FP edge at the
    * power-of-two boundaries (Spark's log2(8) != 3 exactly).
    *
    * Shape: ONE map-side-combined aggregate over a scan-local
    * projection; output is boundaries.size + 1 rows. The share
    * denominator is the sum of the per-bucket LONG sums — exact, so
    * it equals the direct corpus total bit-for-bit — computed by an
    * unpartitioned window over the bucket rows (≤ boundaries+1 of
    * them; r17 — the old form re-scanned and re-TOKENIZED the whole
    * corpus in a second aggregate just to divide by its total). */
  def lengthHistogram(docs: DataFrame,
                      boundaries: Seq[Long] = Seq(16L, 64L, 256L, 1024L)): DataFrame = {
    val n = size(tokens(col("text"))).cast("long")
    val bucket = boundaries.foldLeft(lit(0L))((acc, b) =>
      acc + when(n >= b, 1L).otherwise(0L))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    docs.select(bucket.as("bucket"), n.as("n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        rnd(col("n_tokens").cast("double") / sum("n_tokens").over(w), 6)
          .as("token_share"))
      .orderBy("bucket")
  }

  /** Corpus snapshot diff (the dataset-versioning audit a corpus
    * release publishes): classify every doc_id across two corpus
    * versions as `added` (new only), `removed` (old only), `changed`
    * (both, content hash differs) or `unchanged`. Content equality is
    * [[contentHash]] over normalized text, so formatting-only edits
    * (case, whitespace) do NOT count as changes — same normalization
    * contract as exact dedup.
    *
    * Shape: each side ships (doc_id, md5) — text never shuffles —
    * into one full-outer hash join on doc_id.
    * @note 100TB: write both snapshots doc_id-bucketed
    * ([[graft.sources.Bucketed]]) and the join is exchange-free. */
  def corpusDiff(oldCorpus: DataFrame, newCorpus: DataFrame): DataFrame =
    oldCorpus.select(col("doc_id"), contentHash(col("text")).as("h_old"))
      .join(newCorpus.select(col("doc_id"), contentHash(col("text")).as("h_new")),
        Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h_old").isNull, lit("added"))
          .when(col("h_new").isNull, lit("removed"))
          .when(col("h_old") =!= col("h_new"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .orderBy("doc_id")

  /** Vocabulary-distribution drift between two corpus snapshots — the
    * version-QA axis [[corpusDiff]]'s document-identity view misses:
    * two releases can keep every doc_id and still shift WHAT the
    * corpus says (a source re-crawl swaps topics; a filter change
    * silently deletes a register of language). Reports the top
    * `topN` tokens by absolute unigram-probability change, each with
    * its add-one-smoothed probabilities over the UNION vocabulary
    * (so entering/leaving tokens get finite, comparable p's) and its
    * signed KL(new‖old) contribution p_new·ln(p_new/p_old) — the
    * summable per-token decomposition of the corpus's total drift.
    *
    * FP discipline: p's and the KL term round to 6dp ([[rnd]]); the
    * rank orders by the ROUNDED |Δp| (desc, token asc) so engines'
    * ln/division last-ulp drift cannot reorder ties.
    *
    * Scale shape: one map-side-combined wordcount per snapshot
    * (the corpus-sized shuffles), a vocabulary-sized full-outer
    * merge, two 1-row totals broadcast, and a `topN`-row
    * TakeOrdered — no window, no global sort of the vocabulary. */
  def vocabDrift(oldCorpus: DataFrame, newCorpus: DataFrame,
                 topN: Int = 50): DataFrame = {
    def counts(c: DataFrame, name: String) = c
      .select(explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as(name))
    val merged = counts(oldCorpus, "n_old")
      .join(counts(newCorpus, "n_new"), Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val totals = merged.agg(
      sum("n_old").as("t_old"), sum("n_new").as("t_new"),
      count(lit(1)).as("v"))
    val pOld = (col("n_old") + 1) / (col("t_old") + col("v")).cast("double")
    val pNew = (col("n_new") + 1) / (col("t_new") + col("v")).cast("double")
    merged.crossJoin(broadcast(totals))
      .select(col("token"), col("n_old"), col("n_new"),
        rnd(pOld * 1e3, 6).as("p_old_permil"),
        rnd(pNew * 1e3, 6).as("p_new_permil"),
        rnd(abs(pNew - pOld) * 1e3, 6).as("abs_dp_permil"),
        rnd(pNew * log(pNew / pOld) * 1e3, 6).as("kl_term_permil"))
      .orderBy(desc("abs_dp_permil"), asc("token"))
      .limit(topN)
  }

  /** Token counting: whitespace tokens and a BPE-ish lexer count
    * (letter runs | digit runs | single non-alnum symbol). */
  def tokenCount(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
      GraftFunctions.countTokenRuns(normalize(col("text"))).as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** The default BPE merge table: trained on the sf0.001 documents
    * corpus by tools/gen_bpe_merges.py (the public GPT-2 merges.txt
    * format — rank = line order), shipped as a classpath resource.
    * Swap in any merges.txt-format table (e.g. a published model's)
    * via [[tokenCountBpe]]'s parameter. */
  lazy val defaultBpeMerges: Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/bpe_merges.txt")
    require(in != null, "classpath resource /graft/bpe_merges.txt is missing")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l => val sp = l.split(" ", 2); (sp(0), sp(1)) }.toSeq
    finally in.close()
  }

  /** Distributed BPE tokenizer TRAINING (Sennrich et al. 2016, the
    * textbook procedure): the corpus-sized work is ONE map-side-
    * combined word-frequency aggregation; merge learning then runs on
    * the BOUNDED word-frequency vocabulary on the driver — standard
    * BPE training operates on the word-freq dict, never the corpus,
    * so driver state is Zipf-bounded (capped at `maxVocab` rows taken
    * in deterministic (freq desc, word) order — the same bounded-
    * driver-state pattern as the IVF quantizer sample). Each round
    * merges the globally most frequent adjacent symbol pair, ties to
    * the lexicographically smallest pair, stopping below pair-count 2
    * — semantics identical to tools/gen_bpe_merges.py, and BpeSpec
    * pins this trainer's output against the shipped
    * [[defaultBpeMerges]] resource that script produced.
    *
    * The merge loop is Sennrich's INCREMENTAL form: pair counts and a
    * pair→words inverted index are maintained across rounds, and each
    * merge retracts/re-adds adjacency counts only for the words that
    * actually contain the merged pair (an ordered set gives the
    * arg-max in O(log P)). Learning M merges therefore costs
    * O(Σ touched-word lengths · log P), not O(M · Σ|w|): real-vocab
    * runs (32k merges, 1M-word tables) are minutes, not days — BpeSpec
    * pins merge-for-merge equality with both the naive full-recompute
    * reference and tools/gen_bpe_merges.py at 2400 merges (26× faster
    * already at that toy 1800-word vocab; the ratio is ~M·Σ|w| /
    * Σ touched, so it widens by orders of magnitude as vocab grows).
    *
    * Output (rank, left, right) feeds [[tokenCountBpe]] /
    * [[tokenizeBpe]] directly: train → count/tokenize end to end with
    * no Python in the loop. */
  def trainBpe(docs: DataFrame, nMerges: Int = 200,
               maxVocab: Int = 1 << 20): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wf = docs.select(explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w").asc)
      .limit(maxVocab)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    learnMerges(wf, nMerges).zipWithIndex
      .map { case ((a, b), r) => (r.toLong, a, b) }
      .toDF("rank", "left", "right")
  }

  /** Driver-side incremental BPE merge learning over a word-frequency
    * table (see [[trainBpe]] for the contract; exposed `private[graft]`
    * so BpeSpec can pin it against the naive recompute on the same
    * word table). */
  private[graft] def learnMerges(wf: Array[(String, Long)],
                                 nMerges: Int): Vector[(String, String)] = {
    import scala.collection.mutable
    type Pair = (String, String)
    val nW = wf.length
    val seqs = Array.tabulate(nW)(i => wf(i)._1.map(_.toString).toArray)
    val freqs = Array.tabulate(nW)(i => wf(i)._2)

    // counts: live adjacency counts; index: pair → words that have
    // EVER contained it (append-only; stale members are skipped at
    // merge time with a single scan); queue mirrors counts ordered by
    // (count desc, pair asc) so the arg-max is `head`.
    val counts = mutable.HashMap.empty[Pair, Long]
    val index = mutable.HashMap.empty[Pair, mutable.BitSet]
    val ord: Ordering[(Long, Pair)] = Ordering.by { case (c, p) => (-c, p) }
    val queue = mutable.TreeSet.empty[(Long, Pair)](ord)

    def inc(p: Pair, f: Long, wi: Int): Unit = {
      val old = counts.getOrElse(p, 0L)
      if (old > 0L) queue.remove((old, p))
      counts.update(p, old + f)
      queue.add((old + f, p))
      index.getOrElseUpdate(p, mutable.BitSet.empty) += wi
    }
    def dec(p: Pair, f: Long): Unit = {
      val old = counts(p)
      queue.remove((old, p))
      val nw = old - f
      if (nw > 0L) { counts.update(p, nw); queue.add((nw, p)) }
      else { counts.remove(p); index.remove(p) }
    }

    var wi = 0
    while (wi < nW) {
      val s = seqs(wi); val f = freqs(wi)
      var i = 0
      while (i < s.length - 1) { inc((s(i), s(i + 1)), f, wi); i += 1 }
      wi += 1
    }

    val merges = Vector.newBuilder[Pair]
    var n = 0
    var done = false
    while (n < nMerges && !done && queue.nonEmpty) {
      val (c, best) = queue.head
      if (c < 2L) done = true
      else {
        merges += best
        n += 1
        val (a, b) = best
        val ab = a + b
        val members = index.getOrElse(best, mutable.BitSet.empty).toArray
        var mi = 0
        while (mi < members.length) {
          val w = members(mi)
          val s = seqs(w)
          var probe = 0; var hit = false
          while (probe < s.length - 1 && !hit) {
            if (s(probe) == a && s(probe + 1) == b) hit = true else probe += 1
          }
          if (hit) { // stale index members (pair merged away earlier) skip here
            val f = freqs(w)
            val out = Array.newBuilder[String]
            var i = 0
            while (i < s.length) { // greedy left-to-right, same as application
              if (i < s.length - 1 && s(i) == a && s(i + 1) == b) { out += ab; i += 2 }
              else { out += s(i); i += 1 }
            }
            val ns = out.result()
            var j = 0
            while (j < s.length - 1) { dec((s(j), s(j + 1)), f); j += 1 }
            j = 0
            while (j < ns.length - 1) { inc((ns(j), ns(j + 1)), f, w); j += 1 }
            seqs(w) = ns
          }
          mi += 1
        }
        // every live occurrence was retracted above; guard against a
        // stale residue ever re-surfacing as head (would loop forever)
        counts.remove(best).foreach(cl => queue.remove((cl, best)))
        index.remove(best)
      }
    }
    merges.result()
  }

  /** REAL tokenizer counts — greedy BPE under a merges.txt-format
    * table ([[graft.functions.GraftFunctions.bpeCount]], a codegen'd scan-local
    * projection; the whitespace proxy in [[tokenCount]] misprices
    * long/rare words exactly where training-data budgeting cares).
    * Parity with an independent Python implementation
    * (tools/bpe_reference.py) is pinned fixture-row-by-row in BpeSpec;
    * the empty document counts 0. */
  def tokenCountBpe(docs: DataFrame,
                    merges: Seq[(String, String)] = defaultBpeMerges): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
      GraftFunctions.bpeCount(tokens(col("text")), merges).as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** REAL tokenization — the pieces [[tokenCountBpe]] counts, one row
    * per piece in document order: (doc_id, pos, piece). What the
    * training pipeline actually feeds a model after packing; counting
    * alone cannot drive an embedding lookup. The merge loop runs
    * codegen'd inside the scan ([[graft.functions.GraftFunctions.bpeTokens]]), and
    * the posexplode is a Generate over the scan-local array — no
    * shuffle except the presentation sort. BpeSpec pins: pieces
    * re-concatenate to each normalized word, per-doc piece count
    * equals [[tokenCountBpe]], and the output is a greedy-merge fixed
    * point (no adjacent in-word pair still holds a merge rank).
    *
    * @note 100TB: this is already the scale shape (scan-local
    *       projection + Generate); drop the terminal orderBy when
    *       feeding a downstream job rather than a human. */
  def tokenizeBpe(docs: DataFrame,
                  merges: Seq[(String, String)] = defaultBpeMerges): DataFrame =
    docs.select(col("doc_id"),
        posexplode(GraftFunctions.bpeTokens(tokens(col("text")), merges))
          .as(Seq("pos", "piece")))
      .orderBy("doc_id", "pos")

  private[graft] val stopwords = Seq("the", "a", "of", "and", "is", "in", "to")

  /** Quality scoring: length, token stats, stopword/punctuation/
    * uppercase ratios, and a composite score in [0,1]
    * (data-quality gate for corpus filtering). */
  def textQuality(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    // greatest(…,1) guards empty text: Spark's non-ANSI x/0 is NULL but
    // DuckDB's is NaN — the guard makes both engines emit 0 ratios
    val nChars = greatest(length(col("text")).cast("double"), lit(1.0))
    val nStop = GraftFunctions.countInSet(toks, stopwords).cast("double")
    val nPunct = GraftFunctions.countPunct(col("text")).cast("double")
    val nUpper = GraftFunctions.countUpperAscii(col("text")).cast("double")
    val stopRatio = nStop / greatest(nTok, lit(1.0))
    val punctRatio = nPunct / nChars
    val upperRatio = nUpper / nChars
    val score = least(nTok / 200d, lit(1.0)) * 0.5 +
      stopRatio * 0.25 + (lit(1.0) - punctRatio) * 0.25
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_m"),
      nTok.cast("long").as("n_tokens"),
      rnd(stopRatio, 4).as("stopword_ratio"),
      rnd(punctRatio, 4).as("punct_ratio"),
      rnd(upperRatio, 4).as("upper_ratio"),
      rnd(score, 4).as("quality_score"))
      .orderBy("doc_id")
  }

  /** The composite quality score of [[textQuality]] as a standalone
    * Column (rounded 4dp — the deterministic ranking key for
    * quality-aware dedup). */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val nChars = greatest(length(text).cast("double"), lit(1.0))
    val nStop = GraftFunctions.countInSet(toks, stopwords).cast("double")
    val nPunct = GraftFunctions.countPunct(text).cast("double")
    rnd(least(nTok / 200d, lit(1.0)) * 0.5 +
      (nStop / greatest(nTok, lit(1.0))) * 0.25 +
      (lit(1.0) - nPunct / nChars) * 0.25, 4)
  }

  /** Quality-aware exact dedup: of each group of content-identical
    * documents, KEEP THE HIGHEST-QUALITY COPY (modern corpus-dedup
    * practice — duplicates share normalized content but differ in raw
    * casing/whitespace, so their quality scores differ), ties to the
    * lowest doc_id.
    *
    * Realized as `max(struct(quality_score, -doc_id))` per content
    * hash, NOT a row_number window (the r15 plan change, extending
    * the r14 [[graft.operators.Analytics.dedupByKey]] result to the
    * keep-BEST rule): the aggregate gets map-side partial combine, so
    * each task reduces its local duplicates to one row per content
    * hash BEFORE the exchange and the shuffle carries the deduped set
    * instead of the corpus — on the high-duplicate-rate crawls this
    * operator exists for, that is the 100 TB property. The multiplicity
    * count rides the SAME aggregate, where the window form paid a
    * full-corpus exchange + per-group sort for both. Ordering maps
    * exactly: max prefers the larger quality (struct ordering ranks a
    * null field lowest, so a null score loses — the window's
    * desc-nulls-last), and on a quality tie the larger `-doc_id` is
    * the SMALLER doc_id (asc). Negation is exact for every id this
    * pipeline mints (only Long.MinValue, never a real id, lacks a
    * negation). */
  def dedupKeepBest(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        contentHash(col("text")).as("content_hash"),
        qualityScore(col("text")).as("quality_score"))
      .groupBy("content_hash")
      .agg(
        max(struct(col("quality_score"), negate(col("doc_id")).as("neg_id")))
          .as("_best"),
        count(lit(1)).as("n_copies"))
      .select(col("content_hash"), negate(col("_best.neg_id")).as("keep_id"),
        col("_best.quality_score").as("best_quality"), col("n_copies"))
      .orderBy("keep_id")

  /** Incremental exact dedup — the batch-ingest form of [[dedupExact]]:
    * dedup a NEW batch of documents against an already-curated corpus
    * (and within itself), keeping the lowest-id new copy of each
    * content not yet in the corpus. This is the operation every
    * continuously-fed training corpus runs on arrival: the historical
    * corpus is never rescanned per batch beyond its content hashes.
    *
    * Scale shape: both sides reduce to content hashes before any
    * shuffle — the anti-join and the keep-best aggregation share ONE
    * hash partitioning on `content_hash` (Catalyst reuses the
    * exchange), and the corpus side would in production be a
    * pre-materialized hash table (see [[graft.sources.Bucketed]] for
    * the bucketed form that makes the anti-join exchange-free). Text
    * never crosses a shuffle. */
  def dedupIncremental(newDocs: DataFrame, corpus: DataFrame): DataFrame =
    dedupIncrementalPrehashed(newDocs,
      corpus.select(contentHash(col("text")).as("content_hash"))
        .distinct())

  /** The production form of [[dedupIncremental]]: the corpus side is a
    * PRE-MATERIALIZED `content_hash` table, maintained once per ingest
    * instead of rehashed per batch. Written bucketed+sorted on
    * `content_hash` ([[graft.sources.Bucketed.writeBucketed]]), the
    * anti-join reads its bucket layout from the catalog and the
    * 100 TB side neither shuffles nor sorts — only the arriving batch
    * does (ScaleSpec plan-locks the single-Exchange shape). */
  def dedupIncrementalPrehashed(newDocs: DataFrame, corpusHashes: DataFrame): DataFrame =
    newDocs
      .select(col("doc_id"), contentHash(col("text")).as("content_hash"))
      .join(corpusHashes.select("content_hash"), Seq("content_hash"), "left_anti")
      .groupBy("content_hash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_batch_copies"))
      .orderBy("keep_id")

  // Markup patterns share the PII discipline (identical Java/RE2
  // semantics: ASCII classes, no lookaround, no \b). A tag is '<' +
  // non-'>' run + '>' — the standard boilerplate-strip heuristic, not
  // an HTML parser (malformed nesting degrades to leaving text, never
  // to dropping it).
  private[graft] val tagPat = "<[^>]*>"
  private[graft] val entityPat = "&(?:amp|lt|gt|quot|nbsp|#39);"
  // decode order matters: '&amp;' decodes LAST or '&amp;lt;' would
  // double-decode to '<'
  private[graft] val entityMap: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
    "&nbsp;" -> " ", "&amp;" -> "&")

  /** The markup-cleaning transform as a standalone Column (tag strip →
    * entity decode → whitespace collapse + trim) — composable into
    * larger projections ([[graft.GraftApi.curatePlan]] stage 0) without
    * a join-back. */
  def cleanMarkup(text: Column): Column = {
    val noTags = regexp_replace(text, tagPat, " ")
    val decoded = entityMap.foldLeft(noTags) { case (c, (ent, repl)) =>
      replace(c, lit(ent), lit(repl))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Markup/boilerplate cleanup (the first pass every web-scraped
    * training corpus runs): strip tags, decode the common HTML
    * entities, collapse whitespace. Emits the per-document tag and
    * entity counts (curation audits read them: a high tag density
    * marks pages whose extraction failed upstream) plus the cleaned
    * text. Pure per-row projection — whole-stage codegen, no shuffle,
    * the corpus scan is the entire cost at any scale. */
  def stripMarkup(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(tagPat)).cast("long").as("n_tags"),
      regexp_count(regexp_replace(col("text"), tagPat, " "), lit(entityPat))
        .cast("long").as("n_entities"),
      cleanMarkup(col("text")).as("text_clean"))
      .orderBy("doc_id")

  /** Line-level boilerplate removal (the CCNet/RefinedWeb pass):
    * drop every line that appears VERBATIM in more than `maxDocFreq`
    * distinct documents — navigation chrome, cookie banners, footer
    * text — and reassemble each document from its surviving lines in
    * order. Whitespace-only lines never count as boilerplate (they are
    * structure, not content).
    *
    * Scale shape: lines travel as 64-bit xxhash values into the
    * document-frequency aggregate (map-side combined; the per-line
    * string leaves the scan only inside its own document's rows), the
    * frequent-line set is a heavy-hitter set — small by nature — and
    * the anti-join against it restricts candidates by hash. The one
    * unavoidable shuffle is the per-document reassembly groupBy.
    * Collision risk of hashing: two different lines colliding in 64
    * bits AND one being boilerplate (~n_distinct²/2⁶⁴) — accepted and
    * documented, as with the shingle hashes. */
  def dedupLines(docs: DataFrame, maxDocFreq: Int = 2): DataFrame = {
    val lines = docs.select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("line_no", "line")))
      .withColumn("lh", xxhash64(col("line")))
    val frequent = lines
      .filter(trim(col("line")) =!= "")
      .groupBy("lh").agg(countDistinct(col("doc_id")).as("line_df"))
      .filter(col("line_df") > maxDocFreq)
    // MARK boilerplate lines (left join against the heavy-hitter set)
    // instead of anti-joining them away: one reassembly aggregate then
    // produces n_lines, n_removed, AND the rebuilt text — the r15 form
    // anti-joined, re-scanned the corpus for n_lines, and left-joined
    // the two frames back together (a second parquet scan + a whole
    // broadcast-join stage to recombine values that never had to
    // separate). Every document keeps >= 1 line row (split of "" is
    // [""]), so the groupBy covers all-boilerplate docs — they emit
    // empty text_clean, no outer join needed. collect_list skips the
    // null struct the `when` leaves on marked lines — kept lines only.
    val marked = lines.join(
      frequent.select(col("lh"), lit(1).as("bp")), Seq("lh"), "left")
    marked
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        count(col("bp")).as("n_removed"),
        // ordered reassembly: sort (line_no, line) structs, project the
        // line field (GetArrayStructFields — no lambda), join with \n
        array_join(
          sort_array(collect_list(
            when(col("bp").isNull, struct(col("line_no"), col("line")))))
            .getField("line"), "\n").as("text_clean"))
      .orderBy("doc_id")
  }

  /** Merged [s, e) token intervals per document covered by some
    * k-token window whose content appears in more than `maxDocFreq`
    * documents — the candidate-marking half of [[dedupSpans]].
    *
    * Shape: windows travel as positional 64-bit hashes
    * ([[graft.functions.TextHash.shingleHashPos]] — codegen'd, one
    * hash per start position) into a document-frequency aggregate and
    * a start-position join, both keyed on the hash; the overlapping
    * starts merge into disjoint intervals with one gaps-and-islands
    * window per doc. Only (hash, doc_id, pos) rows ever shuffle —
    * text stays in the scan. Window equality is hash equality: two
    * different k-windows colliding in 64 bits AND one being
    * boilerplate (~n_windows²/2⁶⁴) — accepted and documented, as with
    * every shingle-hash surface. */
  private[graft] def spanIntervals(docs: DataFrame, k: Int,
                                   maxDocFreq: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // spread BEFORE the positional-hash kernel: a single-file corpus
    // arrives as one partition and serializes tokenize+hash onto one
    // core (size-gated — a partitioned 100 TB scan passes through)
    val whs = spreadToCores(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        GraftFunctions.shingleHashPos(tokens(col("text")), k).as("whs"))
    val wins = whs.select(col("doc_id"), posexplode(col("whs")).as(Seq("pos", "wh")))
    // window-content document frequency; > maxDocFreq = boilerplate.
    // NOT broadcast back: at corpus scale the repeated-window set is
    // unbounded (every duplicated license block), so the start join
    // shuffles on the hash instead — hash+pos rows only
    val frequent = wins.select("doc_id", "wh").distinct()
      .groupBy("wh").agg(count(lit(1)).as("w_df"))
      .filter(col("w_df") > maxDocFreq)
    val starts = wins.join(frequent.select("wh"), Seq("wh"))
    mergeStartsToIvs(starts, k)
  }

  /** Gaps-and-islands merge of flagged window-start rows
    * (doc_id, pos) into one sorted array of disjoint [s, e) token
    * intervals per document — the shared second half of
    * [[spanIntervals]] (corpus-frequency flagging) and
    * [[contaminationIntervals]] (benchmark-membership flagging): a
    * start opens a new island iff it clears every earlier window's
    * end (starts ascend, so the running max end is prev_pos + k);
    * [s, e) intervals merge overlap AND adjacency. */
  private def mergeStartsToIvs(starts: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + k).over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    starts
      .select(col("doc_id"), col("pos"),
        when(prevEnd.isNull || col("pos") > prevEnd, 1).otherwise(0).as("ni"))
      .select(col("doc_id"), col("pos"), sum("ni").over(byPos).as("island"))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("s"), (max("pos") + k).as("e"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"))
  }

  /** Merged [s, e) token intervals per corpus document covered by some
    * k-token window whose content appears ANYWHERE in the benchmark
    * set — [[spanIntervals]] with membership flagging instead of
    * document-frequency flagging. Same shape: only (hash, doc_id,
    * pos) rows shuffle, text stays in the scan; the benchmark hash
    * set is benchmark-sized (distinct k-grams), so AQE broadcasts it
    * when it fits and the join degrades to a hash shuffle when it
    * doesn't. Window equality is 64-bit hash equality, the documented
    * shingle-surface collision contract. */
  private[graft] def contaminationIntervals(docs: DataFrame, bench: DataFrame,
                                            k: Int): DataFrame = {
    val wins = spreadToCores(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        posexplode(GraftFunctions.shingleHashPos(tokens(col("text")), k))
          .as(Seq("pos", "wh")))
    val bad = bench
      .select(explode(GraftFunctions.shingleHashPos(tokens(col("text")), k)).as("wh"))
      .distinct()
    mergeStartsToIvs(wins.join(bad, Seq("wh")), k)
  }

  /** Repeated-span dedup — the substring-granularity member of the
    * dedup family (document-level exact/near dedup misses boilerplate
    * PARAGRAPHS inside otherwise-distinct documents; line-level
    * [[dedupLines]] misses anything spanning or avoiding line breaks).
    * The fixed-k approximation of suffix-array exact-substring dedup:
    * any repeated run of ≥ k tokens is covered by repeated k-windows
    * and is cut exactly; runs shorter than k survive (choose k = the
    * shortest boilerplate worth cutting). Emits per document the
    * normalized token count, tokens removed, and the text with
    * repeated spans cut.
    *
    * Scale shape: see [[spanIntervals]] (hashes shuffle, text does
    * not); the interval table joins back BROADCAST by default — it
    * carries only affected docs, bounded by the boilerplate volume.
    * Set `broadcastIntervals = false` when marked docs outgrow the
    * broadcast budget: the join becomes a hash join and the text pays
    * its one shuffle, the [[dedupLines]] reassembly shape. The cut
    * itself is a per-row filter over (token, index) against ≤
    * n_tokens/k merged intervals — no explode, no reassembly
    * aggregation. */
  /** Attach each doc's (coalesced, possibly empty) repeated-span
    * interval array: the shared join half of [[dedupSpans]] /
    * [[cutSpans]] — one definition of the join/coalesce/threshold
    * discipline so the two projections cannot drift. */
  private def withSpanIvs(docs: DataFrame, extra: Seq[Column], k: Int,
                          maxDocFreq: Int, broadcastIntervals: Boolean): DataFrame = {
    require(k >= 2, s"window size must be at least 2 tokens: $k")
    require(maxDocFreq >= 1, s"maxDocFreq must be at least 1: $maxDocFreq")
    attachIvs(docs, extra, spanIntervals(docs, k, maxDocFreq), broadcastIntervals)
  }

  /** Left-join a prebuilt interval table onto the docs and coalesce
    * missing entries to the empty array — the shared attach half of
    * every span-cutting projection, factored so the frequency- and
    * contamination-flagged forms cannot drift. */
  private def attachIvs(docs: DataFrame, extra: Seq[Column], ivs: DataFrame,
                        broadcastIntervals: Boolean): DataFrame = {
    val ivSide = if (broadcastIntervals) broadcast(ivs) else ivs
    val noIvs = array().cast("array<struct<s:int,e:int>>")
    // spread the streamed side: tokenization here plus the caller's
    // cut/reassembly projections all run in this scan stage, which a
    // single-file corpus serializes onto one core (size-gated)
    spreadToCores(docs).select(col("doc_id") +: extra: _*)
      .join(ivSide, Seq("doc_id"), "left")
      .withColumn("ivs", coalesce(col("ivs"), noIvs))
  }

  /** SPAN-level benchmark decontamination — the substring-granularity
    * member of the decontamination family, after document-level
    * [[graft.operators.Dedup.decontaminate]] (exact),
    * `decontaminateFuzzy` (n-gram Jaccard), and the embedding-space
    * semantic form: instead of DROPPING a document that shares
    * content with an evaluation benchmark, EXCISE exactly the
    * contaminated token spans and keep the rest — the GPT-3 paper's
    * published procedure (Brown et al. 2020, appendix C: remove the
    * overlapping 13-gram span rather than the document) and the
    * reason `k = 13` is the default here. Any shared run of ≥ k
    * tokens is covered by shared k-windows and is cut exactly; runs
    * shorter than k survive (benchmark phrases that short are
    * ordinary language, not leakage).
    *
    * Output per corpus document: normalized token count, tokens
    * removed, and the text with contaminated spans cut — same
    * contract as [[dedupSpans]], and the same case/whitespace
    * caveat: matching runs on normalized tokens, an uncontaminated
    * document passes through with its token stream intact but
    * inter-token whitespace collapsed (this form feeds quality
    * scoring/packing, which are whitespace-insensitive).
    *
    * Scale shape: [[contaminationIntervals]] — only (hash, pos) rows
    * shuffle, the benchmark k-gram set is benchmark-bounded (AQE
    * broadcasts it when small), and the interval join-back is
    * broadcast by default, bounded by the CONTAMINATED-doc volume;
    * set `broadcastIntervals = false` when that outgrows the budget. */
  def decontaminateSpans(docs: DataFrame, bench: DataFrame, k: Int = 13,
                         broadcastIntervals: Boolean = true): DataFrame = {
    require(k >= 2, s"window size must be at least 2 tokens: $k")
    attachIvs(docs, Seq(tokens(col("text")).as("toks")),
        contaminationIntervals(docs, bench, k), broadcastIntervals)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        keptByIvs(col("toks")).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("text_clean"))
      .orderBy("doc_id")
  }

  /** Contamination AUDIT report — the datasheet the decontamination
    * family's enforcement members ([[graft.operators.Dedup.decontaminate]],
    * `decontaminateFuzzy`, the semantic form, [[decontaminateSpans]])
    * all presuppose: PER BENCHMARK ITEM, how much of the corpus leaks
    * it. The number that decides the release call every eval team
    * actually makes — clean the corpus vs retire the eval item: an
    * item with leaked_frac ≈ 1 is memorized verbatim somewhere and
    * cutting spans just fragments it; an item with a few shared
    * k-grams is boilerplate overlap.
    *
    * Per benchmark doc (with ≥ k tokens — shorter items cannot leak
    * at k-gram granularity and carry no row): its distinct k-gram
    * count, how many of those k-grams appear anywhere in the corpus,
    * how many distinct corpus docs share ≥ 1 of them, and
    * leaked_frac = shared/total (6dp).
    *
    * Scale shape: both sides reduce to distinct (id, hash64) pairs
    * before the hash-equi join — the corpus side is the same one
    * (hash, id) shuffle [[decontaminateSpans]] pays and the text
    * never leaves its scan; the join output is bounded by the
    * contamination volume (benchmark-bounded × leak multiplicity),
    * and the two countDistincts partial-aggregate over it. Same
    * hash-collision premise as every shingle oracle. */
  def contaminationReport(docs: DataFrame, bench: DataFrame,
                          k: Int = 13): DataFrame = {
    require(k >= 2, s"window size must be at least 2 tokens: $k")
    val corpus = docs.select(col("doc_id"),
        explode(GraftFunctions.shingleHashPos(tokens(col("text")), k)).as("wh"))
      .distinct()
    val benchW = bench.select(col("doc_id").as("bench_id"),
        explode(GraftFunctions.shingleHashPos(tokens(col("text")), k)).as("wh"))
      .distinct()
    val benchTot = benchW.groupBy("bench_id").agg(count(lit(1)).as("n_kgrams"))
    val hits = benchW.join(corpus, Seq("wh"))
      .groupBy("bench_id")
      .agg(countDistinct(col("doc_id")).as("n_contaminated_docs"),
        countDistinct(col("wh")).as("n_shared_kgrams"))
    benchTot.join(hits, Seq("bench_id"), "left")
      .select(col("bench_id"), col("n_kgrams"),
        coalesce(col("n_shared_kgrams"), lit(0L)).as("n_shared_kgrams"),
        coalesce(col("n_contaminated_docs"), lit(0L)).as("n_contaminated_docs"),
        rnd(coalesce(col("n_shared_kgrams"), lit(0L)) * lit(1.0) / col("n_kgrams"), 6)
          .as("leaked_frac"))
      .orderBy("bench_id")
  }

  /** filter() predicate: token index i not covered by any interval. */
  private def keptByIvs(arr: Column): Column =
    filter(arr, (t, i) =>
      !exists(col("ivs"), iv => iv.getField("s") <= i && i < iv.getField("e")))

  def dedupSpans(docs: DataFrame, k: Int = 50, maxDocFreq: Int = 1,
                 broadcastIntervals: Boolean = true): DataFrame =
    withSpanIvs(docs, Seq(tokens(col("text")).as("toks")), k, maxDocFreq,
        broadcastIntervals)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        keptByIvs(col("toks")).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("text_clean"))
      .orderBy("doc_id")

  /** [[dedupSpans]] shaped for pipeline composition
    * ([[graft.GraftApi.curatePlan]]'s optional span stage): returns
    * (doc_id, source, text) with repeated spans cut, preserving the
    * input contract of every downstream stage — and no interior
    * presentation sort (built from [[spanIntervals]] directly, not by
    * joining the sorted stats frame).
    *
    * CASE/WHITESPACE CONTRACT: span MATCHING runs on normalized tokens
    * (boilerplate detection should be case-insensitive), but the CUT
    * applies to the ORIGINAL text's whitespace tokens — normalization
    * never changes the token count, so positions align 1:1 — and a
    * document with no repeated span passes through BYTE-IDENTICAL. A
    * cut document keeps its surviving tokens' original case; only
    * their inter-token whitespace collapses to single spaces (the
    * price of token-level reassembly, same as [[dedupLines]] within a
    * line). */
  def cutSpans(docs: DataFrame, k: Int = 50, maxDocFreq: Int = 1,
               broadcastIntervals: Boolean = true): DataFrame = {
    // original-case tokens: trim + split on whitespace runs — same
    // count and positions as tokens() (which only adds lowercasing)
    val otoks = split(trim(col("text")), "\\s+")
    withSpanIvs(docs,
        Seq(col("source"), col("text"), otoks.as("otoks")), k, maxDocFreq,
        broadcastIntervals)
      .select(col("doc_id"), col("source"),
        when(size(col("ivs")) === 0, col("text"))
          .otherwise(array_join(keptByIvs(col("otoks")), " ")).as("text"))
  }

  /** Fixed-size token chunking with overlap — the unit-of-retrieval
    * splitter every embedding/RAG pipeline runs before vectorizing:
    * chunk k covers tokens [k·stride, k·stride + size) with
    * stride = size − overlap, so consecutive chunks share `overlap`
    * tokens of context; the tail chunk may be short, and a chunk that
    * would start at or past the end is never emitted (a doc with
    * ≤ size tokens yields exactly one chunk). Pure per-row expansion
    * inside the scan stage — no shuffle but the terminal presentation
    * sort; downstream embedding consumes (doc_id, chunk_idx,
    * chunk_text) partition-locally.
    *
    * Expansion shape — MEASURED, not assumed: the obvious worry is
    * that exploding chunk indices and slicing afterwards "duplicates
    * the token array nChunks times in the intermediate projection".
    * It does not, physically: the whole expansion sits in ONE
    * whole-stage-codegen span, where the Generate loop materializes
    * the outer columns once per INPUT row and each output row's
    * `slice` reads the SAME array buffer — no per-chunk copy ever
    * exists. The alternative that builds all chunks in one row
    * (`transform` over the indices, then posexplode the chunk array —
    * [[chunkDocsOneRow]]) really does allocate every chunk array,
    * in an interpreted CodegenFallback loop (ArrayTransform has no
    * doGenCode): measured at sf0.1 it is 1.7x slower (0.36 s vs
    * 0.22 s), and on a 200-doc x 20k-token stress (~416 chunks/doc)
    * 6.6x slower (1.60 s vs 0.24 s) with the worse slope. This form
    * is the keeper on both criteria; bit-identity of the two is
    * pinned in TextAnalysisSpec. */
  def chunkDocs(docs: DataFrame, chunkSize: Int = 64, overlap: Int = 16): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap ($overlap) < chunkSize ($chunkSize)")
    val stride = chunkSize - overlap
    val toks = tokens(col("text"))
    // chunk count: 1 + ceil(max(0, n - chunkSize) / stride); the
    // ceil-div runs on exact small integers through double floor
    val extra = greatest(size(toks) - chunkSize, lit(0))
    val nChunks =
      lit(1L) + floor((extra + (stride - 1)).cast("double") / stride).cast("long")
    docs
      .select(col("doc_id"), toks.as("toks"),
        posexplode(sequence(lit(0L), nChunks - 1)).as(Seq("pos", "k")))
      .select(col("doc_id"), col("k").cast("long").as("chunk_idx"),
        slice(col("toks"), (col("k").cast("int") * stride) + 1, lit(chunkSize)).as("ctoks"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("ctoks")).cast("long").as("n_chunk_tokens"),
        array_join(col("ctoks"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** The build-all-chunks-in-one-row alternative (see [[chunkDocs]]'s
    * expansion-shape note) — measured slower at every scale tried;
    * kept only as the equivalence oracle for the shape decision. */
  private[graft] def chunkDocsOneRow(docs: DataFrame, chunkSize: Int = 64,
                                     overlap: Int = 16): DataFrame = {
    val stride = chunkSize - overlap
    val extra = greatest(size(col("toks")) - chunkSize, lit(0))
    val nChunks =
      lit(1L) + floor((extra + (stride - 1)).cast("double") / stride).cast("long")
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0L), nChunks - 1),
          k => slice(col("toks"), (k.cast("int") * stride) + 1, lit(chunkSize))))
          .as(Seq("pos", "ctoks")))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        size(col("ctoks")).cast("long").as("n_chunk_tokens"),
        array_join(col("ctoks"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Per-document token entropy in bits — H = −Σ p_t·log2(p_t) over
    * the document's token distribution, computed as
    * log2(n) − (Σ c·log2 c)/n. Low entropy flags degenerate text
    * (keyword stuffing, template loops) that raw repetition ratios can
    * miss when the repeats are interleaved. The c·log2 c addends round
    * to 6dp before the exact DECIMAL sum (see [[graft.operators.decSum]]
    * — double summation order differs per engine; the last-ulp
    * difference of each engine's log2 sits far inside the tie nudge).
    * Shape: the wordcount explode (map-side combined) then a per-doc
    * rollup — two hash shuffles carrying only (doc, token-count)
    * rows. */
  def tokenEntropy(docs: DataFrame): DataFrame =
    // one row-local kernel pass (r16): entropy is a per-DOCUMENT
    // statistic — the r15 explode → per-(doc,token) count → per-doc
    // rollup shuffled the tokenized corpus TWICE for it. The kernel
    // reproduces the rollup bit-for-bit (StrictMath log2, Spark Round
    // semantics, scaled-long exact sum ≡ the DECIMAL sum — see
    // TextHash.tokenEntropyStats); null-text docs drop exactly as
    // explode dropped them.
    docs
      .select(col("doc_id"),
        GraftFunctions.tokenEntropyStats(tokens(col("text"))).as("_s"))
      .filter(col("_s").isNotNull)
      .select(col("doc_id"),
        col("_s.n_tokens").as("n_tokens"),
        col("_s.n_distinct").as("n_distinct"),
        rnd(log2(col("_s.n_tokens")) - col("_s.clogc") / col("_s.n_tokens"), 4)
          .as("entropy_bits"))
      .orderBy("doc_id")

  // URL pattern under the same Java∩RE2 discipline: scheme + captured
  // host (group 1) + optional port + optional path-to-whitespace.
  private[graft] val urlPat =
    "https?://([A-Za-z0-9.-]+)(?::[0-9]+)?(?:/[^\\s]*)?"

  /** Corpus URL/domain statistics — the input to domain blocklists and
    * source-mix audits every web-scale corpus maintains: extract every
    * http(s) URL, normalize its host (lowercase, strip leading www.),
    * and roll up URL count and document frequency per domain. The
    * extraction is a scan-local projection; only (domain, doc_id)
    * pairs leave the scan, map-side combined into the one small
    * aggregate shuffle. Deterministic ties (count desc, domain asc). */
  def urlStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit(urlPat), lit(1))).as("host"))
      .select(col("doc_id"),
        regexp_replace(lower(col("host")), "^www\\.", "").as("domain"))
      .filter(col("domain") =!= "")
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(desc("n_urls"), asc("domain"))

  /** Tracking-parameter pattern shared by [[canonicalizeUrl]] and the
    * DuckDB oracle (Java∩RE2 subset): the query params every web
    * pipeline strips before URL-keyed dedup because they vary per
    * click, not per resource. */
  private[graft] val trackingParamPat =
    "^(utm_[^=]*|fbclid|gclid|msclkid|igshid|ref)="

  /** Canonical URL form for URL-keyed dedup — the normalization step
    * every web-crawl pipeline (CCNet-style) runs before treating the
    * URL as a document identity key. Rules, each a projection-local
    * string op (whole-stage codegen, no UDF):
    *
    *   1. drop the fragment (`#...` never reaches the server);
    *   2. lowercase the scheme and host (case-insensitive per RFC
    *      3986) — the PATH keeps its case (it is case-sensitive);
    *   3. strip the scheme's default port (`:80` http, `:443` https);
    *   4. strip a leading `www.` from the host;
    *   5. strip trailing slashes from the path;
    *   6. drop tracking query params ([[trackingParamPat]]) and sort
    *      the survivors byte-wise (param order is not identity), with
    *      an all-stripped query losing its `?` entirely.
    *
    * Non-URL input canonicalizes to `://` remnants only if it lacks a
    * scheme — callers feed extracted URLs ([[urlPat]]), not raw text.
    * Cross-engine: every step is the same regex/sort in DuckDB (the
    * params are split/filter/sort on ASCII, where Spark's binary
    * UTF8String order and DuckDB's default collation agree). */
  def canonicalizeUrl(u: Column): Column = {
    val nf     = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(nf, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth   = lower(regexp_extract(nf, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val noPort = when(scheme === "https", regexp_replace(auth, ":443$", ""))
      .when(scheme === "http", regexp_replace(auth, ":80$", ""))
      .otherwise(auth)
    val host = regexp_replace(noPort, "^www\\.", "")
    val path = regexp_replace(
      regexp_extract(nf, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1), "/+$", "")
    val q = regexp_extract(nf, "\\?(.*)$", 1)
    val kept = array_join(
      sort_array(filter(split(q, "&"),
        p => p =!= "" && !p.rlike(trackingParamPat))), "&")
    concat(scheme, lit("://"), host, path,
      when(kept === "", lit("")).otherwise(concat(lit("?"), kept)))
  }

  /** URL-keyed near-identity dedup: canonicalize ([[canonicalizeUrl]])
    * and keep the best document per canonical URL — longest text wins,
    * doc_id ascending breaks ties (the [[dedupKeepBest]] rule). The
    * crawl-dedup step that runs BEFORE content dedup: two fetches of
    * the same resource differ in boilerplate/timestamps, so content
    * hashing misses them, but their canonical URL is equal.
    *
    * Scale shape: canonicalization is projection-local, and the
    * keep-longest rule is `max(struct(n_chars, -doc_id))` per
    * canonical key — an aggregate, NOT a row_number window (the r15
    * plan change, same mapping as [[dedupKeepBest]]): map-side partial
    * combine reduces each task to one candidate per local canonical
    * URL before the exchange, so the shuffle carries the deduped URL
    * set (crawl re-fetch rates make that gap the whole cost at
    * 100 TB), with n_dupes riding the same aggregate. Ordering maps
    * exactly: larger n_chars wins (null loses, as desc-nulls-last
    * did), and on a length tie the larger `-doc_id` is the smaller
    * doc_id (asc). Only (url_canon, n_chars, doc_id) ever shuffles. */
  def dedupByUrl(docs: DataFrame, urlCol: String = "url"): DataFrame =
    docs
      .select(canonicalizeUrl(col(urlCol)).as("url_canon"),
        col("n_chars"), col("doc_id"))
      .groupBy("url_canon")
      .agg(
        max(struct(col("n_chars"), negate(col("doc_id")).as("neg_id")))
          .as("_best"),
        count(lit(1)).as("n_dupes"))
      .select(negate(col("_best.neg_id")).as("doc_id"), col("url_canon"),
        col("n_dupes"))
      .orderBy("url_canon")

  /** Token-balanced shard plan — the EXPORT step after curation:
    * publish the corpus as consecutive shards of ~`tokensPerShard`
    * whitespace tokens each (doc order preserved, so shard locality
    * matches doc_id locality and a reader streams shards
    * sequentially). A document lands in the shard its cumulative
    * START falls in; documents never split (the within-shard
    * splitting is [[packSequences]]'s job at sequence granularity).
    *
    * Scale shape: [[graft.operators.GlobalIds.binByCumWeight]] — the
    * exact global token cumsum WITHOUT a whole-dataset window
    * (range-bucket by doc_id, broadcast per-bucket offsets,
    * within-bucket running sum; one data shuffle). n_tokens uses
    * [[tokenCount]]'s whitespace definition so the datasheet numbers
    * reconcile across operators. */
  def shardPlan(docs: DataFrame, tokensPerShard: Long = 1L << 20): DataFrame =
    GlobalIds.binByCumWeight(
        docs.select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", tokensPerShard)
      .select(col("doc_id"), col("n_tokens"), col("bin").as("shard"))
      .orderBy("doc_id")

  /** Corpus composition datasheet — the per-source rollup every corpus
    * release publishes: document and token volumes, mean document
    * length, mean quality, and distinct-content count (the dedup
    * headroom). One scan, one small per-source aggregate; the quality
    * mean sums exactly in DECIMAL (see [[graft.operators.decAvg]] —
    * summing rounded doubles is order-dependent across engines). */
  def corpusStats(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        qualityScore(col("text")).as("q"),
        contentHash(col("text")).as("h"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        rnd(sum("n_tok").cast("double") / count(lit(1)), 4).as("avg_tokens"),
        decAvg(col("q"), 4).as("avg_quality"),
        countDistinct(col("h")).as("n_distinct_contents"))
      .orderBy("source")

  /** Language-marker word lists (alphabetical by lang code); the
    * stopword-profile heuristic scores each language by marker-token
    * frequency and picks the argmax (ties → first alphabetically,
    * all-zero → 'und'). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "ist", "ein", "nicht"),
    "en" -> Seq("the", "of", "and", "is", "to", "that"),
    "es" -> Seq("el", "la", "de", "que", "los", "una"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une"))

  def langId(docs: DataFrame): DataFrame = {
    val scored = langMarkers.foldLeft(docs.withColumn("toks", tokens(col("text")))) {
      case (df, (lang, words)) =>
        df.withColumn(s"s_$lang",
          GraftFunctions.countInSet(col("toks"), words).cast("long"))
    }
    val langs = langMarkers.map(_._1)
    val allZero = langs.map(l => col(s"s_$l") === 0).reduce(_ && _)
    // argmax with ties to the alphabetically-first language
    val pred = langs.zipWithIndex.foldRight(lit("und")) { case ((l, i), elseCol) =>
      val beatsLater = langs.drop(i + 1).map(m => col(s"s_$l") >= col(s"s_$m"))
        .foldLeft(lit(true))(_ && _)
      when(beatsLater, lit(l)).otherwise(elseCol)
    }
    scored.select(
      Seq(col("doc_id")) ++ langs.map(l => col(s"s_$l")) :+
        when(allZero, "und").otherwise(pred).as("lang_pred"): _*)
      .orderBy("doc_id")
  }

  /** Sequence packing (training-batch assembly): documents concatenate
    * in (source, doc_id) order and split into fixed token-budget
    * training sequences — the GPT-style "concatenate and chunk"
    * regime. A document's pack is where its first token lands
    * (`cum_before div budget`), so assignment is a pure function of
    * the per-source exclusive running token count: ONE window cumsum
    * per source partition, the same single-shuffle entity-window shape
    * as the time-series features. At 100 TB, `source` shards the
    * corpus (packing order within a shard is what training needs —
    * there is no global order to maintain).
    *
    * `tokenCounter` prices each document against the budget. The
    * default (whitespace tokens) is the SQL-oracle-checkable form; a
    * real training run budgets in MODEL tokens — pass
    * [[packSequencesBpe]]'s counter (or any Column → Column) and the
    * same one-window plan packs in those units. Mis-budgeting in
    * whitespace units is off by the corpus's BPE/ws token ratio
    * (~1.3-1.5× for English prose, worse for code). */
  def packSequences(docs: DataFrame, budget: Long = 2048L,
                    tokenCounter: Column => Column =
                      c => size(tokens(c)).cast("long")): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), col("source"),
        tokenCounter(col("text")).as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"cum_before div ${budget}L").as("pack_id"),
        expr(s"cum_before % ${budget}L").as("start_offset"))
      .orderBy("source", "doc_id")
  }

  /** [[packSequences]] budgeted in REAL model tokens: greedy BPE under
    * a merges.txt-format table ([[graft.functions.GraftFunctions.bpeCount]], codegen'd
    * and scan-local, so the plan shape is identical to the whitespace
    * form — one window shuffle, the counter fused into the scan).
    * The pack invariants (assignment = cum_before div budget, offsets
    * = cum_before % budget, counts = [[tokenCountBpe]]'s) are pinned in
    * TextAnalysisSpec; the ws form stays the DuckDB-oracle entry. */
  def packSequencesBpe(docs: DataFrame, budget: Long = 2048L,
                       merges: Seq[(String, String)] = defaultBpeMerges): DataFrame =
    packSequences(docs, budget,
      c => GraftFunctions.bpeCount(tokens(c), merges).cast("long"))

  /** Content fingerprint: 64-bit polynomial rolling hash of the
    * normalized text via the custom codegen'd Catalyst expression. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      GraftFunctions.fingerprint64(normalize(col("text"))).as("fp64"))
      .orderBy("doc_id")

  // PII patterns restricted to syntax with IDENTICAL semantics in Java
  // regex (Spark) and RE2 (DuckDB oracle): character classes, bounded
  // repetition — no lookaround, no backreferences, and NO \b. \b is a
  // dialect trap the generative probe (tools/check_pii_parity.py +
  // graft.PiiGen) caught in round 4: Java's \b is Unicode-aware (a
  // Cyrillic letter after a digit is NOT a boundary) while RE2's is
  // ASCII-only (it IS one), so '...4567-0токен' redacted differently
  // per engine. Boundaries are instead encoded as EXPLICIT captured
  // ASCII classes ([^0-9A-Za-z_]|$), restored in the replacement —
  // the same codepoints in every engine by construction.
  private[graft] val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val ipPat =
    "(^|[^0-9A-Za-z_])[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}([^0-9A-Za-z_]|$)"
  // two anchored shapes, NOT "any 8-char digit run": a bare digit-run
  // pattern rewrites dates (2020-01-02), ISBNs, and numeric ranges to
  // <PHONE> — silent corruption of clean text. Branch 1: international
  // form, must start with '+'; the interior run is BOUNDED ({6,16},
  // E.164's 15 digits plus separator headroom) and the final digit
  // must sit on an explicit ASCII boundary, so an unbounded greedy run
  // can no longer swallow an unrelated trailing digit group ('+44 20
  // 7946 0958 1999' redacts the phone and leaves 1999 — the greedy
  // match backtracks to the last in-bound digit followed by a
  // non-word char). Branch 2: separator-grouped 3-3-4 (NANP) with
  // optional parens. Unseparated 10-digit runs are left alone by
  // design (indistinguishable from ids/ISBNs without context) — the
  // documented precision-over-recall tradeoff. Both engines resolve
  // greedy alternation leftmost-first, and an unmatched group
  // reference in the replacement is the empty string in Java, RE2,
  // and Python re alike, so parity holds.
  private[graft] val phonePat =
    "\\+[0-9][0-9()\\- ]{6,16}[0-9]([^0-9A-Za-z_]|$)|\\(?[0-9]{3}\\)?[\\- ][0-9]{3}[\\- ][0-9]{4}"
  // replacement templates restoring the captured boundary characters
  // (Java $N ↔ RE2/DuckDB \N — interpolated into the oracle SQL)
  private[graft] val ipReplSpark = "$1<IP>$2"
  private[graft] val ipReplDuck = "\\1<IP>\\2"
  private[graft] val phoneReplSpark = "<PHONE>$1"
  private[graft] val phoneReplDuck = "<PHONE>\\1"

  /** PII redaction (corpus-sanitization pass every training-data
    * pipeline runs before release): emails, then IPv4 addresses, then
    * phone-shaped digit runs are replaced with typed placeholders.
    * Each count is taken on the text as it stands AFTER the previous
    * redaction, so a string never double-counts (an all-digit email
    * local part is an email, not a phone). Pure per-row regex
    * projection — whole-stage codegen, no shuffle, embarrassingly
    * parallel at any corpus size.
    *
    * The IP replace runs TWICE. Its pattern CONSUMES its boundary
    * characters (RE2 has no lookaround, so zero-width boundaries are
    * not expressible cross-engine), and a consumed trailing boundary
    * is exactly the leading boundary the next IP needed: in
    * "1.2.3.4 5.6.7.8" the first match eats the separating space and
    * the second IP goes unredacted — a silent PII leak on IP lists and
    * log lines. One extra pass is sufficient, not just helpful: pass
    * one can only skip an IP whose leading separator was consumed by
    * the match before it, so skipped IPs are never adjacent to each
    * other, and every one of them sits next to restored boundary text
    * (`$1<IP>$2` puts the separators back) when pass two scans. The
    * per-pass match counts sum to the true IP count the same way. */
  /** The redaction chain (emails → IP kernel → phones) as ONE text
    * Column — the COMPOSITION form: a pipeline that only needs the
    * redacted text projects this directly over its survivors instead
    * of joining [[redactPii]]'s report back on doc_id (r16: that
    * self-join was one of the composed curation pipeline's two
    * removable joins — a whole broadcast stage to re-attach a column
    * that is a pure function of the row). Single-output IP kernel:
    * no count is produced, so nothing is evaluated twice. */
  def redactTextExpr(text: Column): Column =
    regexp_replace(
      GraftFunctions.redactIps(regexp_replace(text, emailPat, "<EMAIL>")),
      phonePat, phoneReplSpark)

  def redactPii(docs: DataFrame): DataFrame = {
    val t1 = regexp_replace(col("text"), emailPat, "<EMAIL>")
    // the IP stage runs as the redactCountIps kernel — ONE
    // non-backtracking byte scan byte-exact to the two regex passes
    // (r15: four ipPat regex passes were ~9 s of the 13.8 s 10x
    // corpus wall; the kernel runs the stage at memory speed), and
    // ONE evaluation yields BOTH the redacted text and the match
    // count (r16, ADVICE: separate redactIps/countIps calls each ran
    // both passes — ~2× the stage's necessary work). The two-stage
    // select keeps the struct a named intermediate: CollapseProject
    // leaves multi-referenced non-cheap aliases alone, so the kernel
    // runs once per row. The oracle SQL keeps the two-pass regex
    // restatement, so DuckDB cross-checks the kernel on every Verify
    // run.
    docs
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit(emailPat)).cast("long").as("n_emails"),
        GraftFunctions.redactCountIps(t1).as("_ip"))
      .select(
        col("doc_id"),
        col("n_emails"),
        col("_ip.n").cast("long").as("n_ips"),
        regexp_count(col("_ip.redacted"), lit(phonePat)).cast("long").as("n_phones"),
        regexp_replace(col("_ip.redacted"), phonePat, phoneReplSpark).as("text_redacted"))
      .orderBy("doc_id")
  }

  /** Gopher-style quality-rule filter (Rae et al. 2021 §A1.1 shape):
    * per-document rule flags plus the conjunction `keep` — token count
    * in range, mean word length in range, punctuation ratio bounded,
    * at least one stopword. Emitting the individual flags (not just
    * the verdict) is what corpus curation needs: rule ablations and
    * drop-reason audits read them directly. Mean word length is
    * derived from the normalized length and token count alone
    * ((chars − separators) / tokens) — no per-token pass. Pure
    * projection; the corpus scan is the entire cost. */
  /** C4-style blocklist document filtering: drop any document whose
    * token set intersects the blocklist (C4 applied the public
    * "bad words" list this way — presence of ANY listed token kills
    * the doc). n_blocked_terms counts DISTINCT blocklisted tokens
    * present, the audit column a curation datasheet wants. Matching
    * is case-insensitive: entries are lowercased here because
    * [[tokens]] normalizes the text side — real C4-style lists carry
    * mixed case, and an uppercase entry would otherwise never match.
    *
    * Scale: the blocklist folds into the plan as a LITERAL array —
    * no broadcast, no join, no shuffle; the whole operator is a
    * scan-local codegen projection (plan-locked alongside
    * [[qualityFilter]]). Real blocklists are O(100s) of terms; if one
    * ever outgrows a literal, switch to [[GraftFunctions.countInSet]]
    * (the stopword machinery) or a broadcast semi-join on tokens. */
  def blocklistFilter(docs: DataFrame, blocklist: Seq[String]): DataFrame = {
    val hits = size(array_intersect(array_distinct(tokens(col("text"))),
      array(blocklist.map(t => lit(t.toLowerCase)): _*))).cast("long")
    docs.select(
      col("doc_id"),
      hits.as("n_blocked_terms"),
      (hits === 0L).cast("long").as("keep"))
      .orderBy("doc_id")
  }
  // predicate form: blocklistKeepExpr (defined with qualityKeepExpr
  // above) — the streaming-safe filter without the report projection

  /** The per-row quality columns shared by the report form
    * ([[qualityFilter]]) and the predicate form ([[qualityKeepExpr]] —
    * usable on STREAMING frames, where the report's orderBy is
    * illegal). Pure scan-local expressions over `text`. */
  private[graft] final case class QualityCols(
      nTok: Column, meanWl: Column, passLength: Column,
      passWordLen: Column, passPunct: Column, passStop: Column) {
    def keep: Column = passLength && passWordLen && passPunct && passStop
  }

  private[graft] def qualityCols(minTokens: Int, maxTokens: Int,
                                 minMeanWordLen: Double, maxMeanWordLen: Double,
                                 maxPunctRatio: Double): QualityCols = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val meanWl = (length(normalize(col("text"))).cast("double") - (nTok - 1)) /
      greatest(nTok, lit(1.0))
    val nChars = greatest(length(col("text")).cast("double"), lit(1.0))
    val punctRatio = GraftFunctions.countPunct(col("text")).cast("double") / nChars
    val nStop = GraftFunctions.countInSet(toks, stopwords)
    QualityCols(nTok, meanWl,
      nTok >= minTokens && nTok <= maxTokens,
      meanWl >= minMeanWordLen && meanWl <= maxMeanWordLen,
      punctRatio <= maxPunctRatio,
      nStop >= 1)
  }

  /** [[qualityFilter]]'s keep decision as one Column — the form a
    * streaming gate or an in-pipeline filter applies without the
    * report projection (no orderBy, so it composes onto streams). */
  def qualityKeepExpr(minTokens: Int = 20, maxTokens: Int = 100000,
                      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                      maxPunctRatio: Double = 0.2): Column =
    qualityCols(minTokens, maxTokens, minMeanWordLen, maxMeanWordLen,
      maxPunctRatio).keep

  /** [[blocklistFilter]]'s keep decision as one Column (see there). */
  def blocklistKeepExpr(blocklist: Seq[String]): Column =
    size(array_intersect(array_distinct(tokens(col("text"))),
      array(blocklist.map(t => lit(t.toLowerCase)): _*))) === 0

  def qualityFilter(docs: DataFrame,
                    minTokens: Int = 20, maxTokens: Int = 100000,
                    minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                    maxPunctRatio: Double = 0.2): DataFrame = {
    val q = qualityCols(minTokens, maxTokens, minMeanWordLen, maxMeanWordLen,
      maxPunctRatio)
    docs.select(
      col("doc_id"),
      q.nTok.cast("long").as("n_tokens"),
      rnd(q.meanWl, 4).as("mean_word_len"),
      q.passLength.cast("long").as("pass_length"),
      q.passWordLen.cast("long").as("pass_word_len"),
      q.passPunct.cast("long").as("pass_punct"),
      q.passStop.cast("long").as("pass_stopword"),
      q.keep.cast("long").as("keep"))
      .orderBy("doc_id")
  }

  /** Within-document repetition ratio (the Gopher duplicate-n-gram
    * fraction, Rae et al. 2021 §A1.1): 1 − distinct/total word
    * 3-grams — boilerplate and degenerate looping text score high and
    * get filtered before training. Distinct counting rides the
    * existing codegen'd [[graft.functions.GraftFunctions.shingleHash64]]
    * kernel (counts match the string form modulo 64-bit collisions
    * within ONE document, ~n²/2^65 ≈ 0). Pure projection, no shuffle. */
  def repetitionRatio(docs: DataFrame, n: Int = 3): DataFrame = {
    val toks = tokens(col("text"))
    val total = greatest(size(toks) - (n - 1), lit(0)).cast("long")
    val dist = size(GraftFunctions.shingleHash64(toks, n)).cast("long")
    docs.select(
      col("doc_id"),
      total.as("n_ngrams"),
      dist.as("n_distinct"),
      when(total > 0,
        rnd(lit(1.0) - dist.cast("double") / total.cast("double"), 4))
        .otherwise(lit(0.0)).as("repetition_ratio"))
      .orderBy("doc_id")
  }

  /** Corpus-wide vocabulary (tokenizer-building wordcount): token →
    * document frequency and total frequency, top `topN` by total count
    * with deterministic ties (count desc, token asc). The canonical
    * map-side-combine aggregation: explode never leaves the scan
    * stage, partial counts combine before the single hash shuffle on
    * the token, and only `topN` rows survive to the driver — at 100 TB
    * this is exactly the wordcount every tokenizer pipeline runs. */
  def vocabTopK(docs: DataFrame, topN: Int = 100): DataFrame =
    docs
      .select(explode(tokens(col("text"))).as("token"), col("doc_id"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("n_total"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(desc("n_total"), asc("token"))
      .limit(topN)

  /** Top-k TF-IDF terms per document — the keyword-extraction /
    * topic-tagging primitive of corpus curation (what does each
    * document talk about, relative to the corpus). Smooth-idf form:
    * score = tf · (ln((N+1)/(df+1)) + 1), the standard add-one-
    * smoothed variant (never zero, never divides by zero) from the
    * IR literature.
    *
    * FP discipline: the score rounds to 6dp via [[rnd]] BEFORE the
    * per-doc rank, and the rank orders by the ROUNDED score (desc,
    * token asc) — engines' `ln` may differ in the last ulp, so
    * ranking raw doubles could disagree where rounded values tie.
    *
    * Scale shape (r17): term frequency is computed INSIDE the scan —
    * the [[graft.functions.GraftFunctions.tokenTf]] kernel emits each document's
    * (token, n_tf) entries in one row-local hash pass, so the exploded
    * corpus token stream never shuffles into a wordcount (the old
    * form's corpus-sized (doc_id, token) exchange, gone). The tf
    * table — already compressed to one row per (doc, term) — lands on
    * a doc_id exchange and PERSISTS (scoped registry), feeding both
    * consumers from one materialization: a token-keyed df rollup
    * (vocabulary-sized; Zipf keeps it orders of magnitude under the
    * corpus; AQE broadcasts the join-back when it fits) and the
    * per-doc rank window, which runs exchange-FREE on the doc_id
    * distribution the cache preserved. The corpus-count scalar N is a
    * count-only parquet scan (row-group metadata, no text decode). No
    * stage carries text past the scan. */
  def tfidfTopK(docs: DataFrame, topK: Int = 5): DataFrame =
    tfidfImpl(docs, topK, (tf, df) => tf.join(df, "token"))

  /** [[tfidfTopK]] for the vocabulary-outgrows-broadcast case — the
    * [[bigramLogprobSalted]] treatment applied to the df join-back.
    * The default form's exchange-free-window property is
    * BROADCAST-DEPENDENT: AQE broadcasts the vocab-sized df rollup
    * (plan-locked in PlanSpec at bench scale so a silent flip is
    * visible), the tf entries never leave their doc_id distribution,
    * and the rank window re-uses it. Past the broadcast threshold the
    * join would shuffle the tf table on the Zipf-skewed `token` key —
    * a hot-token reducer hazard — so THIS form salts it: the tf side
    * takes a deterministic (doc_id, token)-derived salt, the df side
    * replicates across `salts`, the key becomes (token, _salt), and a
    * hot token's rows spread over `salts` tasks. Each tf row still
    * matches exactly its own df row, so the output is BIT-IDENTICAL
    * to [[tfidfTopK]] (TextAnalysisSpec pins it). Costs: `salts`× the
    * vocab-sized df table through the join, and the rank window pays
    * the doc_id exchange the broadcast regime avoided — the expected
    * beyond-broadcast degradation, paid only when chosen. */
  def tfidfTopKSalted(docs: DataFrame, topK: Int = 5,
                      salts: Int = 16): DataFrame =
    tfidfImpl(docs, topK, (tf, df) => {
      val sf = tf.withColumn("_salt",
        pmod(hash(col("doc_id"), col("token")), lit(salts)))
      val rd = df.withColumn("_salt",
        explode(array((0 until salts).map(lit): _*)))
      sf.join(rd, Seq("token", "_salt")).drop("_salt")
    })

  private def tfidfImpl(docs: DataFrame, topK: Int,
      scoreJoin: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // One-pass-two-consumers discipline: plan-level exchange reuse is
    // too fragile here (the first two r17 cuts watched constraint
    // inference and column pruning specialize each branch's subtree
    // below the shared exchange, forfeiting sameResult), so the tf
    // table persists via the scoped registry — the [[Dedup
    // .minhashPairs]] precedent — and the scan + kernel + exchange run
    // exactly once. The repartition puts the cached entries ON the
    // doc_id distribution, so the rank window later needs no exchange
    // of its own (subset rule).
    val tf = Caches.persistTracked(docs
      .select(col("doc_id"),
        explode(GraftFunctions.tokenTf(
          tokens(coalesce(col("text"), lit(""))))).as("e"))
      .select(col("doc_id"), col("e.token").as("token"), col("e.n_tf").as("n_tf"))
      .repartition(col("doc_id")))
    val df = tf.groupBy("token").agg(count(lit(1)).as("n_df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    scoreJoin(tf, df)
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        rnd(col("n_tf") * (log((col("n_docs") + 1) / (col("n_df") + lit(1.0))) + 1), 6))
      .withColumn("term_rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("token"))))
      .filter(col("term_rank") <= topK)
      .select(col("doc_id"), col("token"), col("n_tf"), col("n_df"),
        col("tfidf"), col("term_rank").cast("long").as("term_rank"))
      .orderBy("doc_id", "term_rank")
  }

  /** Per-partition Misra–Gries summary (Misra & Gries 1982, "Finding
    * repeated elements"): k counters; a seen key increments, a new key
    * claims a free counter, and when all k are claimed every counter
    * decrements (zeros evicted). Each surviving estimate undercounts
    * its key's true partition frequency by at most N_p/(k+1) — each
    * decrement event removes k+1 occurrences (k counters + the
    * arriving key) and can happen at most N_p/(k+1) times — and never
    * overcounts. */
  private[graft] def mgSummary(it: Iterator[String], k: Int): Iterator[(String, Long)] = {
    val m = new java.util.HashMap[String, java.lang.Long](k * 2)
    it.foreach { tok =>
      val cur = m.get(tok)
      if (cur != null) m.put(tok, cur + 1L)
      else if (m.size < k) m.put(tok, 1L)
      else {
        val entries = m.entrySet().iterator()
        while (entries.hasNext) {
          val e = entries.next()
          if (e.getValue == 1L) entries.remove()
          else e.setValue(e.getValue - 1L)
        }
      }
    }
    import scala.jdk.CollectionConverters._
    m.entrySet().asScala.map(e => (e.getKey, e.getValue.longValue())).iterator
  }

  /** Heavy hitters over the token stream via distributed Misra–Gries:
    * per-partition k-counter summaries ([[mgSummary]]) merged by one
    * token-keyed sum. The SCALE path for [[vocabTopK]]: the wordcount
    * groupBy's map-side state and shuffle are vocabulary-sized (fine
    * for word tokens, ruinous for URL/hash/ngram-like keys at 100 TB),
    * while this pipeline's state is k counters per partition and its
    * shuffle ≤ k·partitions rows, independent of vocabulary.
    *
    * Merged-bound theorem (sums over partitions): every per-partition
    * undercount is ≤ N_p/(k+1), so the merged estimate satisfies
    * `true − N/(k+1) ≤ est ≤ true`; any token with true frequency
    * > N/(k+1) survives in at least one partition summary. Estimates
    * are partitioning-DEPENDENT (a sketch, like the HLL layer), so the
    * raw operator is spec-pinned and the bound — partitioning-
    * independent — is what [[heavyHittersCheck]] hash-gates.
    *
    * mapPartitions is deliberate (the codec precedent): the k-counter
    * loop is genuinely imperative per-partition state that no
    * aggregate expression composition expresses without carrying the
    * full vocabulary. */
  def heavyHitters(docs: DataFrame, k: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .as[String]
      .mapPartitions(it => mgSummary(it, k))
      .toDF("token", "est")
      .groupBy("token").agg(sum("est").as("est"))
  }

  /** Oracle path for [[heavyHitters]] — the [[graft.operators.Analytics.distinctSketchDailyCheck]]
    * pattern: a sketch's VALUES are impl-defined, its BOUND is a
    * contract the exact-hash gate can compare. Rows = the exact heavy
    * set (tokens with true frequency > 2N/(k+1): deterministic, and
    * guaranteed found — their estimate exceeds N/(k+1) > 0), each
    * with `found` (present in the merged summary) and `est_in_bound`
    * (true − N/(k+1) ≤ est ≤ true). Both booleans hold under ANY
    * partitioning by the merged-bound theorem, so the output is
    * partition-count-independent even though the estimates are not.
    * The exact side is the vocab aggregate — an audit-time cost, not
    * the production path. */
  def heavyHittersCheck(docs: DataFrame, k: Int = 64): DataFrame = {
    val toks = docs
      .select(explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val n     = toks.agg(count(lit(1)).as("n_total"))
    val exact = toks.groupBy("token").agg(count(lit(1)).as("n_exact"))
    val mg    = heavyHitters(docs, k)
    exact.crossJoin(broadcast(n))
      .filter(col("n_exact") > lit(2.0) * col("n_total") / (k + 1))
      .join(mg, Seq("token"), "left")
      .select(col("token"), col("n_exact"),
        col("est").isNotNull.as("found"),
        (col("est").isNotNull && col("est") <= col("n_exact") &&
          col("n_exact") - col("est") <= col("n_total") / lit(k + 1.0))
          .as("est_in_bound"))
      .orderBy("token")
  }

  /** CCNet-style language-model quality proxy with a unigram model:
    * per-document mean negative log2 probability of its tokens, with
    * the unigram distribution trained on THIS corpus in the same job
    * (the wordcount aggregate [[vocabTopK]] already runs). Low
    * mean_nll ⇒ common-word prose; high ⇒ rare-token noise (mojibake,
    * hashes, code dumps) — the standard corpus-filtering axis next to
    * the rule-based [[qualityFilter]]. CCNet proper scores with a
    * 5-gram KenLM; the unigram form keeps the exact same pipeline
    * shape (score → threshold/bucket) while staying SQL-oracle-able.
    *
    * FP discipline: each token's −log2 p rounds to 6dp BEFORE the
    * per-doc DECIMAL sum (engines' log2 differ in the last ulp, and
    * double summation is order-dependent — the [[tokenEntropy]]
    * pattern), then the mean rounds to 4dp.
    *
    * Shape: wordcount aggregate (one token shuffle, map-side
    * combined), token→freq equi-join (token-partitioned both sides;
    * Zipf keeps the vocabulary side orders of magnitude below the
    * corpus — AQE broadcasts it when it fits), scalar total
    * cross-joined broadcast, one per-doc rollup. */
  def unigramLogprob(docs: DataFrame): DataFrame =
    unigramScores(docs).orderBy("doc_id")

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling") — the data
    * SELECTION axis beside the quality filters: per document, the mean
    * unigram log-likelihood RATIO between a TARGET distribution (the
    * domain you want more of — a benchmark, a curated seed corpus) and
    * the raw corpus's own distribution. High importance ⇒ the doc
    * reads like the target; feed the weights to a top-k or weighted
    * sample and the mixture tilts toward the target domain. DSIR
    * proper uses hashed n-gram features; the unigram form keeps the
    * identical select-by-llr pipeline shape while staying
    * SQL-oracle-able (the same simplification [[unigramLogprob]] makes
    * vs CCNet's KenLM).
    *
    * Model: add-one-smoothed unigrams over the UNION vocabulary
    * (V = |union|), p(w) = (c+1)/(N+V) per side — both sides defined
    * on every token either corpus contains, so OOV-in-one-side scores
    * finitely (the q_vocab_drift smoothing).
    *
    * FP discipline: per-token llr = rnd(log2(ratio), 6) where ratio is
    * computed as ONE double quotient of two exact double products
    * ((c_t+1)·(N_r+V)) / ((c_r+1)·(N_t+V)) — integer-valued doubles
    * well under 2⁵³ at gate scale, so the quotient is bit-identical
    * cross-engine and the single log2 differs by ≤1 ulp, far inside
    * the 6dp nudge; per-doc mean via the DECIMAL-sum discipline, 4dp.
    *
    * Shape: one scan-local-tf wordcount per side (the [[docsTf]]
    * kernel entries — r17; the exploded token stream never even
    * materializes), a vocab-sized full-outer merge carrying both
    * counts, scalar totals via the unpartitioned window over the
    * vocab frame (the unigramScores trick — no second corpus scan),
    * then the tf entries join the fused model on `token` (vocab ≪
    * corpus ⇒ AQE broadcasts; the stream never shuffles) and roll up
    * per doc tf-weighted. */
  def importanceWeights(docs: DataFrame, target: DataFrame): DataFrame = {
    // r17: both wordcounts and the score join consume the scan-local
    // tf entries ([[docsTf]] / [[graft.functions.GraftFunctions.tokenTf]]) instead
    // of the exploded token stream — same exactness argument as
    // [[unigramScores]] (DECIMAL tf-weighted sums of the 6dp-rounded
    // llr are bit-identical to the per-occurrence sums).
    val rawTf = docsTf(docs)
    val rawFreq = rawTf.groupBy("token").agg(sum("n_tf").as("c_r"))
    val tgtFreq = docsTf(target)
      .groupBy("token").agg(sum("n_tf").as("c_t"))
    val vocab = rawFreq.join(tgtFreq, Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("c_r"), lit(0L)).as("c_r"),
        coalesce(col("c_t"), lit(0L)).as("c_t"))
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val model = vocab.select(col("token"), col("c_r"), col("c_t"),
      sum("c_r").over(wAll).as("n_r"),
      sum("c_t").over(wAll).as("n_t"),
      count(lit(1)).over(wAll).as("v"))
    val ratio = ((col("c_t") + 1).cast("double") * (col("n_r") + col("v")).cast("double")) /
      ((col("c_r") + 1).cast("double") * (col("n_t") + col("v")).cast("double"))
    rawTf
      .join(model, "token")
      .select(col("doc_id"), col("n_tf"), rnd(log2(ratio), 6).as("llr"))
      .groupBy("doc_id")
      .agg(sum(col("n_tf")).as("n_tokens"),
        rnd(sum(col("llr").cast("decimal(38,6)") * col("n_tf")).cast("double")
          / sum(col("n_tf")), 4).as("importance"))
      .orderBy("doc_id")
  }

  /** [[importanceWeights]] with HASHED-BIGRAM features — the actual
    * Xie et al. 2023 (DSIR) construction: features are adjacent token
    * pairs hashed into a FIXED bucket space (poly64+mix64 — the
    * hashing-trick embedding's hash family, so the oracle reuses its
    * DuckDB mix64 emulation), importance is the per-doc mean
    * bucket-level log-likelihood ratio toward the target with add-one
    * smoothing over all `nBuckets` buckets (the paper smooths over
    * the fixed feature space, not the observed vocabulary — hence V
    * is the CONSTANT B here where the unigram sibling uses the
    * observed union-vocab size). The paper's remaining two steps —
    * unigrams AND bigrams pooled into one shared bucket space, and
    * sampling by exponentiated weight — are CLOSED by [[dsirSelect]]
    * (r18), the end-to-end composition; this form stays as the
    * weight-column REPORT (per-doc mean, log2 — continuous with
    * [[importanceWeights]]) for pipelines that filter or re-weight
    * rather than resample.
    *
    * Scale shape: pair formation and hashing are SCAN-LOCAL
    * ([[graft.functions.GraftFunctions.bigramBuckets]] — text never leaves its row);
    * everything that shuffles is B-BOUNDED (two bucket wordcounts and
    * a ≤B-row model merge — even better than the unigram form's
    * Zipf-bounded vocab, the model side is CONSTANT-size by
    * construction at any corpus scale); the trained model folds into
    * the scoring scan as a DENSE B-slot literal array
    * ([[dsirLlrScaled]] — r21), so scoring is one codegen stage with
    * no join at all, rolled up per doc.
    *
    * FP discipline: same as [[importanceWeights]] — one double
    * quotient of exact integer-valued products, 6dp-rounded log2,
    * exact per-doc sum (scaled-long, see [[dsirLlrScaled]]). */
  def importanceWeightsNg(docs: DataFrame, target: DataFrame,
                          nBuckets: Int = 4096): DataFrame = {
    val llr6 = typedlit(dsirLlrScaled(docs, target, nBuckets,
      GraftFunctions.bigramBuckets(_, nBuckets), log2).toSeq)
    dsirBuckets(docs, GraftFunctions.bigramBuckets(_, nBuckets))
      .select(col("doc_id"),
        element_at(llr6, (col("bucket") + 1).cast("int")).as("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        // (Σs)/1e6 reproduces decSum(llr) bit-for-bit: Σs is the exact
        // decimal sum's unscaled value, its double cast is exact below
        // 2^53 (|s| ≤ ~4.2e7 ⇒ safe to ~2e8 features/doc), and the two
        // correctly-rounded divisions match the Decimal.toDouble +
        // double-divide of the former form
        rnd(sum(col("s")).cast("double") / lit(1e6) / count(lit(1)), 4)
          .as("importance"))
      .orderBy("doc_id")
  }

  /** One side's scan-local (doc_id, bucket) feature stream under the
    * given bucket kernel — shared by the DSIR model build and the
    * scoring scans. Deliberately NOT spread (r21 A/B): the bucket
    * kernel over the whole sf0.1 corpus is ~100-150 ms even on the
    * one-task single-file scan, while the spread's text exchange plus
    * the extra AQE stage materializations cost ~400 ms per consuming
    * job (raw freq 114→525 ms measured) — the same negative result the
    * r20 bigram-stream A/B recorded. A partitioned corpus at scale
    * parallelizes the scan natively. */
  private def dsirBuckets(side: DataFrame,
                          bucketsOf: Column => Column): DataFrame =
    side.select(col("doc_id"),
      explode(bucketsOf(tokens(coalesce(col("text"), lit(""))))).as("bucket"))

  /** The hashed-bucket DSIR model shared by [[importanceWeightsNg]]
    * and [[dsirSelect]] (the two differ only in the bucket kernel and
    * log base): raw and target bucket streams from `bucketsOf`, a
    * full-outer ≤B-row model merge with window totals (no second
    * corpus scan), add-one smoothing over the FIXED `nBuckets` space.
    * Returns (bucket, llr = rnd(logOf(ratio), 6)) — at most `nBuckets`
    * rows. */
  private def dsirModel(docs: DataFrame, target: DataFrame, nBuckets: Int,
                        bucketsOf: Column => Column,
                        logOf: Column => Column): DataFrame = {
    val rawFreq = dsirBuckets(docs, bucketsOf)
      .groupBy("bucket").agg(count(lit(1)).as("c_r"))
    val tgtFreq = dsirBuckets(target, bucketsOf)
      .groupBy("bucket").agg(count(lit(1)).as("c_t"))
    val vocab = rawFreq.join(tgtFreq, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("c_r"), lit(0L)).as("c_r"),
        coalesce(col("c_t"), lit(0L)).as("c_t"))
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val model = vocab.select(col("bucket"), col("c_r"), col("c_t"),
      sum("c_r").over(wAll).as("n_r"),
      sum("c_t").over(wAll).as("n_t"))
    val b = lit(nBuckets.toLong)
    val ratio =
      ((col("c_t") + 1).cast("double") * (col("n_r") + b).cast("double")) /
      ((col("c_r") + 1).cast("double") * (col("n_t") + b).cast("double"))
    model.select(col("bucket"), rnd(logOf(ratio), 6).as("llr"))
  }

  /** The trained DSIR model as a DENSE `nBuckets`-slot array of
    * SCALED-LONG llr values (llr · 10⁶ as an exact integer), collected
    * eagerly when the consuming DataFrame is BUILT (r21 — the
    * bounded-driver-state fold: the model is CONSTANT-size by
    * construction, ≤4096 rows, the same class as the sourceOverlap
    * totals map). The scoring scans then index this array per feature
    * — one codegen array load instead of the former model join, whose
    * planner-estimated build side at bench SF was the CORPUS bucket
    * stream (a broadcast of millions of exploded rows).
    *
    * Exactness: each collected llr double is Spark's
    * round(logOf(ratio)+1e-9, 6) — the nearest double of a 6dp
    * decimal; distinct 6dp decimals of this magnitude (|llr| ≤ ~60)
    * map to distinct doubles, so
    * BigDecimal.valueOf(d).setScale(6, HALF_UP) recovers that decimal
    * exactly and `unscaledValue` is its exact 10⁶-scaled integer. A
    * per-doc LONG sum of scaled values therefore equals the former
    * DECIMAL(38,6) sum's unscaled value — order-independent and exact
    * (|s| ≤ ~4.2e7 keeps any realistic per-doc sum far below 2^53).
    * Unobserved buckets hold 0 and are never read: every bucket a
    * scoring row produces was counted by this model's own rawFreq
    * over the same docs.
    *
    * Construction-time pull (the [[BoundedFold]] laziness break) of
    * at most `nBuckets` rows, collected without a `limit` so it stays
    * one plain job. */
  private def dsirLlrScaled(docs: DataFrame, target: DataFrame,
                            nBuckets: Int, bucketsOf: Column => Column,
                            logOf: Column => Column): Array[Long] = {
    val arr = new Array[Long](nBuckets)
    dsirModel(docs, target, nBuckets, bucketsOf, logOf).collect().foreach {
      r =>
        arr(r.getLong(0).toInt) = java.math.BigDecimal.valueOf(r.getDouble(1))
          .setScale(6, java.math.RoundingMode.HALF_UP)
          .unscaledValue().longValueExact()
    }
    arr
  }

  /** DSIR selection END-TO-END (Xie et al. 2023: pooled hashed
    * unigram+bigram features, importance = target/raw log-likelihood
    * ratio, sample WITHOUT replacement proportional to the
    * exponentiated weight) — the paper-complete composition the two
    * `importanceWeights*` forms feed into, closing the two gaps their
    * scaladocs record: features here POOL unigrams and bigrams into
    * one shared `nBuckets` space ([[graft.functions.GraftFunctions.ngramBuckets]] —
    * the paper's construction; the ng sibling is bigrams-only), and
    * the output is the SELECTED sample, not the weight column.
    *
    * Sampling: Efraimidis–Spirakis A-ES with weight w = exp(log_w),
    * run ENTIRELY IN LOG SPACE — minimizing the A-ES key −ln(u)/w is
    * equivalent to minimizing ln(−ln(u)) − ln(w) (ln is monotone on
    * the positive keys), and ln(w) = log_w is already in hand, so exp
    * IS NEVER EVALUATED: no overflow for any weight, no clipping
    * needed, and no cross-engine exp discrepancy for the oracle to
    * absorb (this is also Gumbel-top-k: −key = Gumbel(0,1) + log_w).
    * u is the exact dyadic (salt+0.5)/2³² of [[weightedSampleByTokens]];
    * ln(−ln(u)) rounds to 9dp (ln is the non-IEEE-exact step, the
    * established discipline) and the subtraction of two rounded
    * doubles is IEEE-exact, so the key is bit-identical cross-engine.
    *
    * log_w is the per-doc SUM of 6dp-rounded per-feature natural-log
    * ratios (the paper's log importance weight; the weights forms
    * report the per-feature MEAN as a score), DECIMAL-summed and
    * 4dp-rounded. Natural log, not log2: the weight is exp(log_w) by
    * definition, and log2 would add a ln2 product for nothing. A
    * document with NO features (empty after tokenization) has no
    * defined importance and is excluded — one surviving token
    * suffices (its unigram feature), unlike the bigram-only form.
    *
    * Scale shape: identical to [[importanceWeightsNg]] — feature
    * formation and hashing scan-local, every shuffle B-bounded (two
    * bucket wordcounts, a ≤B-row model merge), the trained model folds
    * into the scoring scan as a dense B-slot literal array
    * ([[dsirLlrScaled]] — no scoring join), one per-doc rollup; then
    * selection is orderBy+limit = TakeOrderedAndProject (per-partition
    * top-k, one k-row merge — no global sort, no rank window, no
    * unbounded driver state). */
  def dsirSelect(docs: DataFrame, target: DataFrame, k: Int,
                 nBuckets: Int = 4096): DataFrame = {
    val llr6 = typedlit(dsirLlrScaled(docs, target, nBuckets,
      GraftFunctions.ngramBuckets(_, nBuckets), log).toSeq)
    val weights = dsirBuckets(docs, GraftFunctions.ngramBuckets(_, nBuckets))
      .select(col("doc_id"),
        element_at(llr6, (col("bucket") + 1).cast("int")).as("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_features"),
        // exactness of (Σs)/1e6 vs decSum(llr): see [[dsirLlrScaled]]
        rnd(sum(col("s")).cast("double") / lit(1e6), 4).as("log_w"))
    val u = (sampleSalt.cast("double") + lit(0.5)) / lit(4294967296.0)
    weights
      .select(col("doc_id"), col("n_features"), col("log_w"),
        (rnd(log(-log(u)), 9) - col("log_w")).as("sample_key"))
      .orderBy("sample_key", "doc_id")
      .limit(k)
  }

  /** [[unigramLogprob]] without the presentation sort. The public form
    * ends in a global orderBy — a range-partitioning exchange PLUS the
    * range partitioner's separate sampling job over the whole scoring
    * plan. A composer that immediately re-partitions by its own key
    * ([[bucketsByQuality]] → bucket window) pays that twice-computed
    * sort for nothing, so internal consumers take this form. */
  private[graft] def unigramScores(docs: DataFrame): DataFrame = {
    // Deliberately the EXPLODED-token form, not the tokenTf-kernel
    // form (r17 measured both): with the raw token stream the
    // planner's build-side choice broadcasts whichever side is small
    // — at gate SF that is the DOC side, which leaves the scoring
    // join AND the per-doc rollup exchange-free (the rollup's
    // clustered distribution is trivially satisfied), two whole AQE
    // stages cheaper than the kernel variant's forced doc_id
    // exchange; at corpus scale runtime sizes flip the broadcast to
    // the Zipf-bounded vocab side and the stream still never
    // shuffles. The kernel variant's compressed stream saved less
    // than its extra exchange cost at every measured point (its
    // per-doc tf-weighting discipline lives on in
    // [[importanceWeights]], where it measured faster).
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val freq = toks.groupBy("token").agg(count(lit(1)).as("n_tok"))
    // Σn_tok via an unpartitioned window over the VOCAB-sized freq
    // frame (one task, Zipf-bounded rows): a scalar `freq.agg(sum)`
    // cross-joined back is a SEPARATE DAG that re-runs the whole
    // explode + vocab aggregation — a second corpus scan for one
    // number. Long sums are exact, so the window total is identical.
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val freqTot = freq.select(col("token"), col("n_tok"),
      sum("n_tok").over(wAll).as("n_total"))
    toks
      .join(freqTot, "token")
      .select(col("doc_id"),
        rnd(-log2(col("n_tok").cast("double") / col("n_total")), 6).as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        rnd(decSum(col("nll")) / count(lit(1)), 4).as("mean_nll"))
  }

  /** The corpus as scan-local (doc_id, token, n_tf) term-frequency
    * entries ([[graft.functions.GraftFunctions.tokenTf]]) — empty tokens skipped,
    * null text contributes nothing, exactly the rows of
    * explode → filter('' ) → groupBy(doc_id, token) → count without
    * the corpus-sized exchange that shape pays. */
  private[graft] def docsTf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(GraftFunctions.tokenTf(
          tokens(coalesce(col("text"), lit(""))))).as("e"))
      .select(col("doc_id"), col("e.token").as("token"), col("e.n_tf").as("n_tf"))

  /** Bigram language model with Stupid Backoff — one rung up from
    * [[unigramLogprob]] toward CCNet's 5-gram KenLM scoring, and the
    * form that exercises the REAL deployment shape: the model is
    * trained on `train` (a held-out/reference slice), then scores
    * EVERY document of `docs`, so out-of-vocabulary tokens and unseen
    * bigrams actually occur (a same-corpus unigram can never back
    * off). Score of token w_i:
    *   - position 0: p_uni(w_i)
    *   - seen bigram: c2(w_{i-1}, w_i) / c1(w_{i-1})
    *   - else (unseen bigram or unseen prev): alpha · p_uni(w_i)
    * with Laplace unigrams p_uni(w) = (c1(w)+1)/(N+V) so OOV tokens
    * score finitely. Output per doc: token count, mean −log2 score
    * (the filtering axis), and the backoff-position count (a model-
    * coverage diagnostic).
    *
    * FP discipline: per-token nll rounds to 6dp before the DECIMAL
    * per-doc sum; probabilities divide as doubles from exact longs on
    * both engines (same per-row inputs ⇒ bit-identical quotients).
    *
    * Shape: model build is two map-side-combined aggregates over the
    * train slice (token shuffle + bigram shuffle) plus two vocab-sized
    * build-time steps (the bigram-denominator join and the per-token
    * prev→p2 map fold) and a 1-row scalar broadcast; scoring is the
    * corpus token stream crossed over ONE fused model table (c1 +
    * bigram map share the `token` key), then one per-doc rollup — the
    * second score join of the unfused form moved the same rows over
    * the same key and cost a whole extra broadcast-probe stage.
    * Bigram pairs are formed IN-SCAN from the retained token array
    * (element_at on the posexploded position) — no self-join, no
    * window.
    *
    * ZIPF-SKEW STORY (the score join's `token` key is power-law
    * distributed — "the" owns percents of the stream): the model is
    * VOCAB-sized, orders of magnitude below the corpus, so the
    * intended plan is a broadcast — the token stream then never
    * shuffles and skew is moot (PlanSpec pins the score join as
    * BroadcastHashJoin at bench scale). Only when a vocabulary
    * outgrows broadcast (rare even at 100 TB: a 10M-row bigram table
    * is ~300 MB) would the join shuffle on the skewed token key and
    * hot-spot; [[bigramLogprobSalted]] is that case's form — the
    * [[Salting.saltedJoin]] composition with the model side
    * replicated across salts, pinned bit-identical to this
    * operator. */
  def bigramLogprob(docs: DataFrame, train: DataFrame,
                    alpha: Double = 0.4,
                    maxFanout: Int = 1 << 18): DataFrame =
    bigramImpl(docs, train, alpha, maxFanout,
      (fact, build, keys) => fact.join(build, keys, "left"))

  /** [[bigramLogprob]] for the vocabulary-outgrows-broadcast case:
    * the fused score join runs SALTED — the token stream (fact) side gets a
    * deterministic (doc_id, pos)-derived salt, the model (build) side
    * is replicated across all `salts` values, and the join key becomes
    * (key…, salt), so a Zipf-hot token's rows spread over `salts`
    * tasks instead of pinning one reducer ([[Salting]]'s composition
    * generalized to composite keys and left joins; each fact row still
    * matches at most its own key row, so the output is BIT-IDENTICAL
    * to [[bigramLogprob]] — TextAnalysisSpec pins it). Costs `salts`×
    * replication of the vocab-sized tables — only pay it when the
    * broadcast form is off the table. */
  def bigramLogprobSalted(docs: DataFrame, train: DataFrame,
                          alpha: Double = 0.4, salts: Int = 16,
                          maxFanout: Int = 1 << 18): DataFrame =
    bigramImpl(docs, train, alpha, maxFanout, (fact, build, keys) => {
      val sf = fact.withColumn("_salt",
        pmod(hash(col("doc_id"), col("pos")), lit(salts)))
      val rb = build.withColumn("_salt",
        explode(array((0 until salts).map(lit): _*)))
      sf.join(rb, keys :+ "_salt", "left").drop("_salt")
    })

  /** Shared bigram-scoring plan. `maxFanout` guards the FUSED model's
    * per-row size: the per-token prev→p2 map holds one entry per
    * observed predecessor, and a Zipf-hot token in a 10M-type
    * vocabulary can reach ~10⁶ entries — tens of MB in ONE row, a
    * broadcast-build / single-row memory hazard long before the model
    * TABLE outgrows broadcast. The guard is TIERED: the vocabulary
    * size (computed in the same eager job as the model scalars, whose
    * values fold into the plan as literals) upper-bounds every map
    * row's fanout, so corpora with vocab ≤ maxFanout skip the exact
    * probe entirely; only past that does a counts-only max-fanout
    * aggregate over the cached bigram table decide. Above the bound
    * the plan falls back to the UNFUSED two-join form (freq1 on token,
    * freq2 on (prev, token)) whose build rows stay scalar-sized. Both
    * shapes produce bit-identical output (p2 values are computed once
    * in freq2 either way — TextAnalysisSpec pins the switch).
    *
    * NOTE eager construction: the fanout probe executes the train-side
    * aggregates when the DataFrame is BUILT (vocab-sized job over the
    * cached bigram table; the corpus side stays lazy). */
  private def bigramImpl(docs: DataFrame, train: DataFrame, alpha: Double,
      maxFanout: Int,
      scoreJoin: (DataFrame, DataFrame, Seq[String]) => DataFrame): DataFrame = {
    // NOTE r20: deliberately NOT spreadToCores'd on either side —
    // both-sides spread benched 2.3x worse (the gate-SF plan
    // broadcasts the scored stream's build side, and a pre-exchange
    // inside that build lineage defeats it), and even a train-side-
    // only spread profiled 3-4x worse end-to-end (the RR exchange
    // lands inside the freq1/freq2 cache lineage that every model
    // consumer re-plans)
    def stream(d: DataFrame): DataFrame = d
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(col("toks")).as(Seq("pos", "token")))
      .filter(col("token") =!= "")
      .select(col("doc_id"), col("pos"), col("token"),
        when(col("pos") > 0, element_at(col("toks"), col("pos"))).as("prev"))

    val trainToks = stream(train)
    // vocab-sized, reused by three consumers (fused model, bigram
    // denominator, scalar totals) — persist via the scoped registry so
    // the train slice scans once, not four times
    val freq1 = Caches.persistTracked(
      trainToks.groupBy("token").agg(count(lit(1)).as("c1")))
    // ONE eager train-side job yields the model scalars AND the tier-1
    // fanout bound, filling the freq1 cache the final job reuses
    // either way. The scalars fold into the plan as LITERALS (the
    // sourceOverlap-totals pattern), dropping the former
    // crossJoin(broadcast(scalars)) subplan from the scored stream —
    // the guard's probe job pays for itself. A null sum (empty train)
    // stays a null literal so the degenerate-input scores are
    // unchanged.
    val sr = freq1.agg(sum("c1"), count(lit(1))).collect()(0)
    val nTrainLit = if (sr.isNullAt(0)) lit(null).cast("long")
                    else lit(sr.getLong(0))
    val vTrain = sr.getLong(1)
    // bigram table with its denominator folded in at build time
    // (vocab-sized join, not corpus-sized): p2 = c2 / c1(prev)
    val freq2 = Caches.persistTracked(
      trainToks.filter(col("prev").isNotNull)
        .groupBy("prev", "token").agg(count(lit(1)).as("c2"))
        .join(freq1.select(col("token").as("prev"), col("c1").as("c1_prev")), "prev")
        .select(col("prev"), col("token"),
          (col("c2").cast("double") / col("c1_prev")).as("p2")))
    // per-row size guard for the fused map (see scaladoc), TIERED so
    // the exact probe never runs where it cannot trigger: a token's
    // prev-fanout is at most the vocabulary size, so vTrain <=
    // maxFanout already proves every map row is small without
    // touching freq2 (the common case until a corpus's vocabulary
    // itself passes the bound — the exact probe's extra vocab-sized
    // aggregate was ~30% of this operator's wall time at bench
    // scale). Past the bound, the exact counts-only probe decides —
    // no collect_list is ever built above the bound, which is the
    // hazard the guard exists to prevent.
    val fanoutSafe = vTrain <= maxFanout || {
      val f = Option(freq2.groupBy("token").agg(count(lit(1)).as("f"))
        .agg(max(col("f"))).collect()(0).get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      f <= maxFanout
    }

    // (scored token stream, the p2 lookup expression valid on it)
    val (fact, p2) =
      if (fanoutSafe) {
        // FUSED model: freq1 and freq2 both key the score lookup on
        // `token`, so fold the bigram rows into a per-token prev→p2 map
        // and ship ONE model table — the corpus token stream crosses ONE
        // join instead of two (the second join's whole broadcast-probe
        // stage was pure per-stage floor: same key, same rows). The fold
        // itself is a vocab-sized aggregate, paid once at build time.
        val model = freq1.join(
          freq2.groupBy("token")
            .agg(map_from_entries(collect_list(struct(col("prev"), col("p2"))))
              .as("p2m")),
          Seq("token"), "left")
        // try_element_at: missing key / null map / null prev (pos 0)
        // all yield NULL instead of an ANSI lookup error
        (scoreJoin(stream(docs), model, Seq("token")),
          try_element_at(col("p2m"), col("prev")))
      } else {
        // UNFUSED fallback: two scalar-row joins; a null prev (pos 0)
        // simply finds no (prev, token) match, so p2 is NULL there —
        // the same contract the fused lookup produces
        (scoreJoin(scoreJoin(stream(docs), freq1, Seq("token")),
            freq2, Seq("prev", "token")),
          col("p2"))
      }

    val puni = (coalesce(col("c1"), lit(0L)) + lit(1L)).cast("double") /
      (nTrainLit + lit(vTrain))
    val score = when(col("pos") === 0, puni)
      .when(p2.isNotNull, p2)
      .otherwise(lit(alpha) * puni)
    fact
      .select(col("doc_id"), col("pos"), p2.as("p2_"),
        rnd(-log2(score), 6).as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        rnd(decSum(col("nll")) / count(lit(1)), 4).as("mean_nll"),
        sum(when(col("pos") > 0 && col("p2_").isNull, 1L).otherwise(0L))
          .as("n_backoff"))
      .orderBy("doc_id")
  }

  /** Deterministic per-source quota sample — the data-mixing primitive
    * (cap every source at `perSource` documents, chosen pseudo-randomly
    * but reproducibly): rank within source by a Knuth-multiplicative
    * salt of doc_id and keep the first `perSource`. The salt is plain
    * BIGINT arithmetic so any engine reproduces the exact same sample.
    *
    * Scale: source cardinality is typically far below executor count,
    * so a whole-corpus rank window on `source` hot-spots at 100 TB.
    * This runs THRESHOLD REFINEMENT instead: [[sampleSaltBounds]]
    * computes, per source, an exact salt upper bound guaranteed to
    * cover the quota (a histogram prefilter — see there for the
    * guarantee); the bound broadcasts back and only the ~quota
    * surviving rows enter the rank window. The output is BIT-IDENTICAL
    * to the plain whole-corpus rank ([[stratifiedSampleExact]], pinned
    * by TextAnalysisSpec): every kept row's salt is strictly below the
    * bound, every discarded row's salt is ≥ the bound and therefore
    * sorts after ALL kept rows in the (salt, doc_id) order, so the
    * survivors' row numbers equal their whole-corpus row numbers. */
  def stratifiedSample(docs: DataFrame, perSource: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("sample_key"), col("doc_id"))
    // sources whose row count never reaches the quota have no bound
    // row (the cumulative count never crosses it) — keep all theirs.
    // Bounds collected and folded as a literal map (r21, see
    // [[saltBoundFilter]]): source-cardinality rows, and the former
    // broadcast build was a whole extra job in front of the window.
    docs
      .select(col("doc_id"), col("source"), sampleSalt.as("sample_key"))
      .filter(saltBoundFilter(sampleSaltBounds(docs, perSource), col("source")))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= perSource)
      .select(col("doc_id"), col("source"), col("sample_rank"))
      .orderBy("source", "sample_rank")
  }

  /** The reference form of [[stratifiedSample]]: one rank window over
    * the whole corpus. Kept as the oracle for the refined path's
    * bit-identity test; prefer [[stratifiedSample]], whose window input
    * is bounded by ~quota rows per source instead of the corpus. */
  private[graft] def stratifiedSampleExact(docs: DataFrame, perSource: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("sample_key"), col("doc_id"))
    docs
      .select(col("doc_id"), col("source"), sampleSalt.as("sample_key"))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= perSource)
      .select(col("doc_id"), col("source"), col("sample_rank"))
      .orderBy("source", "sample_rank")
  }

  /** Quality-bucketed data mixing (the DCLM/quality-curriculum
    * primitive): score every document with the corpus-unigram LM
    * ([[unigramLogprob]]), cut the score axis at `thresholds` into
    * `thresholds.size + 1` buckets (bucket = number of thresholds at
    * or below the doc's mean_nll — bucket 0 is the most-fluent band),
    * and keep a deterministic per-bucket quota — upweight fluent
    * prose, cap noise, without discarding the axis entirely.
    * Thresholds are explicit (from a prior quantile job or a fixed
    * spec): an operator that derives them from the same corpus would
    * weld the mixing policy to the data.
    *
    * Bucketing reads the ROUNDED (4dp) mean_nll, which is already
    * cross-engine exact; the quota rank reuses the Knuth-salt order
    * ([[sampleSalt]]), so the kept set is reproducible anywhere.
    *
    * Scale: bucket cardinality is tiny (quotas.size), so the rank
    * window runs threshold-refined exactly like [[stratifiedSample]]
    * — [[saltBoundsByKey]] bounds each bucket's window input to
    * ~quota rows; the scoring side is [[unigramLogprob]]'s shape. */
  def mixByQuality(docs: DataFrame, thresholds: Seq[Double],
                   quotas: Seq[Int]): DataFrame = {
    require(quotas.size == thresholds.size + 1,
      s"need ${thresholds.size + 1} quotas for ${thresholds.size} thresholds")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy(col("sample_key"), col("doc_id"))
    // (doc_id, mean_nll, bucket) — id-sized, but the LM scoring behind
    // it is a full token-shuffle pass; both the salt-bounds branch and
    // the rank branch consume it, so persist via the scoped registry
    // (one scoring pass, not two)
    val bucketed = Caches.persistTracked(bucketsByQuality(docs, thresholds))
    val quotaOfKey = element_at(
      array(quotas.map(q => lit(q.toLong)): _*), (col("bucket") + 1).cast("int"))
    // A/B-REJECTED bounds fold (r21): collecting the ≤quotas.size-row
    // bounds frame eagerly and folding it in as a literal map
    // ([[saltBoundFilter]], the stratifiedSample form) measured FLAT
    // here (0.994 → 0.993 s at sf0.1) — the lazy broadcast build and
    // the rank job overlap on the shared scoring cache, and the fold
    // serialized that concurrency for exactly the work it saved. The
    // join form stays; stratifiedSample (no cache, two parquet scans)
    // is where the fold pays.
    bucketed
      .select(col("doc_id"), col("bucket"), col("mean_nll"), sampleSalt.as("sample_key"))
      .join(broadcast(saltBoundsByKey(bucketed, "bucket", quotaOfKey)),
        Seq("bucket"), "left")
      .filter(col("salt_bound").isNull || col("sample_key") < col("salt_bound"))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= quotaOfKey)
      .select(col("doc_id"), col("bucket"), col("mean_nll"), col("sample_rank"))
      .orderBy("bucket", "sample_rank")
  }

  /** The refined rank window's prefilter with the (key, salt_bound)
    * rows collected and folded in as a LITERAL map
    * ([[BoundedFold.literalMap]]) — replaces the former
    * `left join broadcast(bounds)` + `salt_bound.isNull || key <
    * salt_bound` pair with the exact same semantics: a key absent
    * from the map (an under-quota stratum, or a null key the join
    * could never match) keeps all its rows via try_element_at's null,
    * identical to the join's null salt_bound. Bounds cardinality is
    * the stratum-key cardinality (quota buckets / sources / langs) —
    * the same bounded-literal class as the sourceOverlap totals. */
  private def saltBoundFilter(bounds: DataFrame, key: Column): Column = {
    val rows = bounds.collect()
    if (rows.forall(_.isNullAt(0))) lit(true)
    else {
      val m = BoundedFold.literalMap(rows.map(r => r.get(0) -> r.get(1)),
        bounds.schema(0).dataType, bounds.schema(1).dataType)
      try_element_at(m, key).isNull || col("sample_key") < try_element_at(m, key)
    }
  }

  /** (doc_id, bucket, mean_nll) under `thresholds` — [[mixByQuality]]'s
    * scoring+bucketing stage, shared with its whole-window test oracle. */
  private[graft] def bucketsByQuality(docs: DataFrame,
                                      thresholds: Seq[Double]): DataFrame =
    unigramScores(docs).select(col("doc_id"), col("mean_nll"),
      thresholds.foldLeft(lit(0L))((acc, t) =>
        acc + when(col("mean_nll") >= lit(t), 1L).otherwise(0L)).as("bucket"))

  /** Whole-window reference form of [[mixByQuality]] (no salt-bound
    * prefilter); the refined path must be bit-identical. */
  private[graft] def mixByQualityExact(docs: DataFrame, thresholds: Seq[Double],
                                       quotas: Seq[Int]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy(col("sample_key"), col("doc_id"))
    val quotaOfKey = element_at(
      array(quotas.map(q => lit(q.toLong)): _*), (col("bucket") + 1).cast("int"))
    bucketsByQuality(docs, thresholds)
      .select(col("doc_id"), col("bucket"), col("mean_nll"), sampleSalt.as("sample_key"))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= quotaOfKey)
      .select(col("doc_id"), col("bucket"), col("mean_nll"), col("sample_rank"))
      .orderBy("bucket", "sample_rank")
  }

  /** Deterministic weighted sampling WITHOUT replacement
    * (Efraimidis–Spirakis A-ES): each row draws its uniform from the
    * Knuth salt — u = (salt + 0.5)/2^32, an exact dyadic double,
    * identical in every engine — and keeps key = −ln(u)/w; the k
    * smallest keys are the sample. Selection probability rises with
    * w (exactly proportional at k=1); equal weights degenerate to the
    * plain salt order ([[stratifiedSample]]'s). Weight here is the
    * whitespace token count: length-proportional sampling is UNIFORM
    * OVER TOKENS — the budget-correct way to subsample a training
    * corpus (sampling doc-uniform underweights long documents' share
    * of the token budget).
    *
    * Keys round to 9dp before ranking: ln is the one step that is not
    * IEEE-exact across engines (last-ulp differences); at 9dp both
    * engines agree and the doc_id tiebreak absorbs any rounding
    * collision.
    *
    * Scale: orderBy+limit plans TakeOrderedAndProject — per-partition
    * top-k then one k-row merge. No global sort, no rank window, no
    * driver state; the scan stays whole-stage-codegen. */
  def weightedSampleByTokens(docs: DataFrame, k: Int): DataFrame = {
    val w = size(tokens(col("text"))).cast("double")
    val u = (sampleSalt.cast("double") + lit(0.5)) / lit(4294967296.0)
    docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        rnd(-log(u) / w, 9).as("sample_key"))
      .orderBy("sample_key", "doc_id")
      .limit(k)
  }

  /** Temperature-flattened source mixing (the mT5/XLM-R multilingual
    * sampling primitive): per-key quotas proportional to n_key^alpha
    * scaled to a total `budget` — alpha=1 keeps the corpus mix,
    * alpha=0 gives uniform keys, alpha=0.5 (temperature 2) upweights
    * low-resource keys without drowning high-resource ones. Quota =
    * min(n_key, max(1, floor(budget * w_key / Σw))); the kept rows are
    * the deterministic Knuth-salt rank prefix ([[stratifiedSample]]'s
    * order), so the sample is reproducible anywhere.
    *
    * Cross-engine exactness: alpha=0.5 computes the weight as
    * `sqrt` — IEEE-correctly-rounded in both JVM and C engines, unlike
    * `pow` — then 6dp-rounds into DECIMAL(38,6) so the weight SUM is
    * exact; the quota division's operands are therefore bit-identical
    * everywhere and the floor boundary is deterministic. Non-0.5
    * alphas use `pow` (last-ulp cross-engine risk at the floor edge —
    * fine for production, not for a hash oracle).
    *
    * Scale: weights/quotas are key-cardinality-sized (broadcast);
    * the rank window runs threshold-refined ([[saltBoundsCarried]])
    * so each key's window reads ~quota rows, never the corpus. */
  def mixTemperature(docs: DataFrame, keyCol: String, budget: Long,
                     alpha: Double = 0.5): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col("sample_key"), col("doc_id"))
    // id-sized (doc_id, key, salt, quota), but the count aggregate +
    // quota join behind it scan the corpus; both the salt-bounds branch
    // and the rank branch consume it, so persist via the scoped
    // registry — one quota-assignment pass, not two (mixByQuality's
    // `bucketed` pattern)
    val base = Caches.persistTracked(withTemperatureQuota(docs, keyCol, budget, alpha))
    // A/B-REJECTED bounds fold (r21): the literal-map form
    // ([[saltBoundFilter]]) REGRESSED this operator (0.42 → 0.52 s at
    // sf0.1) — the eager bounds collect serialized the cache fill in
    // front of the rank job, where the lazy broadcast build overlaps
    // it. See mixByQuality's matching note; the fold pays only on the
    // cache-less stratifiedSample shape.
    base
      .join(broadcast(saltBoundsCarried(base, keyCol)), Seq(keyCol), "left")
      .filter(col("salt_bound").isNull || col("sample_key") < col("salt_bound"))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= col("quota"))
      .select(col("doc_id"), col(keyCol), col("sample_rank"))
      .orderBy(keyCol, "sample_rank")
  }

  /** (doc_id, keyCol, sample_key, quota): [[mixTemperature]]'s quota
    * assignment, shared with its whole-window test oracle. */
  private[graft] def withTemperatureQuota(docs: DataFrame, keyCol: String,
                                          budget: Long, alpha: Double): DataFrame = {
    val wExpr = if (alpha == 0.5) sqrt(col("n_key").cast("double"))
                else org.apache.spark.sql.functions.pow(col("n_key").cast("double"), lit(alpha))
    val weights = docs.groupBy(keyCol).agg(count(lit(1)).as("n_key"))
      .select(col(keyCol), col("n_key"),
        rnd(wExpr, 6).cast("decimal(38,6)").as("w"))
    // Σw via an unpartitioned window over the KEY-sized weights frame
    // (one task, key-cardinality rows — languages/sources, not docs):
    // a separate scalar aggregate cross-joined back would instantiate
    // the `weights` subplan twice and re-run the corpus count
    // aggregate behind it. DECIMAL sum is order-independent, so the
    // window total is bit-identical to the aggregate's.
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val quotas = weights
      .select(col(keyCol), col("n_key"), col("w"), sum("w").over(wAll).as("w_tot"))
      .select(col(keyCol),
        least(col("n_key"), greatest(lit(1L),
          floor((col("w") * lit(budget)).cast("double") /
            col("w_tot").cast("double")).cast("long"))).as("quota"))
    docs.select(col("doc_id"), col(keyCol), sampleSalt.as("sample_key"))
      .join(broadcast(quotas), Seq(keyCol))
  }

  /** Whole-window reference form of [[mixTemperature]] (no salt-bound
    * prefilter); the refined path must be bit-identical. */
  private[graft] def mixTemperatureExact(docs: DataFrame, keyCol: String,
                                         budget: Long, alpha: Double = 0.5): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col("sample_key"), col("doc_id"))
    withTemperatureQuota(docs, keyCol, budget, alpha)
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= col("quota"))
      .select(col("doc_id"), col(keyCol), col("sample_rank"))
      .orderBy(keyCol, "sample_rank")
  }

  // 2^32 salt space split into 2^12 histogram buckets (shift by 20):
  // the refinement's survivor slack is one bucket's occupancy,
  // n_source/4096 rows in expectation for the uniform salt
  private val saltBucketShift = 20

  /** Per-source EXACT salt upper bound for [[stratifiedSample]]'s
    * prefilter: bucket the salt space into 4096 equal ranges, count
    * rows per (source, bucket), cumulate in bucket order, and take the
    * first bucket where the running count reaches the quota; the
    * bound is that bucket's exclusive upper edge. Because the
    * cumulative count up to the bound's bucket is ≥ quota, the rows
    * below the bound are a guaranteed SUPERSET of the quota's top
    * ranks — exact, unlike an approx-quantile prefilter, whose rank
    * error can silently drop a row the full rank would have kept.
    * Cost: one aggregate over (source, bucket) pairs — the window that
    * cumulates runs on ≤4096 rows per source, never on the corpus. */
  private[graft] def sampleSaltBounds(docs: DataFrame, perSource: Int): DataFrame =
    saltBoundsByKey(docs, "source", lit(perSource))

  /** [[sampleSaltBounds]] generalized to any stratum key and a
    * PER-KEY quota expression (evaluated against the key column):
    * same exact-superset guarantee. The (key, salt_bucket) counts
    * collapse to a per-key sorted histogram array (≤4096 elements) in
    * one regroup, and [[histBound]] scans it in-row — versus the
    * previous cumulate-window + filter + regroup, one exchange and
    * one sort fewer on a path that sits in front of every refined
    * rank window. */
  private[graft] def saltBoundsByKey(rows: DataFrame, keyCol: String,
                                     quota: Column): DataFrame =
    rows
      .select(col(keyCol), shiftright(sampleSalt, saltBucketShift).as("salt_bucket"))
      .groupBy(keyCol, "salt_bucket").agg(count(lit(1)).as("c"))
      .groupBy(keyCol)
      .agg(array_sort(collect_list(struct(col("salt_bucket"), col("c")))).as("hist"))
      .select(col(keyCol), histBound(col("hist"), quota).as("salt_bound"))
      .filter(col("salt_bound").isNotNull)

  /** [[saltBoundsByKey]] for rows that CARRY their quota (a `quota`
    * column joined in from a data-derived quota table, constant per
    * key — [[mixTemperature]]'s shape, where the quota is a function
    * of per-key counts, not of the key value): same exact-superset
    * guarantee, same one-regroup histogram scan. Expects the
    * `sample_key` salt precomputed on the rows. */
  private[graft] def saltBoundsCarried(rows: DataFrame, keyCol: String): DataFrame =
    rows
      .select(col(keyCol), col("quota"),
        shiftright(col("sample_key"), saltBucketShift).as("salt_bucket"))
      .groupBy(keyCol, "salt_bucket")
      .agg(count(lit(1)).as("c"), first("quota").as("q"))
      .groupBy(keyCol)
      .agg(array_sort(collect_list(struct(col("salt_bucket"), col("c")))).as("hist"),
        first("q").as("q"))
      .select(col(keyCol), histBound(col("hist"), col("q")).as("salt_bound"))
      .filter(col("salt_bound").isNotNull)

  /** Scan a sorted (salt_bucket, c) histogram for the first bucket
    * whose cumulative count reaches `quota` and return that bucket's
    * exclusive upper salt edge — null when the key's total never
    * reaches the quota (the caller's left join then keeps all of that
    * key's rows, the under-quota-source case). Collapsing the
    * cumulate into an in-row fold is exact: the fold visits buckets
    * in the same ascending order the window cumulated in. */
  private def histBound(hist: Column, quota: Column): Column = {
    val scanned = aggregate(hist,
      struct(lit(0L).as("cum"), lit(null).cast("long").as("bound")),
      (acc, e) => struct(
        (acc("cum") + e("c")).as("cum"),
        coalesce(acc("bound"),
          when(acc("cum") + e("c") >= quota, e("salt_bucket"))).as("bound")),
      acc => acc("bound"))
    (scanned + 1) * lit(1L << saltBucketShift)
  }

  /** The Knuth-multiplicative sample salt of [[stratifiedSample]].
    *
    * doc_id is folded pmod 2^31 BEFORE the Knuth multiply so the
    * product stays below 2^63 for any BIGINT id (2^31 · 2654435761 ≈
    * 5.7e18 < Long.Max) — no overflow wrap in non-ANSI Spark, no
    * error in ANSI/DuckDB, same bits everywhere. pmod (not %): for a
    * NEGATIVE id Scala/Spark/DuckDB `%` keeps the dividend's sign
    * while Python's `%` is non-negative — pmod makes all four engines
    * agree without a precondition on id sign. Ids congruent mod 2^31
    * share a salt; the (salt, doc_id) order is still total. */
  private[graft] def sampleSalt: Column =
    pmod(pmod(col("doc_id"), lit(2147483648L)) * lit(2654435761L), lit(4294967296L))
}
