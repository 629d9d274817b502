package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions._
import graft.operators.TextAnalysis
import graft.sources.Tables

class TextAnalysisSpec extends AnyFunSuite {
  import TestSession._

  private lazy val docs = Tables.documents(spark, sfDir)

  /** Reference implementation of the poly64 kernel, independent of
    * TextHash, to pin the expression's semantics. */
  private def refPoly64(s: String): Long =
    s.getBytes("UTF-8").foldLeft(1125899906842597L)((h, b) => h * 31L + (b & 0xff))

  test("fingerprint64 matches the reference kernel (codegen path)") {
    import spark.implicits._
    val in = Seq("hello world", "", "a", "spark graft engine").toDF("text")
    val out = in.select(col("text"), fingerprint64(col("text")).as("fp")).collect()
    out.foreach(r => assert(r.getLong(1) == refPoly64(r.getString(0))))
  }

  test("fingerprint is deterministic and distinct on the corpus") {
    val fps = TextAnalysis.fingerprint(docs).collect()
    assert(fps.length == docs.count())
    assert(fps.map(_.getLong(1)).distinct.length == fps.length) // no collisions here
    val again = TextAnalysis.fingerprint(docs).collect()
    assert(fps.map(_.getLong(1)).sameElements(again.map(_.getLong(1))))
  }

  test("simhash64: identical token sets hash identically, near sets are near") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog"
    val b = "the quick brown fox jumps over the lazy cat" // 1 token differs
    val c = "completely different words entirely unrelated content here"
    val df = Seq(a, b, c).toDF("text")
      .select(simhash64(split(col("text"), " ")).as("sh"))
    val Array(ha, hb, hc) = df.collect().map(_.getLong(0))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(ha, hb) < ham(ha, hc))
    assert(ham(ha, ha) == 0)
  }

  test("minhashSig: jaccard estimate tracks true jaccard") {
    import spark.implicits._
    val a = (1 to 40).map(i => s"tok$i")
    val b = (11 to 50).map(i => s"tok$i") // true J = 30/50 = 0.6
    val df = Seq(a, b).toDF("toks").select(minhashSig(col("toks"), 128).as("sig"))
    val Array(sa, sb) = df.collect().map(_.getSeq[Long](0))
    val est = sa.zip(sb).count { case (x, y) => x == y } / 128.0
    assert(math.abs(est - 0.6) < 0.15, s"estimate $est too far from 0.6")
  }

  test("langId output is a valid language or und") {
    val out = TextAnalysis.langId(docs).collect()
    val valid = Set("de", "en", "es", "fr", "und")
    out.foreach(r => assert(valid(r.getAs[String]("lang_pred"))))
  }

  test("packSequences fills packs contiguously within each source") {
    val out = TextAnalysis.packSequences(docs, budget = 512L).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("start_offset") >= 0L)
      assert(r.getAs[Long]("start_offset") < 512L)
    }
    // pack ids are monotone non-decreasing in doc order per source
    out.groupBy(_.getAs[String]("source")).values.foreach { rows =>
      val packs = rows.sortBy(_.getAs[Long]("doc_id")).map(_.getAs[Long]("pack_id"))
      assert(packs.sameElements(packs.sorted))
      assert(packs.head == 0L)
    }
  }

  test("packSequencesBpe packs in real BPE tokens with consistent assignment") {
    // the BPE-budgeted form must satisfy the same pack algebra as the
    // ws form, with counts in MODEL tokens: recompute the running sum
    // from tokenCountBpe independently and demand identical
    // assignment — pack = cum_before div budget, offset = cum_before
    // % budget. A drifting counter (ws vs bpe mixup) or a broken
    // window order fails this reconciliation.
    import spark.implicits._
    val budget = 512L
    // the shipped merge table was trained on THIS corpus, so its
    // frequent words merge all the way back to one token and ws==bpe
    // on natural rows — plant documents with out-of-vocabulary words
    // (no applicable merges → one token per CHARACTER) so the two
    // budgets measurably diverge and the test can tell the counters
    // apart
    val oov = (1 to 40).map(i => s"zqxj${i}kvw").mkString(" ")
    val crafted = Seq(
      (100001L, "web", oov),
      (100002L, "web", s"the quick $oov brown fox"))
      .toDF("doc_id", "source", "text")
    val packDocs = docs.select("doc_id", "source", "text").union(crafted)
    val out = TextAnalysis.packSequencesBpe(packDocs, budget = budget).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("pack_id"),
        r.getAs[Long]("start_offset")))
    assert(out.nonEmpty)
    val bpe = TextAnalysis.tokenCountBpe(packDocs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_bpe_tokens")).toMap
    out.groupBy(_._2).values.foreach { rows =>
      var cum = 0L
      rows.sortBy(_._1).foreach { case (id, _, n, pack, off) =>
        assert(n == bpe(id), s"doc $id: packed $n tokens, tokenCountBpe says ${bpe(id)}")
        assert(pack == cum / budget, s"doc $id pack_id")
        assert(off == cum % budget, s"doc $id start_offset")
        cum += n
      }
    }
    // the two budgets genuinely differ where merges don't cover the
    // words — if they coincided everywhere this test would pin nothing
    val ws = TextAnalysis.packSequences(packDocs, budget = budget).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    Seq(100001L, 100002L).foreach { id =>
      assert(bpe(id) > ws(id),
        s"planted OOV doc $id: bpe ${bpe(id)} must exceed ws ${ws(id)}")
    }
    // and the planted divergence shifted downstream assignment: every
    // doc after the first planted one in its source would get a
    // different pack under the ws budget (cum diverges by >budget)
    assert(bpe(100001L) - ws(100001L) > 0)
  }

  test("unigramLogprob scores rare-token docs above common-word docs") {
    import spark.implicits._
    // 10 docs of common words + one doc of corpus-unique tokens: the
    // rare doc must carry the highest mean NLL, and a hand-computable
    // two-token corpus pins the arithmetic
    val common = (1 to 10).map(i => (i.toLong, "the cat sat on the mat"))
    val rare = Seq((11L, "zqx9 vbnm7 wyk3"))
    val out = TextAnalysis.unigramLogprob((common ++ rare).toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("mean_nll")))).toMap
    assert(out.size == 11)
    val rareNll = out(11L)._2
    assert(common.forall { case (id, _) => out(id)._2 < rareNll },
      s"rare-token doc must score highest: $out")
    assert(out(11L)._1 == 3L)
    // hand-check: corpus = 63 tokens; each rare token has p = 1/63 ->
    // nll = log2(63); mean over 3 identical values = log2(63)
    val expected = math.round((math.log(63.0) / math.log(2.0) + 1e-9) * 1e6) / 1e6
    assert(math.abs(rareNll - (math.round((expected + 1e-9) * 1e4) / 1e4)) < 1e-9,
      s"rare doc mean_nll $rareNll != hand-computed $expected")
  }

  test("bigramLogprob: seen bigram / backoff / OOV arms hand-checked") {
    import spark.implicits._
    // train: freq1 = {a:2, b:1, c:1}, N=4, V=3; bigrams (a,b),(a,c) each
    // once -> p2 = 1/2. Scored docs hit each arm exactly once.
    val train = Seq((100L, "a b"), (101L, "a c")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "a b"), // pos0 unigram 3/7, pos1 seen bigram 1/2
      (2L, "b a"), // pos1 bigram (b,a) unseen -> 0.4 * 3/7
      (3L, "z z")  // OOV: pos0 1/7, pos1 prev unseen -> 0.4 * 1/7
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogprob(score, train).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("mean_nll"),
          r.getAs[Long]("n_backoff")))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    def nll6(p: Double): Double =
      math.round((-math.log(p) / math.log(2.0) + 1e-9) * 1e6) / 1e6
    def mean4(xs: Seq[Double]): Double =
      math.round((xs.sum / xs.size + 1e-9) * 1e4) / 1e4
    assert(out(1L) == ((2L, mean4(Seq(nll6(3.0 / 7), nll6(0.5))), 0L)))
    assert(out(2L) == ((2L, mean4(Seq(nll6(1.0 / 7 * 2), nll6(0.4 * (3.0 / 7)))), 1L)))
    assert(out(3L) == ((2L, mean4(Seq(nll6(1.0 / 7), nll6(0.4 * (1.0 / 7)))), 1L)))
  }

  test("bigramLogprobSalted is bit-identical to bigramLogprob") {
    // the vocab-outgrows-broadcast form: salted fact side, model side
    // replicated across salts — same rows, same doubles, to the bit
    val docs = Tables.documents(spark, sfDir)
    val train = docs.filter(col("doc_id") % 5 === 0)
    val score = docs.filter(col("doc_id") % 5 =!= 0)
    val plain = TextAnalysis.bigramLogprob(score, train).collect()
    graft.operators.Caches.releaseAll()
    val salted = TextAnalysis.bigramLogprobSalted(score, train, salts = 7).collect()
    graft.operators.Caches.releaseAll()
    assert(plain.length == salted.length && plain.length > 0)
    plain.zip(salted).foreach { case (a, b) =>
      assert(a == b, s"salted drift: $a vs $b")
    }
  }

  test("tfidfTopKSalted is bit-identical to tfidfTopK") {
    // the vocab-outgrows-broadcast form of the df join-back (r18):
    // salted tf side, df rollup replicated across salts — same rows,
    // same doubles, to the bit
    val docs = Tables.documents(spark, sfDir)
    val plain = TextAnalysis.tfidfTopK(docs).collect()
    graft.operators.Caches.releaseAll()
    val salted = TextAnalysis.tfidfTopKSalted(docs, salts = 7).collect()
    graft.operators.Caches.releaseAll()
    assert(plain.length == salted.length && plain.length > 0)
    plain.zip(salted).foreach { case (a, b) =>
      assert(a == b, s"salted drift: $a vs $b")
    }
  }

  test("bigram fanout guard: unfused fallback is bit-identical to fused") {
    // synthetic Zipf-hot token: "x" follows 7 distinct predecessors, so
    // its fused prev→p2 map row has fanout 7 — a maxFanout below that
    // must flip the plan to the unfused two-join form, and the flip
    // must be output-invisible to the bit
    import spark.implicits._
    val train = Seq((100L, "a x b x c x d x"), (101L, "e x f x g x")).toDF("doc_id", "text")
    val score = Seq((1L, "a x b"), (2L, "q x e x"), (3L, "x x x")).toDF("doc_id", "text")
    val fused = TextAnalysis.bigramLogprob(score, train, maxFanout = Int.MaxValue)
    val fusedRows = fused.collect()
    graft.operators.Caches.releaseAll()
    val guarded = TextAnalysis.bigramLogprob(score, train, maxFanout = 3)
    val guardedRows = guarded.collect()
    graft.operators.Caches.releaseAll()
    // the guard actually switched shapes (fused builds the prev→p2 map)
    val fusedPlan = fused.queryExecution.optimizedPlan.toString
    val guardedPlan = guarded.queryExecution.optimizedPlan.toString
    assert(fusedPlan.contains("map_from_entries"), "fused form lost its map build")
    assert(!guardedPlan.contains("map_from_entries"),
      "guard did not fall back to the unfused form")
    assert(fusedRows.length == guardedRows.length && fusedRows.length == 3)
    fusedRows.zip(guardedRows).foreach { case (a, b) =>
      assert(a == b, s"guard-switch drift: $a vs $b")
    }
  }

  test("bigram fanout guard: salted form honors the same bound") {
    import spark.implicits._
    val train = Seq((100L, "a x b x c x d x"), (101L, "e x f x g x")).toDF("doc_id", "text")
    val score = Seq((1L, "a x b"), (2L, "q x e x")).toDF("doc_id", "text")
    val plain = TextAnalysis.bigramLogprob(score, train, maxFanout = 3).collect()
    graft.operators.Caches.releaseAll()
    val salted = TextAnalysis.bigramLogprobSalted(score, train, salts = 5,
      maxFanout = 3).collect()
    graft.operators.Caches.releaseAll()
    plain.zip(salted).foreach { case (a, b) =>
      assert(a == b, s"salted unfused drift: $a vs $b")
    }
  }

  test("textQuality n_chars matches the table's n_chars column") {
    val joined = TextAnalysis.textQuality(docs)
      .join(docs.select("doc_id", "n_chars"), "doc_id")
      .filter(col("n_chars_m") =!= col("n_chars"))
    assert(joined.count() == 0)
  }

  test("dedupKeepBest keeps the highest-quality copy of identical content") {
    import spark.implicits._
    // same normalized content, different raw forms: the extra internal
    // whitespace lengthens the raw text, lowering punct_ratio and
    // raising the quality score — that copy must win over the lower id
    val corpus = Seq(
      (1L, "the quick, brown fox!"),
      (2L, "the   quick,   brown   fox!"), // same normalized text, higher quality
      (3L, "an unrelated document entirely"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.dedupKeepBest(corpus).collect()
    assert(out.length == 2) // 2 distinct contents
    val dupGroup = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(dupGroup.getAs[Long]("keep_id") == 2L, "higher-quality copy must be kept")
    val single = out.find(_.getAs[Long]("n_copies") == 1).get
    assert(single.getAs[Long]("keep_id") == 3L)
    // scores agree with textQuality's per-doc output
    val q = TextAnalysis.textQuality(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score")).toMap
    assert(dupGroup.getAs[Double]("best_quality") == q(2L))
  }

  test("redactPii replaces emails, IPs, and phones with typed placeholders") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "contact alice.smith+dev@example.co.uk or call +1 (555) 123-4567 now"),
      (2L, "server at 192.168.0.1 responded; backup at 10.0.0.255"),
      (3L, "digits-only local part 12345678@mail.com must count as email not phone"),
      (4L, "nothing sensitive here at all"),
      (5L, "ips 1.2.3.4 5.6.7.8 9.10.11.12 end"),   // single-space adjacency
      (6L, "list 1.2.3.4,5.6.7.8"))                 // single-comma adjacency
      .toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_emails") == 1 && out(1L).getAs[Long]("n_phones") == 1)
    assert(out(1L).getAs[String]("text_redacted") ==
      "contact <EMAIL> or call <PHONE> now")
    assert(out(2L).getAs[Long]("n_ips") == 2)
    assert(out(2L).getAs[String]("text_redacted") ==
      "server at <IP> responded; backup at <IP>")
    // counted after the email redaction: no double count as phone
    assert(out(3L).getAs[Long]("n_emails") == 1 && out(3L).getAs[Long]("n_phones") == 0)
    assert(out(4L).getAs[String]("text_redacted") == "nothing sensitive here at all")
    // adjacent IPs: the boundary-consuming pattern needs the second
    // pass to catch the ones whose leading separator was eaten
    assert(out(5L).getAs[Long]("n_ips") == 3)
    assert(out(5L).getAs[String]("text_redacted") == "ips <IP> <IP> <IP> end")
    assert(out(6L).getAs[Long]("n_ips") == 2)
    assert(out(6L).getAs[String]("text_redacted") == "list <IP>,<IP>")
  }

  test("redactPii does not rewrite dates, ISBNs, or numeric ranges as phones") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "released 2020-01-02 and revised 1999-12-31"),
      (2L, "ISBN 978-0-306-40615-7 covers pages 100 - 200 300"),
      (3L, "call (555) 123-4567 or +44 20 7946 0958 today"),
      (4L, "ring +44 20 7946 0958 1999 was a good year"),
      (5L, "fax +1 (555) 123-4567 1999 was a good year"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // clean numeric text passes through untouched
    assert(out(1L).getAs[Long]("n_phones") == 0)
    assert(out(1L).getAs[String]("text_redacted") ==
      "released 2020-01-02 and revised 1999-12-31")
    assert(out(2L).getAs[Long]("n_phones") == 0)
    // real phone shapes (separator-grouped NANP, +international) still match
    assert(out(3L).getAs[Long]("n_phones") == 2)
    assert(out(3L).getAs[String]("text_redacted") == "call <PHONE> or <PHONE> today")
    // the bounded international branch does not swallow a trailing
    // unrelated digit group into the <PHONE> (ADVICE r3): the greedy
    // match backtracks to the last digit on a word boundary within
    // the {6,16} run
    assert(out(4L).getAs[Long]("n_phones") == 1)
    assert(out(4L).getAs[String]("text_redacted") ==
      "ring <PHONE> 1999 was a good year")
    assert(out(5L).getAs[Long]("n_phones") == 1)
    assert(out(5L).getAs[String]("text_redacted") ==
      "fax <PHONE> 1999 was a good year")
  }

  test("qualityFilter emits per-rule flags and their conjunction") {
    import spark.implicits._
    val longText = (1 to 30).map(i => s"word$i").mkString(" ") + " the end"
    val corpus = Seq(
      (1L, longText),                          // passes everything
      (2L, "too short the end"),               // fails length
      (3L, (1 to 30).map(_ => "somewhatlongishtokens").mkString(" ")), // no stopword, long words
      (4L, (1 to 30).map(_ => "w !!!! ????").mkString(" ")))           // punct-heavy
      .toDF("doc_id", "text")
    val out = TextAnalysis.qualityFilter(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("keep") == 1)
    assert(out(2L).getAs[Long]("pass_length") == 0 && out(2L).getAs[Long]("keep") == 0)
    assert(out(3L).getAs[Long]("pass_stopword") == 0)
    assert(out(3L).getAs[Long]("pass_word_len") == 0) // 21-char tokens
    assert(out(4L).getAs[Long]("pass_punct") == 0 && out(4L).getAs[Long]("keep") == 0)
    // flags are consistent with the conjunction on every row
    out.values.foreach { r =>
      val conj = Seq("pass_length", "pass_word_len", "pass_punct", "pass_stopword")
        .map(r.getAs[Long]).min
      assert(r.getAs[Long]("keep") == conj)
    }
  }

  test("repetitionRatio flags looping text and passes varied text") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),   // 6 identical 3-grams
      (2L, "one two three four five six seven eight"),    // all distinct
      (3L, "ab cd"))                                      // < 3 tokens
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionRatio(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_ngrams") == 6 && out(1L).getAs[Long]("n_distinct") == 1)
    assert(out(1L).getAs[Double]("repetition_ratio") == 0.8333)
    assert(out(2L).getAs[Double]("repetition_ratio") == 0.0)
    assert(out(3L).getAs[Long]("n_ngrams") == 0 && out(3L).getAs[Double]("repetition_ratio") == 0.0)
  }

  test("vocabTopK counts total and document frequency with deterministic ties") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta alpha"),
      (2L, "beta gamma"),
      (3L, "alpha")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabTopK(corpus, topN = 2).collect()
    assert(out.map(_.getAs[String]("token")).toSeq == Seq("alpha", "beta"))
    assert(out(0).getAs[Long]("n_total") == 3 && out(0).getAs[Long]("n_docs") == 2)
    assert(out(1).getAs[Long]("n_total") == 2 && out(1).getAs[Long]("n_docs") == 2)
  }

  test("stratifiedSample caps every source at the quota, deterministically") {
    val out = TextAnalysis.stratifiedSample(docs, perSource = 7).collect()
    val bySource = out.groupBy(_.getAs[String]("source"))
    assert(bySource.values.forall(_.length == 7)) // 25 docs per source in testdata
    bySource.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("sample_rank")).sorted.sameElements(1L to 7L))
    }
    // deterministic: the same call selects the same documents
    val again = TextAnalysis.stratifiedSample(docs, perSource = 7).collect()
    assert(out.map(_.getAs[Long]("doc_id")).sorted
      .sameElements(again.map(_.getAs[Long]("doc_id")).sorted))
    // and it is a genuine subsample, not a prefix: some doc_id ordering
    // inversion exists within a source (salt reorders)
    val someSource = bySource.values.head.sortBy(_.getAs[Long]("sample_rank"))
    val ids = someSource.map(_.getAs[Long]("doc_id"))
    assert(ids.sorted.toSeq != ids.toSeq || bySource.values.exists { rows =>
      val seq = rows.sortBy(_.getAs[Long]("sample_rank")).map(_.getAs[Long]("doc_id"))
      seq.sorted.toSeq != seq.toSeq
    })
  }

  test("stratifiedSample keeps every row of a null source over quota") {
    import spark.implicits._
    // 5 null-source rows and 5 'a' rows at quota 2: both strata reach
    // the quota, so the bounds carry a null-key row. The literal fold
    // must drop it (a map literal rejects a null key) and, as the join
    // it replaced did, keep the null stratum's rows for the rank window
    val d = (1L to 10L).map(i => (i, if (i <= 5) null else "a")).toDF("doc_id", "source")
    val refined = TextAnalysis.stratifiedSample(d, 2)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSeq.sorted
    val exact = TextAnalysis.stratifiedSampleExact(d, 2)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSeq.sorted
    assert(refined == exact)
    assert(refined.count(_._2.isEmpty) == 2 && refined.count(_._2.contains("a")) == 2)
  }

  test("threshold-refined sample is bit-identical to the whole-corpus rank") {
    import org.apache.spark.sql.functions.col
    // both test tables, both a tiny and an over-quota perSource: the
    // refined prefilter must reproduce the exact rank EXACTLY
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01"); quota <- Seq(1, 7, 100)) {
      val d = graft.sources.Tables.documents(spark, dir)
      val refined = TextAnalysis.stratifiedSample(d, quota)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
      val exact = TextAnalysis.stratifiedSampleExact(d, quota)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
      assert(refined == exact, s"refined != exact at $dir quota=$quota")
    }
  }

  test("mixByQuality: per-bucket quotas enforced, refined path bit-identical to exact") {
    import org.apache.spark.sql.functions.col
    val thresholds = Seq(4.90, 4.92)
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val d = graft.sources.Tables.documents(spark, dir)
      val quotas = Seq(5, 20, 7)
      val out = TextAnalysis.mixByQuality(d, thresholds, quotas).collect()
      val byBucket = out.groupBy(_.getAs[Long]("bucket"))
      byBucket.foreach { case (b, rows) =>
        assert(rows.length <= quotas(b.toInt), s"bucket $b over quota at $dir")
        // ranks are contiguous from 1 (a dropped row would leave a gap)
        assert(rows.map(_.getAs[Long]("sample_rank")).sorted.toSeq ==
          (1L to rows.length).toSeq, s"rank gap in bucket $b at $dir")
        // every member belongs to its bucket by score
        rows.foreach { r =>
          val nll = r.getAs[Double]("mean_nll")
          assert(thresholds.count(nll >= _) == b, s"doc in wrong bucket at $dir")
        }
      }
      val refined = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq.sorted
      val exact = TextAnalysis.mixByQualityExact(d, thresholds, quotas).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq.sorted
      assert(refined == exact, s"refined != exact at $dir")
    }
  }

  test("mixTemperature: quota law sqrt(n)-proportional capped at n, refined ≡ exact") {
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val d = graft.sources.Tables.documents(spark, dir)
      val out = TextAnalysis.mixTemperature(d, "lang", 600L).collect()
      // independently recompute the quota law from raw counts
      val counts = d.groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val wts = counts.map { case (k, n) =>
        k -> BigDecimal(math.sqrt(n.toDouble) + 1e-9)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP) }
      val wTot = wts.values.sum
      val expectQuota = counts.map { case (k, n) =>
        k -> math.min(n,
          math.max(1L, math.floor((wts(k) * 600).toDouble / wTot.toDouble).toLong)) }
      val byLang = out.groupBy(_.getAs[String]("lang"))
      expectQuota.foreach { case (k, q) =>
        assert(byLang(k).length.toLong == q, s"lang $k quota at $dir")
        assert(byLang(k).map(_.getAs[Long]("sample_rank")).sorted.toSeq ==
          (1L to q).toSeq, s"rank gap for $k at $dir")
      }
      // the skewed axis actually flattens: en keeps a SMALLER fraction
      // of its docs than any low-resource lang (until the cap binds)
      val enFrac = expectQuota("en").toDouble / counts("en")
      counts.keys.filter(_ != "en").foreach { k =>
        assert(expectQuota(k).toDouble / counts(k) >= enFrac, s"$k not upweighted") }
      val refined = out.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
      val exact = TextAnalysis.mixTemperatureExact(d, "lang", 600L).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
      assert(refined == exact, s"refined != exact at $dir")
    }
  }

  test("lengthHistogram: integer bucket edges, shares sum to 1, totals reconcile") {
    import spark.implicits._
    val d = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")),   // 10 -> bucket 0
      (2L, (1 to 16).map(i => s"w$i").mkString(" ")),   // 16 -> bucket 1 (>= edge)
      (3L, (1 to 63).map(i => s"w$i").mkString(" ")),   // 63 -> bucket 1
      (4L, (1 to 300).map(i => s"w$i").mkString(" ")))  // 300 -> bucket 3
      .toDF("doc_id", "text")
    val out = TextAnalysis.lengthHistogram(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(0L -> ((1L, 10L)), 1L -> ((2L, 79L)), 3L -> ((1L, 300L))),
      s"bucket edges drifted: $out")
    // corpus-level: shares sum to 1, totals reconcile with token_count
    val h = TextAnalysis.lengthHistogram(docs).collect()
    val share = h.map(_.getAs[Double]("token_share")).sum
    assert(math.abs(share - 1.0) < 1e-4, s"shares must sum to ~1: $share")
    val nTok = TextAnalysis.tokenCount(docs)
      .agg(sum("n_ws_tokens")).collect()(0).getLong(0)
    assert(h.map(_.getAs[Long]("n_tokens")).sum == nTok, "token totals reconcile")
  }

  test("corpusDiff: added/removed/changed/unchanged; formatting-only edits are unchanged") {
    import spark.implicits._
    val old = Seq(
      (1L, "alpha beta gamma"),
      (2L, "delta epsilon"),
      (3L, "kept exactly"),
      (4L, "Spacing   And Case"))
      .toDF("doc_id", "text")
    val nw = Seq(
      (1L, "alpha beta gamma REVISED"), // changed
      (3L, "kept exactly"),             // unchanged
      (4L, "spacing and case"),         // normalization-equal -> unchanged
      (5L, "brand new doc"))            // added; 2L removed
      .toDF("doc_id", "text")
    val out = TextAnalysis.corpusDiff(old, nw).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "changed", 2L -> "removed", 3L -> "unchanged",
      4L -> "unchanged", 5L -> "added"), s"diff drifted: $out")
  }

  test("blocklistFilter: any listed token kills the doc; distinct-term count is the audit") {
    import spark.implicits._
    val d = Seq(
      (1L, "clean text about joins and scans"),
      (2L, "this mentions dup once"),
      (3L, "dup and stall and dup again"),  // repeated terms count once each
      (4L, "DUP uppercase still matches"),  // normalize lowercases
      (5L, "duplicate is a different token"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.blocklistFilter(d, Seq("dup", "stall")).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((0L, 1L)))
    assert(out(2L) == ((1L, 0L)))
    assert(out(3L) == ((2L, 0L)), s"distinct blocked terms: ${out(3L)}")
    assert(out(4L) == ((1L, 0L)))
    assert(out(5L) == ((0L, 1L)), "substring must not match — token-level filter")
    // corpus spot check: the flagged fraction is the 'dup' doc share
    val sf = TextAnalysis.blocklistFilter(docs, Seq("dup", "stall"))
      .filter(col("keep") === 0).count()
    assert(sf > 0 && sf < docs.count() / 10, s"implausible flag rate: $sf")
    // LIST-side case: real C4-style lists carry mixed case, but the
    // text side is normalized to lowercase — an uppercase entry must
    // match all the same (entries are lowercased at plan build)
    val up = TextAnalysis.blocklistFilter(d, Seq("DUP", "Stall")).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(up == out.map { case (k, v) => k -> v._2 },
      s"uppercase blocklist entries must match identically: $up")
    val kept = d.filter(TextAnalysis.blocklistKeepExpr(Seq("DUP"))).collect()
      .map(_.getLong(0)).toSet
    assert(kept == Set(1L, 5L), s"keep-expr must lowercase entries too: $kept")
  }

  test("mixTemperature: tiny keys keep >= 1 row (floor lift), alpha=1 is proportional") {
    import spark.implicits._
    val d = ((1L to 200L).map(i => (i, "big", s"document number $i")) ++
      Seq((1000L, "tiny", "alpha"), (1001L, "tiny", "beta"))).toDF("doc_id", "src", "text")
    // budget 10 at alpha=0.5: tiny's proportional share floors to 0 ->
    // the greatest(1, .) arm must lift it to one kept row
    val byKey = TextAnalysis.mixTemperature(d, "src", 10L).collect()
      .groupBy(_.getString(1)).map { case (k, rs) => k -> rs.length }
    assert(byKey("tiny") == 1, s"floor lift: $byKey")
    assert(byKey("big") == 9, s"big quota floor(10*14.14/15.56): $byKey")
    // alpha=1 (pow arm): quotas proportional to raw counts
    val p = TextAnalysis.mixTemperature(d, "src", 101L, alpha = 1.0).collect()
      .groupBy(_.getString(1)).map { case (k, rs) => k -> rs.length }
    assert(p("big") == 100 && p("tiny") == 1, s"alpha=1 proportional: $p")
  }

  test("weightedSampleByTokens: A-ES keys match an independent recomputation, top-k exact") {
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val d = graft.sources.Tables.documents(spark, dir)
      val out = TextAnalysis.weightedSampleByTokens(d, 50).collect()
        .map(r => (r.getAs[Double]("sample_key"), r.getAs[Long]("doc_id"),
          r.getAs[Long]("n_tokens"))).toSeq
      val expect = d.select("doc_id", "text").collect().map { r =>
        val id = r.getLong(0)
        val n = r.getString(1).toLowerCase.trim
          .replaceAll("\\s+", " ").split(" ", -1).length
        val salt = (((id % 2147483648L) + 2147483648L) % 2147483648L) *
          2654435761L % 4294967296L
        val key = BigDecimal(-math.log((salt + 0.5) / 4294967296.0) / n + 1e-9)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        (key, id, n.toLong)
      }.sortBy(t => (t._1, t._2)).take(50).toSeq
      assert(out == expect, s"A-ES top-50 mismatch at $dir")
      // long docs are upweighted: mean tokens in the sample exceeds
      // the corpus mean (length-proportional selection)
      val sampleMean = out.map(_._3).sum.toDouble / out.size
      val allMean = d.select(avg(size(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " "))))
        .collect()(0).getDouble(0)
      assert(sampleMean > allMean, s"sample not length-biased: $sampleMean <= $allMean at $dir")
    }
  }

  test("refinement prefilter bounds the rank window input to ~quota rows per source") {
    import org.apache.spark.sql.functions.col
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
    val quota = 5
    val bounds = TextAnalysis.sampleSaltBounds(d, quota)
    val survivors = d
      .select(col("source"), TextAnalysis.sampleSalt.as("sample_key"))
      .join(bounds, Seq("source"))
      .filter(col("sample_key") < col("salt_bound"))
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = d.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    survivors.foreach { case (src, n) =>
      assert(n >= math.min(quota.toLong, totals(src)),
        s"$src: prefilter must keep at least the quota")
      // slack is one histogram bucket's occupancy — far below the
      // source's total row count (this is the 100 TB win)
      assert(n < totals(src) / 2,
        s"$src: prefilter kept $n of ${totals(src)} rows — not selective")
    }
  }

  test("sample salt is non-negative and engine-independent for negative doc ids") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // pmod semantics (ADVICE r3): Scala/Spark/DuckDB `%` keeps the
    // dividend's sign, Python `%` does not — the salt uses pmod so all
    // engines agree on negative ids. floorMod IS pmod, the ground truth.
    val ids = Seq(-1L, -2147483647L, -2147483649L, -9999999999L, 0L, 42L)
    val got = ids.toDF("doc_id")
      .select(col("doc_id"), TextAnalysis.sampleSalt.as("salt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      val expected =
        Math.floorMod(Math.floorMod(id, 2147483648L) * 2654435761L, 4294967296L)
      assert(got(id) == expected && got(id) >= 0, s"id $id: got ${got(id)}")
    }
  }

  test("stripMarkup strips tags, decodes entities, collapses whitespace") {
    import spark.implicits._
    val rows = Seq(
      (1L, "<p>Hello <b>world</b></p>"),
      (2L, "a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39; x&nbsp;y"),
      // escaped-escape: '&amp;lt;' decodes to the LITERAL '&lt;', not '<'
      (3L, "literal &amp;lt; stays"),
      (4L, "no markup at all"),
      (5L, "<div class=\"x\">spaced   out</div>  text"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.stripMarkup(rows).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((4L, 0L, "Hello world")))
    assert(out(2L) == ((0L, 8L, "a & b <tag> \"q\" 's' x y")))
    assert(out(3L) == ((0L, 1L, "literal &lt; stays")))
    assert(out(4L) == ((0L, 0L, "no markup at all")))
    assert(out(5L) == ((2L, 0L, "spaced out text")))
  }

  test("dedupIncremental keeps only batch content absent from the corpus") {
    import spark.implicits._
    val corpus = Seq((10L, "alpha beta"), (11L, "gamma delta")).toDF("doc_id", "text")
    val batch = Seq(
      (20L, "ALPHA   beta"),   // dup of corpus 10 after normalization
      (21L, "epsilon zeta"),   // new
      (22L, "Epsilon Zeta"),   // within-batch dup of 21
      (23L, "eta theta"))      // new
      .toDF("doc_id", "text")
    val out = TextAnalysis.dedupIncremental(batch, corpus).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    // two surviving contents: (21, 2 copies) and (23, 1 copy)
    assert(out.toSeq == Seq((21L, 2L), (23L, 1L)))
  }

  test("dedupLines removes frequent lines, keeps order, preserves blanks") {
    import spark.implicits._
    val boiler = "accept cookies to continue"
    val docs = Seq(
      (1L, s"$boiler\nunique one\n\nkeep me"),
      (2L, s"$boiler\nunique two"),
      (3L, s"unique three\n$boiler"),
      (4L, boiler),                       // all-boilerplate doc -> empty
      (5L, "shared twice\nsolo"),
      (6L, "shared twice\nother solo"))   // df=2 <= maxDocFreq: kept
      .toDF("doc_id", "text")
    val out = TextAnalysis.dedupLines(docs, maxDocFreq = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((4L, 1L, "unique one\n\nkeep me"))) // blank line survives
    assert(out(2L) == ((2L, 1L, "unique two")))
    assert(out(3L) == ((2L, 1L, "unique three")))
    assert(out(4L) == ((1L, 1L, "")))
    assert(out(5L) == ((2L, 0L, "shared twice\nsolo")))
    assert(out(6L) == ((2L, 0L, "shared twice\nother solo")))
  }

  test("dedupSpans cuts cross-doc repeated windows, merges overlaps, keeps unique text") {
    import spark.implicits._
    val docs = Seq(
      // 4-token boilerplate shared by docs 1 and 2 (different contexts)
      (1L, "aaa bbb ccc ddd x1 y1 z1"),
      (2L, "q2 aaa bbb ccc ddd w2"),
      // 6-token shared run: windows at 0,1,2 must merge into ONE [0,6) cut
      (3L, "s1 s2 s3 s4 s5 s6 tail3"),
      (4L, "s1 s2 s3 s4 s5 s6 tail4"),
      // within-doc repetition only: df=1, never cut
      (5L, "m1 m2 m3 m4 m1 m2 m3 m4"),
      // unique doc and empty doc: untouched
      (6L, "u1 u2 u3 u4 u5"),
      (7L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.dedupSpans(docs, k = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((7L, 4L, "x1 y1 z1")))
    assert(out(2L) == ((6L, 4L, "q2 w2")))
    assert(out(3L) == ((7L, 6L, "tail3")))
    assert(out(4L) == ((7L, 6L, "tail4")))
    assert(out(5L) == ((8L, 0L, "m1 m2 m3 m4 m1 m2 m3 m4")))
    assert(out(6L) == ((5L, 0L, "u1 u2 u3 u4 u5")))
    assert(out(7L) == ((1L, 0L, "")))
    // the non-broadcast join path computes the identical answer
    val shuffled = TextAnalysis.dedupSpans(docs, k = 4, broadcastIntervals = false)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(shuffled == out)
  }

  test("decontaminateSpans excises exactly the benchmark-matching spans") {
    import spark.implicits._
    val bench = Seq(
      (100L, "b1 b2 b3 b4 leak"),
      (101L, "c1 c2 c3 c4 c5"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // the 5-token benchmark run embedded mid-doc: windows at the
      // run's starts merge into ONE [2,7) cut; context survives
      (1L, "p1 p2 b1 b2 b3 b4 leak t1 t2"),
      // only k-1 shared tokens: ordinary language, never cut
      (2L, "b1 b2 b3 b4 clean tail"),
      // TWO separated contaminated runs in one doc: two islands,
      // the gap token survives
      (3L, "b1 b2 b3 b4 leak gap c1 c2 c3 c4 c5"),
      // no overlap at all + empty doc: untouched
      (4L, "u1 u2 u3 u4 u5"),
      (5L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.decontaminateSpans(corpus, bench, k = 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((9L, 5L, "p1 p2 t1 t2")))
    assert(out(2L) == ((6L, 0L, "b1 b2 b3 b4 clean tail")))
    assert(out(3L) == ((11L, 10L, "gap")))
    assert(out(4L) == ((5L, 0L, "u1 u2 u3 u4 u5")))
    assert(out(5L) == ((1L, 0L, "")))
    // an empty benchmark contaminates nothing
    val none = TextAnalysis.decontaminateSpans(corpus, bench.limit(0), k = 5)
      .collect().map(r => r.getLong(2)).sum
    assert(none == 0L)
    // the non-broadcast join path computes the identical answer
    val shuffled = TextAnalysis
      .decontaminateSpans(corpus, bench, k = 5, broadcastIntervals = false)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(shuffled == out)
  }

  test("dedupSpans fidelity: window coverage equals exact repeated-substring coverage (sf0.001)") {
    // The documented approximation claim ("any repeated run of >= k
    // tokens is covered by repeated k-windows and is cut exactly")
    // verified against an independent exact reference — the
    // suffix-array semantic computed by brute force: for every token
    // position s, best(s) = the longest common extension with any
    // position in any OTHER document; exact coverage is the union of
    // [s, s+best(s)) where best(s) >= k. A k-window at j recurs in
    // another doc iff best(j) >= k, so the two unions must be
    // IDENTICAL — any difference is a real defect (hash collision,
    // island off-by-one, dropped tail window), so the missed-span
    // rate is pinned at exactly zero rather than stated as a caveat.
    val k = 20
    val toks = docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toArray).toMap
    val posByTok = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(Long, Int)]]
    for ((did, ts) <- toks; i <- ts.indices)
      posByTok.getOrElseUpdate(ts(i),
        scala.collection.mutable.ArrayBuffer.empty) += ((did, i))
    def lcp(a: Array[String], i: Int, b: Array[String], j: Int): Int = {
      var n = 0
      while (i + n < a.length && j + n < b.length && a(i + n) == b(j + n)) n += 1
      n
    }
    val exact = toks.map { case (did, ts) =>
      val cov = new Array[Boolean](ts.length)
      for (s <- ts.indices) {
        var best = 0
        for ((od, oi) <- posByTok(ts(s)) if od != did) {
          val l = lcp(ts, s, toks(od), oi)
          if (l > best) best = l
        }
        if (best >= k) java.util.Arrays.fill(cov, s, s + best, true)
      }
      did -> cov
    }
    val windowed = TextAnalysis.spanIntervals(docs, k, maxDocFreq = 1).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(iv => (iv.getInt(0), iv.getInt(1))))
      .toMap
    val winCov = toks.map { case (did, ts) =>
      val cov = new Array[Boolean](ts.length)
      windowed.getOrElse(did, Seq.empty).foreach { case (s, e) =>
        java.util.Arrays.fill(cov, s, math.min(e, ts.length), true)
      }
      did -> cov
    }
    var totalExact = 0
    toks.keys.foreach { did =>
      assert(java.util.Arrays.equals(exact(did), winCov(did)),
        s"doc $did: window coverage differs from exact reference")
      totalExact += exact(did).count(identity)
    }
    // non-vacuous: the synthetic corpus carries real repeated spans
    assert(totalExact > 0, "fidelity probe is vacuous: no repeated spans at this SF")
  }

  test("dedupSpans is document-frequency scoped: within-doc repeats survive by design") {
    import spark.implicits._
    val run = (1 to 25).map(i => s"w$i").mkString(" ")
    // occurrence-counting suffix-array dedup (the Lee et al. 2022
    // semantic) would cut the second occurrence below (25 tokens);
    // the doc-frequency semantic keeps both — boilerplate is defined
    // ACROSS documents. Pinned here so the semantic gap is a measured
    // number on a crafted corpus, not an undemonstrated caveat.
    val within = Seq((1L, s"$run mid $run"), (2L, "entirely different text"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.dedupSpans(within, k = 20).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) == 0L)
    // the SAME run spread across two docs is cut from both in full
    val across = Seq((1L, s"$run mid"), (2L, s"other $run")).toDF("doc_id", "text")
    val cut = TextAnalysis.dedupSpans(across, k = 20).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cut == Map(1L -> 25L, 2L -> 25L))
  }

  test("cutSpans preserves case and the (doc_id, source, text) pipeline contract") {
    import spark.implicits._
    // matching is case-insensitive (normalized tokens) but the cut
    // applies to the ORIGINAL text: kept tokens keep their case, and a
    // doc with no repeated span passes through byte-identical —
    // including its internal whitespace
    val docs = Seq(
      (1L, "web", "AAA bbb CCC ddd X1"),
      (2L, "web", "q2 aaa BBB ccc DDD"),
      (3L, "book", "Solo  Text\nHere"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.cutSpans(docs, k = 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    assert(out == Seq((1L, "web", "X1"), (2L, "web", "q2"),
      (3L, "book", "Solo  Text\nHere")))
  }

  test("chunkDocs covers every token with the declared overlap") {
    import spark.implicits._
    val mk = (n: Int) => (1 to n).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, mk(10)), (2L, mk(11)), (3L, mk(4)), (4L, mk(3)), (5L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocs(docs, chunkSize = 4, overlap = 1).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getLong(1))).toMap
    // n=10, stride=3: chunks at 0/3/6 -> t1-4, t4-7, t7-10
    assert(out(1L).map(_.getString(3)).toSeq ==
      Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    // n=11: a fourth, short tail chunk picks up t10 t11
    assert(out(2L).map(_.getString(3)).toSeq ==
      Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10", "t10 t11"))
    assert(out(2L).last.getLong(2) == 2)
    // exactly one chunk when the doc fits
    assert(out(3L).map(_.getString(3)).toSeq == Seq("t1 t2 t3 t4"))
    assert(out(4L).map(_.getString(3)).toSeq == Seq("t1 t2 t3"))
    // empty text: one chunk of the single empty token
    assert(out(5L).length == 1 && out(5L).head.getString(3) == "")
  }

  test("chunkDocs is bit-identical to the one-row expansion shape") {
    // the shape decision (see chunkDocs scaladoc) is performance-only;
    // the two expansions must agree row-for-row
    import spark.implicits._
    val mk = (n: Int, s: String) => (1 to n).map(i => s"$s$i").mkString(" ")
    val docs = Seq((1L, mk(200, "a")), (2L, mk(64, "b")), (3L, mk(65, "c")),
      (4L, mk(1, "d")), (5L, "")).toDF("doc_id", "text")
    val a = TextAnalysis.chunkDocs(docs).collect().map(_.toSeq)
    val b = TextAnalysis.chunkDocsOneRow(docs).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("tokenEntropy matches hand-computed distributions") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a"),          // uniform single token: H = 0
      (2L, "a b c d"),          // 4 distinct: H = 2 bits
      (3L, "a a b b"),          // two tokens at 1/2: H = 1 bit
      (4L, "a a b"),            // H = log2(3) - (2*1)/3 = 0.9183
      (5L, ""))                 // single empty token: H = 0
      .toDF("doc_id", "text")
    val out = TextAnalysis.tokenEntropy(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((4L, 1L, 0.0)))
    assert(out(2L) == ((4L, 4L, 2.0)))
    assert(out(3L) == ((4L, 2L, 1.0)))
    assert(out(4L) == ((3L, 2L, 0.9183)))
    assert(out(5L) == ((1L, 1L, 0.0)))
  }

  test("urlStats extracts, normalizes, and rolls up domains") {
    import spark.implicits._
    val docs = Seq(
      (1L, "see https://www.Example.COM/path and http://example.com:8080/x?y=1"),
      (2L, "plain http://other.org text https://example.com"),
      (3L, "no urls here; ftp://nope.net and http:// are not matches"),
      (4L, "trailing https://other.org/a,b.(c) then words"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.urlStats(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("example.com", 3L, 2L), ("other.org", 2L, 2L)))
  }

  test("corpusStats aggregates per source consistently with the corpus") {
    val stats = TextAnalysis.corpusStats(docs).collect()
    val bySource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats.map(_.getString(0)).toSet == bySource.keySet)
    stats.foreach { r =>
      val (src, nDocs) = (r.getString(0), r.getLong(1))
      assert(nDocs == bySource(src))
      assert(r.getLong(2) > 0, "n_tokens")
      val q = r.getDouble(4)
      assert(q >= 0.0 && q <= 1.0, s"avg_quality $q out of range")
      assert(r.getLong(5) <= nDocs, "distinct contents cannot exceed docs")
    }
  }

  test("dedupIncremental of an empty batch is empty; empty corpus keeps all") {
    import spark.implicits._
    val docs = Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text")
    val none = docs.where(org.apache.spark.sql.functions.lit(false))
    assert(TextAnalysis.dedupIncremental(none, docs).count() == 0)
    assert(TextAnalysis.dedupIncremental(docs, none).count() == 2)
  }

  test("canonicalizeUrl applies each rule exactly") {
    import spark.implicits._
    val cases = Seq(
      // scheme+host lowercased, path case KEPT, :443 stripped for https
      ("HTTPS://WWW.Ex.COM:443/Doc/A", "https://ex.com/Doc/A"),
      // :80 stripped for http only; :8080 kept; www. stripped
      ("http://www.ex.com:80/a", "http://ex.com/a"),
      ("http://ex.com:8080/a", "http://ex.com:8080/a"),
      ("https://ex.com:80/a", "https://ex.com:80/a"),
      // trailing slashes off, fragment off
      ("https://ex.com/a///#frag", "https://ex.com/a"),
      // tracking params dropped, survivors sorted, '?' dropped when all go
      ("https://ex.com/a?utm_source=x&b=2&a=1&fbclid=y", "https://ex.com/a?a=1&b=2"),
      ("https://ex.com/a?utm_campaign=x&gclid=1", "https://ex.com/a"),
      // root path '/' collapses; empty query never grows a '?'
      ("https://ex.com/", "https://ex.com"),
      ("https://ex.com", "https://ex.com"))
    val out = cases.map(_._1).toDF("url")
      .select(TextAnalysis.canonicalizeUrl(col("url"))).as[String].collect()
    cases.zip(out).foreach { case ((in, want), got) =>
      assert(got == want, s"canonicalizeUrl($in)")
    }
  }

  test("dedupByUrl keeps the longest doc per canonical key and counts dupes") {
    import spark.implicits._
    val docs = Seq(
      // one canonical group of three (case/port/tracking/fragment noise)
      (1L, 10L, "HTTPS://WWW.Ex.COM:443/p?utm_source=a&x=1#f"),
      (2L, 30L, "https://ex.com/p/?x=1"),
      (3L, 30L, "https://ex.com/p?x=1&gclid=z"),
      // a singleton
      (4L, 5L, "https://ex.com/q"))
      .toDF("doc_id", "n_chars", "url")
    val out = TextAnalysis.dedupByUrl(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (2L, "https://ex.com/p?x=1", 3L), // longest wins; tie 2<3 by doc_id
      (4L, "https://ex.com/q", 1L)))
  }

  test("tfidfTopK matches a hand-computed corpus and is partition-invariant") {
    import spark.implicits._
    // doc 1: 'a a b'; doc 2: 'a c'; doc 3: 'c c c' — N=3
    // df: a=2, b=1, c=2; idf(x) = ln((3+1)/(df+1)) + 1
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "c c c")).toDF("doc_id", "text")
    def idf(df: Int) = math.log(4.0 / (df + 1)) + 1
    def r6(x: Double) = math.rint((x + 1e-9) * 1e6) / 1e6
    val want = Map(
      (1L, "a") -> (2L, 2L, r6(2 * idf(2))),
      (1L, "b") -> (1L, 1L, r6(1 * idf(1))),
      (2L, "a") -> (1L, 2L, r6(1 * idf(2))),
      (2L, "c") -> (1L, 2L, r6(1 * idf(2))),
      (3L, "c") -> (3L, 2L, r6(3 * idf(2))))
    val out = TextAnalysis.tfidfTopK(docs).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out == want)
    // rank is on the ROUNDED score desc then token asc
    val ranks = TextAnalysis.tfidfTopK(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(5)))
    assert(ranks.filter(_._1 == 1L).sortBy(_._3).map(_._2).toSeq == Seq("a", "b"))
    assert(ranks.filter(_._1 == 2L).sortBy(_._3).map(_._2).toSeq == Seq("a", "c"))
    val rep = TextAnalysis.tfidfTopK(docs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5))).sortBy(x => (x._1, x._6))
    val one = TextAnalysis.tfidfTopK(docs.coalesce(1)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5))).sortBy(x => (x._1, x._6))
    assert(rep.toSeq == one.toSeq)
  }

  test("tfidfTopK keeps at most topK terms per doc") {
    val out = TextAnalysis.tfidfTopK(docs, topK = 3).collect()
    val perDoc = out.groupBy(_.getLong(0)).values
    assert(perDoc.forall(_.length <= 3))
    perDoc.foreach { rows =>
      assert(rows.map(_.getLong(5)).sorted.toSeq == (1L to rows.length).toSeq)
    }
  }

  test("mgSummary never overcounts and undercounts by at most N/(k+1)") {
    // zipf-ish stream, vocab 200 >> k=16, so decrements really happen
    val rng = new scala.util.Random(42)
    val stream = Seq.fill(20000)(s"t${(math.pow(rng.nextDouble(), 3) * 200).toInt}")
    val exact = stream.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val k = 16
    val est = TextAnalysis.mgSummary(stream.iterator, k).toMap
    assert(est.size <= k)
    val bound = stream.length.toDouble / (k + 1)
    est.foreach { case (t, e) =>
      assert(e <= exact(t), s"$t overcounted: $e > ${exact(t)}")
      assert(exact(t) - e <= bound, s"$t under bound: ${exact(t) - e} > $bound")
    }
    // completeness: every token with true freq > N/(k+1) survives
    exact.filter(_._2 > bound).keys.foreach(t => assert(est.contains(t), s"$t lost"))
  }

  test("heavyHitters merged bound holds under any partitioning") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // vocab 300 >> k=16; skewed so a nontrivial heavy set exists
    val words = Seq.fill(8000)(s"w${(math.pow(rng.nextDouble(), 4) * 300).toInt}")
    val docs = words.grouped(40).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val exact = words.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val n = words.length.toDouble
    val k = 16
    for (parts <- Seq(1, 4, 13)) {
      val est = TextAnalysis.heavyHitters(docs.repartition(parts), k).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      est.foreach { case (t, e) =>
        assert(e <= exact(t), s"parts=$parts $t overcounts")
        assert(exact(t) - e <= n / (k + 1), s"parts=$parts $t out of bound")
      }
      exact.filter(_._2 > n / (k + 1)).keys
        .foreach(t => assert(est.contains(t), s"parts=$parts $t lost"))
      // the check query reduces exactly this contract to all-TRUE rows
      val chk = TextAnalysis.heavyHittersCheck(docs.repartition(parts), k).collect()
      assert(chk.nonEmpty)
      chk.foreach { r =>
        assert(r.getBoolean(2) && r.getBoolean(3),
          s"parts=$parts ${r.getString(0)} failed the bound")
      }
    }
  }

  test("vocabDrift matches hand-computed smoothed distributions and ranks by |dp|") {
    import spark.implicits._
    val old = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val nw  = Seq((1L, "a b"), (2L, "a d d")).toDF("doc_id", "text")
    // union vocab {a,b,c,d}, T_old=4, T_new=5, v=4 →
    // p_old = (n+1)/8, p_new = (n+1)/9
    def r6(x: Double) = math.rint((x + 1e-9) * 1e6) / 1e6
    val out = TextAnalysis.vocabDrift(old, nw).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(out.map(_._1).toSeq == Seq("d", "c", "a", "b")) // by |dp| desc
    val d = out.find(_._1 == "d").get
    assert(d._2 == 0L && d._3 == 2L)
    assert(d._4 == r6(1.0 / 8 * 1e3) && d._5 == r6(3.0 / 9 * 1e3))
    assert(d._6 == r6(math.abs(3.0 / 9 - 1.0 / 8) * 1e3))
    assert(d._7 == r6(3.0 / 9 * math.log((3.0 / 9) / (1.0 / 8)) * 1e3))
    val c = out.find(_._1 == "c").get // shrinking token: negative KL term
    assert(c._7 < 0)
  }

  test("contaminationReport: full leak, partial leak, clean, and sub-k items") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d e f"),        // contains bench 10 verbatim + a prefix of 11
      (2L, "a b c x y z"),        // shares bench 10's first 3-gram only
      (3L, "p q r s t u")).toDF("doc_id", "text")
    val bench = Seq(
      (10L, "a b c d"),           // 2 3-grams [abc, bcd] — both in doc 1, abc also in doc 2
      (11L, "d e f g h"),         // 3 3-grams [def, efg, fgh] — only def leaks (doc 1)
      (12L, "m n o"),             // 1 3-gram, clean
      (13L, "w x")).toDF("doc_id", "text") // < k tokens: no row
    val out = TextAnalysis.contaminationReport(corpus, bench, k = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out.keySet == Set(10L, 11L, 12L))
    assert(out(10L) == ((2L, 2L, 2L, 1.0)))      // both k-grams leak; docs 1 and 2
    assert(out(11L) == ((3L, 1L, 1L, 0.333333))) // def only, doc 1
    assert(out(12L) == ((1L, 0L, 0L, 0.0)))
  }

  test("heavyHittersCheck is all-TRUE and non-empty on the corpus") {
    val chk = TextAnalysis.heavyHittersCheck(docs).collect()
    assert(chk.nonEmpty)
    chk.foreach(r => assert(r.getBoolean(2) && r.getBoolean(3), r.getString(0)))
  }

  test("importance weights rank target-like documents above off-domain ones") {
    import graft.operators.TextAnalysis
    val sp = spark
    import sp.implicits._
    // target domain: cooking text; raw corpus: one cooking doc, one
    // legal doc, one mixed doc — DSIR importance must order them
    // cooking > mixed > legal
    val target = Seq(
      (100L, "simmer the onion and garlic in butter then add the stock"),
      (101L, "season the roast and simmer the sauce with butter and herbs"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "simmer the garlic in butter and add stock to the sauce"),
      (2L, "the plaintiff hereby waives all claims pursuant to the statute"),
      (3L, "simmer the statute in butter pursuant to the onion"))
      .toDF("doc_id", "text")
    val w = TextAnalysis.importanceWeights(raw, target).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(1L) > w(3L) && w(3L) > w(2L),
      s"importance must order cooking > mixed > legal: $w")
    // add-one smoothing: a raw-only token (no target mass) must not
    // produce -inf — every weight is finite
    assert(w.values.forall(v => !v.isInfinite && !v.isNaN))
  }

  test("TokenTf kernel ≡ explode+groupBy wordcount on adversarial texts") {
    import graft.operators.TextAnalysis
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "a b a c b a"),
      (2L, "  leading   and\ttrailing  \n ws "),
      (3L, ""),
      (4L, null.asInstanceOf[String]),
      (5L, "ünïcode ünïcode 日本語 日本語 日本語 mixedCASE MIXEDcase"),
      (6L, "single"),
      (7L, (1 to 200).map(i => s"tok${i % 7}").mkString(" ")))
      .toDF("doc_id", "text")
    val viaKernel = docs.select(col("doc_id"),
        explode(graft.functions.GraftFunctions.tokenTf(
          TextAnalysis.tokens(coalesce(col("text"), lit(""))))).as("e"))
      .select(col("doc_id"), col("e.token").as("token"), col("e.n_tf").as("n_tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val viaExplode = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("n_tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(viaKernel == viaExplode,
      s"kernel/wordcount divergence: ${viaKernel -- viaExplode} vs ${viaExplode -- viaKernel}")
  }

  test("BigramBuckets kernel ≡ a zip-based scala reference") {
    import graft.operators.TextAnalysis
    val sp = spark
    import sp.implicits._
    val texts = Seq("the quick brown fox", "a a a", "x", "", "ü ö ü ö ä")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        graft.functions.GraftFunctions.bigramBuckets(
          TextAnalysis.tokens(col("text")), 4096).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    import org.apache.spark.unsafe.types.UTF8String
    def ref(t: String): List[Long] = {
      val toks = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toList
      toks.zip(toks.drop(1)).map { case (a, b) =>
        val h = graft.functions.TextHash.mix64(
          graft.functions.TextHash.poly64(UTF8String.fromString(a + " " + b)))
        (h >>> 1) % 4096
      }
    }
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == ref(t), s"bigram bucket drift on '$t'")
    }
  }

  test("hashed-bigram importance weights: DSIR ordering, bucket bounds, short docs") {
    import graft.operators.TextAnalysis
    val sp = spark
    import sp.implicits._
    val target = Seq(
      (100L, "simmer the onion and garlic in butter then add the stock"),
      (101L, "season the roast and simmer the sauce with butter and herbs"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "simmer the garlic in butter then add the stock"),
      (2L, "the plaintiff hereby waives all claims pursuant to the statute"),
      (3L, "one"), // < 2 tokens: no bigram features, absent from output
      (4L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.importanceWeightsNg(raw, target).collect()
    val w = out.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // bigram features are sharper than unigrams here: doc 1 shares
    // whole pair sequences with the target, doc 2 shares only the
    // stray "the"-pairs — the hashed-bigram llr must separate them
    assert(w(1L) > w(2L), s"bigram importance must rank cooking over legal: $w")
    assert(!w.contains(3L) && !w.contains(4L),
      "documents with < 2 tokens emit no bigram features")
    assert(w.values.forall(v => !v.isInfinite && !v.isNaN))
    // the kernel's bucket space is the documented [0, 4096) range
    val buckets = raw.select(org.apache.spark.sql.functions.explode(
      graft.functions.GraftFunctions.bigramBuckets(
        TextAnalysis.tokens(org.apache.spark.sql.functions.col("text")), 4096))
        .as("b"))
      .collect().map(_.getLong(0))
    assert(buckets.nonEmpty && buckets.forall(b => b >= 0 && b < 4096))
    // n_bigrams = surviving tokens - 1 per doc
    val nbi = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nbi(1L) == 8L && nbi(2L) == 9L, s"bigram counts: $nbi")
  }

  test("DSIR scaled-long model fold is bit-identical to the decimal join form") {
    // r21: importanceWeightsNg/dsirSelect score through a dense
    // scaled-long llr literal array instead of joining the model back
    // onto the exploded bucket stream. Pin bit-equality against the
    // former join + DECIMAL(38,6)-sum form on a corpus big enough to
    // exercise hundreds of distinct buckets (sf0.001 documents).
    import graft.operators.TextAnalysis
    import graft.sources.Tables
    val docs0 = Tables.documents(spark, sfDir)
    val docs = docs0.filter(col("source") =!= "src0")
    val target = docs0.filter(col("source") === "src0")
    def oldForm(nBuckets: Int): Seq[org.apache.spark.sql.Row] = {
      def buckets(side: org.apache.spark.sql.DataFrame) =
        side.select(col("doc_id"), explode(graft.functions.GraftFunctions
          .bigramBuckets(TextAnalysis.tokens(
            coalesce(col("text"), lit(""))), nBuckets)).as("bucket"))
      val rawB = buckets(docs)
      val rawFreq = rawB.groupBy("bucket").agg(count(lit(1)).as("c_r"))
      val tgtFreq = buckets(target).groupBy("bucket").agg(count(lit(1)).as("c_t"))
      val vocab = rawFreq.join(tgtFreq, Seq("bucket"), "full_outer")
        .select(col("bucket"), coalesce(col("c_r"), lit(0L)).as("c_r"),
          coalesce(col("c_t"), lit(0L)).as("c_t"))
      val wAll = org.apache.spark.sql.expressions.Window.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
      val model = vocab.select(col("bucket"), col("c_r"), col("c_t"),
        sum("c_r").over(wAll).as("n_r"), sum("c_t").over(wAll).as("n_t"))
      val b = lit(nBuckets.toLong)
      val ratio =
        ((col("c_t") + 1).cast("double") * (col("n_r") + b).cast("double")) /
        ((col("c_r") + 1).cast("double") * (col("n_t") + b).cast("double"))
      rawB.join(model, "bucket")
        .select(col("doc_id"),
          round(log2(ratio) + lit(1e-9), 6).as("llr"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(col("llr").cast("decimal(38,6)")).cast("double")
            / count(lit(1)) + lit(1e-9), 4).as("importance"))
        .orderBy("doc_id").collect().toSeq
    }
    val now = TextAnalysis.importanceWeightsNg(docs, target).collect().toSeq
    assert(now == oldForm(4096))
  }

  test("ngramBuckets pools the unigram hashes with bigramBuckets' output") {
    import graft.functions.{GraftFunctions, TextHash}
    val sp = spark
    import sp.implicits._
    val d = Seq((1L, "alpha beta  gamma"), (2L, "solo"), (3L, ""))
      .toDF("doc_id", "text")
    val got = d.select(col("doc_id"), GraftFunctions.ngramBuckets(
        TextAnalysis.tokens(col("text")), 4096).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    def uh(s: String) =
      (TextHash.mix64(TextHash.poly64(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))) >>> 1) % 4096
    // m unigrams first, then the m-1 bigrams, matching bigramBuckets
    assert(got(1L) == Seq("alpha", "beta", "gamma").map(uh) ++
      Seq("alpha beta", "beta gamma").map(uh))
    assert(got(2L) == Seq(uh("solo")), "one token still emits its unigram")
    assert(got(3L).isEmpty, "empty text emits nothing")
  }

  test("dsirSelect: log-space A-ES equals the exponentiated form, pooled counts, edges") {
    import graft.operators.TextAnalysis
    val sp = spark
    import sp.implicits._
    val target = Seq(
      (100L, "simmer the onion and garlic in butter then add the stock"),
      (101L, "season the roast and simmer the sauce with butter and herbs"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "simmer the garlic in butter then add the stock"),
      (2L, "the plaintiff hereby waives all claims pursuant to the statute"),
      (3L, "one"), // 1 token: unigram feature only — INCLUDED (unlike ng)
      (4L, ""))    // no features — excluded
      .toDF("doc_id", "text")
    // k >= corpus keeps every featured doc
    val out = TextAnalysis.dsirSelect(raw, target, k = 10).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_features"),
        r.getAs[Double]("log_w"), r.getAs[Double]("sample_key")))
    val ids = out.map(_._1).toSet
    assert(ids == Set(1L, 2L, 3L), s"feature-bearing docs only: $ids")
    // pooled feature count: m unigrams + (m-1) bigrams
    val nf = out.map(t => t._1 -> t._2).toMap
    assert(nf(1L) == 9 + 8 && nf(2L) == 10 + 9 && nf(3L) == 1, s"pooled: $nf")
    // the cooking doc out-weighs the legal doc (DSIR ordering)
    val lw = out.map(t => t._1 -> t._3).toMap
    assert(lw(1L) > lw(2L), s"pooled importance must rank cooking over legal: $lw")
    // sample_key is EXACTLY rnd9(ln(-ln(u))) - log_w, and ordering by
    // it equals ordering by the exponentiated A-ES key -ln(u)/exp(log_w)
    out.foreach { case (id, _, w, key) =>
      val salt = (((id % 2147483648L) + 2147483648L) % 2147483648L) *
        2654435761L % 4294967296L
      val u = (salt + 0.5) / 4294967296.0
      val g = BigDecimal(math.log(-math.log(u)) + 1e-9)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(key == g - w, s"doc $id: key $key != ${g - w}")
      val expKey = -math.log(u) / math.exp(w)
      // monotone equivalence: both keys rank this doc identically
      out.foreach { case (id2, _, w2, key2) =>
        if (id2 != id) {
          val salt2 = (((id2 % 2147483648L) + 2147483648L) % 2147483648L) *
            2654435761L % 4294967296L
          val u2 = (salt2 + 0.5) / 4294967296.0
          val expKey2 = -math.log(u2) / math.exp(w2)
          assert((key < key2) == (expKey < expKey2),
            s"log-space order diverged from exp form for ($id,$id2)")
        }
      }
    }
    // k truncates: the kept set is the k smallest keys
    val top2 = TextAnalysis.dsirSelect(raw, target, k = 2).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val expect2 = out.sortBy(t => (t._4, t._1)).take(2).map(_._1).toSet
    assert(top2 == expect2, s"top-2 by key: $top2 vs $expect2")
  }

  test("bloom membership: zero false negatives, designed fp bound, constant-size filter") {
    import graft.operators.Dedup
    val sp = spark
    import sp.implicits._
    val corpus = (1L to 500L)
      .map(i => (i, s"corpus document number $i with some shared words"))
      .toDF("doc_id", "text")
    // arriving batch: every corpus text re-keyed (must ALL probe true —
    // the bloom structural guarantee) plus 2000 genuinely new docs
    val dups = (1L to 500L).map(i =>
      (i + 10000L, s"corpus document number $i with some shared words"))
    val fresh = (1L to 2000L).map(i =>
      (i + 50000L, s"completely new arrival $i nothing in common ${i * 31}"))
    val arriving = (dups ++ fresh).toDF("doc_id", "text")
    val bf = Dedup.bloomFilterOf(corpus)
    // constant-size driver state: numBits/8 bytes + header, whatever
    // the corpus size — the property that makes the sketch the
    // collector-fleet form of the hash store
    assert(bf.length <= (1 << 18) / 8 + 64, s"filter bytes: ${bf.length}")
    val out = Dedup.bloomMembership(arriving, bf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(dups.forall { case (id, _) => out(id) },
      "bloom false negative — structurally impossible; the build or probe hash drifted")
    val fps = fresh.count { case (id, _) => out(id) }
    assert(fps <= 20, s"false positives blew the design bound: $fps/2000")
    // empty corpus: null filter, nothing probes true
    val none = Dedup.bloomMembership(arriving,
      Dedup.bloomFilterOf(corpus.filter(lit(false))))
    assert(none.filter(col("maybe_seen")).count() == 0)
    // the conf-clamp raise (r18 ADVICE): an explicitly oversized
    // filter must come back at the REQUESTED size — Spark's
    // BloomFilterAggregate silently Math.min's numBits against
    // spark.sql.optimizer.runtime.bloomFilter.maxNumBits (2^26), so
    // without the session-clone raise this returns 8 MB, not 16
    val bigBf = Dedup.bloomFilterOf(corpus,
      expectedItems = 5000000L, numBits = 1L << 27)
    assert(bigBf.length >= (1L << 27) / 8,
      s"bloom sizing silently clamped: ${bigBf.length} bytes for 2^27 bits")
    // the membership probe is scan-local: the filter rides as a plan
    // literal — no join, no exchange of any kind
    val plan = Dedup.bloomMembership(arriving, bf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"probe must be a pure projection:\n$plan")
    // auto-sizing (r17): past the 8192-item floor the filter grows at
    // the design point's 32 bits/item instead of saturating — 40k
    // distinct items must size past the 2^18-bit floor (2^21 here)
    // and still probe its own members with zero false negatives
    val big = sp.range(40000L).select(col("id").as("doc_id"),
      concat(lit("unique big-corpus doc "), col("id")).as("text"))
    val bfBig = Dedup.bloomFilterOf(big)
    assert(bfBig.length > (1 << 18) / 8, s"saturated filter: ${bfBig.length}")
    assert(Dedup.bloomMembership(big, bfBig)
      .filter(!col("maybe_seen")).count() == 0)
  }
}
