package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions._

/** Seeded randomized properties of the custom expression kernels,
  * evaluated through the DataFrame API (i.e. the codegen path) and
  * compared against independent reference implementations. */
class KernelPropertySpec extends AnyFunSuite {
  import TestSession._

  private val rng = new Random(42)

  private def refPoly64(s: String): Long =
    s.getBytes("UTF-8").foldLeft(1125899906842597L)((h, b) => h * 31L + (b & 0xff))

  private def randToken(): String =
    Seq.fill(1 + rng.nextInt(8))(('a' + rng.nextInt(26)).toChar).mkString

  test("poly64 equals the reference fold on random strings (codegen)") {
    import spark.implicits._
    val strs = Seq.fill(200)(Seq.fill(rng.nextInt(40))(randToken()).mkString(" "))
    val out = strs.toDF("s").select(col("s"), fingerprint64(col("s"))).collect()
    out.foreach(r => assert(r.getLong(1) == refPoly64(r.getString(0))))
  }

  test("shingleHash64 count equals distinct string-shingle count") {
    import spark.implicits._
    val docs = Seq.fill(100)(Seq.fill(3 + rng.nextInt(60))(randToken()))
    val out = docs.map(_.mkString(" ")).toDF("text")
      .select(col("text"), shingleHash64(split(col("text"), " "), 3).as("sh"))
      .collect()
    out.foreach { r =>
      val toks = r.getString(0).split(" ")
      val ref = toks.sliding(3).map(_.mkString(" ")).toSet
      assert(r.getAs[scala.collection.Seq[Long]]("sh").length == ref.size)
    }
  }

  test("shingleHashPos aligns positions and agrees with the distinct kernel") {
    import spark.implicits._
    val docs = Seq.fill(100)(Seq.fill(rng.nextInt(60))(randToken()))
    val out = docs.map(_.mkString(" ")).toDF("text")
      .select(col("text"),
        shingleHashPos(split(col("text"), " "), 3).as("pos"),
        shingleHash64(split(col("text"), " "), 3).as("dist"))
      .collect()
    out.foreach { r =>
      val toks = r.getString(0).split(" ")
      val pos = r.getAs[scala.collection.Seq[Long]]("pos")
      val dist = r.getAs[scala.collection.Seq[Long]]("dist")
      // one hash per start position (m - n + 1, or none when m < n)
      assert(pos.length == math.max(0, toks.length - 3 + 1))
      // positional hashes are the same poly64 of the joined window, so
      // their distinct set IS the distinct kernel's output set
      assert(pos.toSet == dist.toSet)
      // spot-check position alignment against the reference fold
      if (pos.nonEmpty) {
        val i = rng.nextInt(pos.length)
        assert(pos(i) == refPoly64(toks.slice(i, i + 3).mkString(" ")))
      }
    }
  }

  test("bpeCount through codegen equals the direct kernel word sum") {
    import spark.implicits._
    import graft.functions.{BpeTable, TextHash}
    val merges = Seq(("a", "b"), ("ab", "c"), ("d", "e"), ("de", "f"), ("x", "y"))
    val table = new BpeTable(merges)
    val docs = Seq.fill(100)(
      Seq.fill(rng.nextInt(20))(
        Seq.fill(1 + rng.nextInt(8))("abcdefxy".charAt(rng.nextInt(8))).mkString)
        .mkString(" "))
    val out = docs.toDF("text")
      .select(col("text"),
        bpeCount(split(lower(trim(col("text"))), "\\s+"), merges).as("n"))
      .collect()
    out.foreach { r =>
      val ref = r.getString(0).toLowerCase.trim.split("\\s+")
        .map(w => TextHash.bpeWord(w, table.ranks).toLong).sum
      assert(r.getLong(1) == ref, s"text='${r.getString(0)}'")
    }
  }

  test("hamming64 is a metric on random longs") {
    import spark.implicits._
    val pairs = Seq.fill(200)((rng.nextLong(), rng.nextLong()))
    val out = pairs.toDF("a", "b")
      .select(col("a"), col("b"), hamming64(col("a"), col("b")).as("h"),
        hamming64(col("b"), col("a")).as("hrev"),
        hamming64(col("a"), col("a")).as("self"))
      .collect()
    out.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(r.getAs[Int]("h") == java.lang.Long.bitCount(a ^ b))
      assert(r.getAs[Int]("h") == r.getAs[Int]("hrev"))
      assert(r.getAs[Int]("self") == 0)
    }
  }

  test("minhash similarity estimate is unbiased across random set pairs") {
    import spark.implicits._
    // 30 pairs with known overlap fractions; 128-hash estimator should
    // average within a few points of truth
    val cases = (0 until 30).map { i =>
      val overlap = 10 + rng.nextInt(30)
      val aOnly = 5 + rng.nextInt(25)
      val bOnly = 5 + rng.nextInt(25)
      val shared = Seq.fill(overlap)(s"s${i}_" + randToken())
      val a = shared ++ Seq.fill(aOnly)(s"a${i}_" + randToken())
      val b = shared ++ Seq.fill(bOnly)(s"b${i}_" + randToken())
      (a, b, overlap.toDouble / (overlap + aOnly + bOnly))
    }
    val df = cases.map { case (a, b, j) => (a, b, j) }.toDF("a", "b", "j")
      .select(minhashSig(col("a"), 128).as("sa"), minhashSig(col("b"), 128).as("sb"), col("j"))
    val errs = df.collect().map { r =>
      val sa = r.getAs[scala.collection.Seq[Long]]("sa")
      val sb = r.getAs[scala.collection.Seq[Long]]("sb")
      val est = sa.zip(sb).count { case (x, y) => x == y } / 128.0
      est - r.getAs[Double]("j")
    }
    assert(math.abs(errs.sum / errs.length) < 0.03, s"biased: ${errs.sum / errs.length}")
    errs.foreach(e => assert(math.abs(e) < 0.2, s"outlier error $e"))
  }

  test("rhpSig is deterministic, seed-sensitive, and in range") {
    import spark.implicits._
    val vecs = Seq.fill(100)(Array.fill(16)(rng.nextFloat() * 2 - 1))
    val df = vecs.toDF("v")
    val a = df.select(rhpSig(col("v"), 8, 7L)).collect().map(_.getInt(0))
    val b = df.select(rhpSig(col("v"), 8, 7L)).collect().map(_.getInt(0))
    val c = df.select(rhpSig(col("v"), 8, 8L)).collect().map(_.getInt(0))
    assert(a.sameElements(b))
    assert(!a.sameElements(c), "different seed must give different buckets")
    a.foreach(x => assert(x >= 0 && x < 256))
  }

  test("rhpSig: similar vectors collide more than dissimilar ones") {
    import spark.implicits._
    val base = Array.fill(32)(rng.nextFloat() * 2 - 1)
    val near = (0 until 50).map { _ =>
      base.map(x => x + rng.nextFloat() * 0.05f)
    }
    val far = (0 until 50).map(_ => Array.fill(32)(rng.nextFloat() * 2 - 1))
    def buckets(vs: Seq[Array[Float]]) =
      vs.toDF("v").select(rhpSig(col("v"), 8, 42L)).collect().map(_.getInt(0))
    val baseBucket = buckets(Seq(base)).head
    val nearHits = buckets(near).count(_ == baseBucket)
    val farHits = buckets(far).count(_ == baseBucket)
    assert(nearHits > farHits, s"near=$nearHits far=$farHits")
    // random 8-bit buckets collide at ~50/256 ≈ 0.2 expected hits;
    // perturbed copies must collide far above that noise floor
    assert(nearHits >= 10, s"near-duplicate vectors should often share the bucket: $nearHits")
  }

  test("ivfAssign picks the argmax-dot centroid with ties to lowest id") {
    import spark.implicits._
    val cents = Array.fill(8)(Array.fill(16)(rng.nextFloat() * 2 - 1))
    val vecs = Seq.fill(100)(Array.fill(16)(rng.nextFloat() * 2 - 1)) ++
      cents.take(2).map(_.clone).toSeq // exact centroid hits
    val out = vecs.toDF("v")
      .select(col("v"), ivfAssign(col("v"), cents).as("cid")).collect()
    out.foreach { r =>
      val v = r.getAs[scala.collection.Seq[Float]]("v")
      val scores = cents.map { c =>
        var acc = 0.0
        v.indices.foreach(i => acc += v(i).toDouble * c(i).toDouble)
        acc
      }
      val best = scores.indices.minBy(i => (-scores(i), i))
      assert(r.getAs[Int]("cid") == best)
    }
  }

  test("dotFD equals a strict left-to-right reference sum") {
    import spark.implicits._
    val pairs = Seq.fill(100)((Array.fill(64)(rng.nextFloat() * 2 - 1),
      Array.fill(64)(rng.nextFloat() * 2 - 1)))
    val out = pairs.toDF("a", "b")
      .select(col("a"), col("b"), dotFD(col("a"), col("b")).as("d")).collect()
    out.foreach { r =>
      val a = r.getAs[scala.collection.Seq[Float]]("a")
      val b = r.getAs[scala.collection.Seq[Float]]("b")
      var acc = 0.0
      a.indices.foreach(i => acc += a(i).toDouble * b(i).toDouble)
      assert(r.getAs[Double]("d") == acc) // bit-exact, not approx
    }
  }

  test("countInSet equals the HOF filter+size reference (codegen path)") {
    import spark.implicits._
    val words = Seq("the", "of", "and", "zq")
    val rows = Seq.fill(200)(
      Seq.fill(rng.nextInt(30))(randToken()) ++ Seq.fill(rng.nextInt(5))("the"))
    val df = rows.map(_.mkString(" ")).toDF("text")
      .select(split(col("text"), " ").as("toks"))
    val out = df.select(
      countInSet(col("toks"), words).as("c"),
      size(filter(col("toks"), t => t.isInCollection(words))).as("ref")).collect()
    out.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("discountedRevenueSum is bit-identical to the DECIMAL(38,6) path") {
    import spark.implicits._
    // random 2-decimal money values and discounts, grouped — both
    // paths must emit the exact same double for every group
    val rows = Seq.tabulate(5000) { i =>
      val ext = math.floor(rng.nextDouble() * 9999999) / 100.0  // 0..99999.99
      val disc = rng.nextInt(11) / 100.0                         // 0.00..0.10
      (i % 137, ext, disc)
    }
    val df = rows.toDF("k", "ext", "disc")
    val fast = df.groupBy("k")
      .agg(graft.operators.discountedRevenueSum(col("ext"), col("disc")).as("rev"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val exact = df.groupBy("k")
      .agg(sum(col("ext").cast("decimal(38,6)") *
        (lit(1).cast("decimal(38,6)") - col("disc").cast("decimal(38,6)")))
        .cast("double").as("rev"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(fast.keySet == exact.keySet)
    fast.foreach { case (k, v) =>
      assert(v == exact(k), s"group $k: long path $v != decimal path ${exact(k)}")
    }
  }

  test("normalizeWs/wsTokens are bit-exact with the regex chain they replaced (codegen)") {
    import spark.implicits._
    // the kernels sit under EVERY text operator and the DuckDB oracles
    // state the regex form — equivalence must hold on adversarial
    // shapes: empties, all-whitespace, every \s member, leading and
    // trailing runs (trim removes only 0x20), multibyte UTF-8 around
    // separators, unicode uppercase (the kernel calls the same
    // UTF8String.toLowerCase Spark's lower uses), and non-ASCII
    // whitespace lookalikes (U+00A0, U+2003) that Java \s does NOT
    // match and the kernel must not split on either
    val ws = Seq(' ', '\t', '\n', '\u000b', '\f', '\r')
    val crafted = Seq(
      "", " ", "  ", "\t", "\r\n", " a ", "\ta\t", "a  b", "a\t\nb",
      "ÉCOLE  Straße", "İstanbul\tLODZ Łódź", "日本　語", // U+3000 ideographic space: not \s
      "a\u00a0b", "em\u2003quad", "MIXED Case\rRUN\u000bx",
      "😀 EMOJI\ttail ", "  lead", "trail\t\t")
    val rand = Seq.fill(300) {
      Seq.fill(rng.nextInt(12))(
        if (rng.nextBoolean()) randToken().toUpperCase
        else Seq.fill(1 + rng.nextInt(3))(ws(rng.nextInt(ws.size))).mkString
      ).mkString
    }
    val out = (crafted ++ rand).toDF("t").select(
      graft.functions.GraftFunctions.normalizeWs(col("t")).as("kn"),
      regexp_replace(lower(trim(col("t"))), "\\s+", " ").as("rn"),
      graft.functions.GraftFunctions.wsTokens(col("t")).as("kt"),
      split(regexp_replace(lower(trim(col("t"))), "\\s+", " "), " ").as("rt"),
      col("t")).collect()
    out.foreach { r =>
      assert(r.getString(0) == r.getString(1),
        s"normalize drift on ${r.getString(4)}: kernel '${r.getString(0)}' vs regex '${r.getString(1)}'")
      assert(r.getAs[scala.collection.Seq[String]]("kt") ==
             r.getAs[scala.collection.Seq[String]]("rt"),
        s"tokens drift on '${r.getString(4)}': ${r.getAs[scala.collection.Seq[String]]("kt")} vs ${r.getAs[scala.collection.Seq[String]]("rt")}")
    }
  }

  test("byte-scan class counts are bit-exact with the regexp_count forms they replaced") {
    import spark.implicits._
    // supplementary code points (emoji) are ONE code point to Java
    // regex and ONE lead byte to the kernels; ASCII class boundaries
    // (@ [ ` {) and every \s member probe the off-by-one edges
    val crafted = Seq(
      "", " ", "abc", "ABC", "a1b2", "a!b@C#", "émile ÉMILE", "😀!😀",
      "@[`{Zz09", "tab\tnew\nline", "aa11!!bb", "mixedCASE 3rd",
      "  ", "7 dwarves, 1 CAVE!", "a-b_c.d")
    // sample whole code points (the emoji is a surrogate PAIR —
    // charAt would split it into invalid lone surrogates)
    val alphabet = Seq("a", "Z", "0", " ", "!", ".", "\t", "😀", "é", "¢", "\n")
    val rand = Seq.fill(300)(Seq.fill(rng.nextInt(30))(
      alphabet(rng.nextInt(alphabet.size))).mkString)
    val out = (crafted ++ rand).toDF("t").select(col("t"),
      graft.functions.GraftFunctions.countPunct(col("t")).as("kp"),
      regexp_count(col("t"), lit("[^a-zA-Z0-9\\s]")).as("rp"),
      graft.functions.GraftFunctions.countUpperAscii(col("t")).as("ku"),
      regexp_count(col("t"), lit("[A-Z]")).as("ru"),
      graft.functions.GraftFunctions.countTokenRuns(col("t")).as("kt"),
      regexp_count(col("t"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).as("rt")).collect()
    out.foreach { r =>
      assert(r.getInt(1) == r.getInt(2), s"punct drift on '${r.getString(0)}': ${r.getInt(1)} vs ${r.getInt(2)}")
      assert(r.getInt(3) == r.getInt(4), s"upper drift on '${r.getString(0)}': ${r.getInt(3)} vs ${r.getInt(4)}")
      assert(r.getInt(5) == r.getInt(6), s"token-run drift on '${r.getString(0)}': ${r.getInt(5)} vs ${r.getInt(6)}")
    }
  }

  test("text kernels stay bit-exact under full-plane code-point fuzzing") {
    import spark.implicits._
    // beyond the fixed alphabets above: random VALID code points from
    // ASCII controls through supplementary planes, so every UTF-8
    // width (1-4 bytes), the surrogate-encoding path, and unusual
    // case-mapping regions all hit the kernels at once
    val ranges = Seq((0x00, 0x7f), (0xa0, 0x2ff), (0x370, 0x3ff),
      (0x4e00, 0x4fff), (0x1f300, 0x1f64f))
    def randCp(): String = {
      val (lo, hi) = ranges(rng.nextInt(ranges.size))
      new String(Character.toChars(lo + rng.nextInt(hi - lo + 1)))
    }
    val strs = Seq.fill(400)(Seq.fill(rng.nextInt(24))(randCp()).mkString)
    val out = strs.toDF("t").select(col("t"),
      graft.functions.GraftFunctions.normalizeWs(col("t")).as("kn"),
      regexp_replace(lower(trim(col("t"))), "\\s+", " ").as("rn"),
      graft.functions.GraftFunctions.wsTokens(col("t")).as("kt"),
      split(regexp_replace(lower(trim(col("t"))), "\\s+", " "), " ").as("rt"),
      graft.functions.GraftFunctions.countPunct(col("t")).as("kp"),
      regexp_count(col("t"), lit("[^a-zA-Z0-9\\s]")).as("rp"),
      graft.functions.GraftFunctions.countUpperAscii(col("t")).as("ku"),
      regexp_count(col("t"), lit("[A-Z]")).as("ru"),
      graft.functions.GraftFunctions.countTokenRuns(col("t")).as("ktr"),
      regexp_count(col("t"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).as("rtr")).collect()
    out.foreach { r =>
      def hex = r.getString(0).map(c => f"${c.toInt}%04x").mkString(" ")
      assert(r.getString(1) == r.getString(2), s"normalize drift on <$hex>")
      assert(r.getAs[scala.collection.Seq[String]]("kt") ==
             r.getAs[scala.collection.Seq[String]]("rt"), s"tokens drift on <$hex>")
      assert(r.getInt(5) == r.getInt(6), s"punct drift on <$hex>")
      assert(r.getInt(7) == r.getInt(8), s"upper drift on <$hex>")
      assert(r.getInt(9) == r.getInt(10), s"token-run drift on <$hex>")
    }
  }

  test("sortedIntersectCount equals set intersection on random sorted arrays (codegen)") {
    import spark.implicits._
    // draws from a small value domain so overlaps, duplicates (the
    // run-skip path), empties, and negative longs (signed sort order)
    // all occur; compared against Scala Set intersection through the
    // DataFrame API (the codegen path), and against
    // size(array_intersect(...)) — the expression this kernel replaced
    // in the Jaccard verify stages
    val cases = Seq.fill(300) {
      def arr() = Array.fill(rng.nextInt(40))(
        (rng.nextInt(30) - 15).toLong * (1L << 40) + rng.nextInt(5)).sorted
      (arr(), arr())
    }
    val out = cases.toDF("a", "b").select(
      col("a"), col("b"),
      sortedIntersectCount(col("a"), col("b")).as("c"),
      size(array_intersect(col("a"), col("b"))).as("ref")).collect()
    out.foreach { r =>
      val a = r.getAs[scala.collection.Seq[Long]]("a")
      val b = r.getAs[scala.collection.Seq[Long]]("b")
      val expected = a.toSet.intersect(b.toSet).size
      assert(r.getInt(2) == expected,
        s"kernel ${r.getInt(2)} != set-intersect $expected for a=$a b=$b")
      assert(r.getInt(3) == expected,
        s"array_intersect baseline drifted from set semantics on a=$a b=$b")
    }
  }

  test("IP scan kernel equals TWO java-regex passes on adversarial text (codegen)") {
    import spark.implicits._
    // the RedactIps/CountIps replacement contract: one
    // non-backtracking scan must be byte-identical to two passes of
    // regexp_replace(ipPat, "$1<IP>$2") and its count the two passes'
    // match-count sum — on text built to stress every boundary rule:
    // adjacency chains sharing single separators, 4+-digit octets,
    // dotted chains (1.2.3.4.5.6.7.8), word-char blockers, string
    // edges, multi-byte UTF-8 neighbors, and the <IP> literal itself.
    val pat = java.util.regex.Pattern.compile(
      graft.operators.TextAnalysis.ipPat)
    def pass(s: String): (String, Int) = {
      val m = pat.matcher(s)
      var c = 0
      val sb = new java.lang.StringBuffer
      while (m.find()) { c += 1; m.appendReplacement(sb, "$1<IP>$2") }
      m.appendTail(sb)
      (sb.toString, c)
    }
    def twoPass(s: String): (String, Int) = {
      val (s1, c1) = pass(s); val (s2, c2) = pass(s1); (s2, c1 + c2)
    }
    val frag = Seq("1.2.3.4", "10.0.0.255", "999.999.999.999", "1.2.3.4567",
      "1234.5.6.7", "0.1.2.3.4.5.6.7", "1.2.3", "..", ".", " ", ",", "a",
      "_", "Z9", "<IP>", "7", "42", "é", "世", "", "-", "\n")
    val texts = Seq.fill(400)(
      Seq.fill(1 + rng.nextInt(12))(frag(rng.nextInt(frag.size))).mkString("")
    ) ++ Seq("1.1.1.1 2.2.2.2 3.3.3.3 4.4.4.4", "1.2.3.4", "",
      "5.6.7.8,9.10.11.12,13.14.15.16", "x1.2.3.4", "1.2.3.4x",
      "é1.2.3.4é", "1.2.3.4 5.6.7.8")
    val out = texts.toDF("s").select(col("s"),
      redactIps(col("s")).as("red"), countIps(col("s")).as("cnt"),
      redactCountIps(col("s")).as("both")).collect()
    out.foreach { r =>
      val (want, wc) = twoPass(r.getString(0))
      assert(r.getString(1) == want,
        s"redactIps diverged on ${r.getString(0)}: got ${r.getString(1)}, want $want")
      assert(r.getInt(2) == wc,
        s"countIps diverged on ${r.getString(0)}: got ${r.getInt(2)}, want $wc")
      // the combined single-evaluation form (what redactPii projects
      // from since r16) must agree with both single-output kernels
      val both = r.getStruct(3)
      assert(both.getString(0) == want && both.getInt(1) == wc,
        s"redactCountIps diverged on ${r.getString(0)}: " +
          s"got (${both.getString(0)}, ${both.getInt(1)}), want ($want, $wc)")
    }
  }

  // One call of every GraftFunctions kernel over the columns of
  // `kernelInputs`, keyed by wrapper name. Each call builds its Seq
  // constants afresh; the array constants are shared references.
  private val cents = Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 1f))
  private val codebooks = Array.tabulate(2, 3, 2)((s, c, i) => (s + c * 0.5f - i) / 2f)
  private val weights = Array(0.5, -1.0, 2.0, 0.25)
  private val longSet = Array(7L, 3L, 11L)
  private val merges = Seq(("a", "b"), ("ab", "c"), ("l", "o"))
  private def everyKernel(): Seq[(String, org.apache.spark.sql.Column)] = {
    val (s, t, h, v) = (col("s"), split(col("s"), " "), col("h1"), col("v"))
    Seq(
      "fingerprint64" -> fingerprint64(s), "simhash64" -> simhash64(t),
      "minhashSig" -> minhashSig(t, 4), "hamming64" -> hamming64(col("a"), col("b")),
      "rhpSig" -> rhpSig(v, 6, 3L), "dotFD" -> dotFD(v, col("w")),
      "tokenEntropyStats" -> tokenEntropyStats(t), "logitDot" -> logitDot(v, weights),
      "ivfAssign" -> ivfAssign(v, cents), "shingleHash64" -> shingleHash64(t, 2),
      "shingleHashPos" -> shingleHashPos(t, 2), "simhash64L" -> simhash64L(h),
      "minhashSigL" -> minhashSigL(h, 4), "countInSet" -> countInSet(t, Seq("ab", "cd")),
      "countInLongSet" -> countInLongSet(h, longSet),
      "sortedIntersectCount" -> sortedIntersectCount(h, col("h2")),
      "normalizeWs" -> normalizeWs(s), "wsTokens" -> wsTokens(s), "tokenTf" -> tokenTf(t),
      "bigramBuckets" -> bigramBuckets(t, 64), "ngramBuckets" -> ngramBuckets(t, 64),
      "semDedupDrops" -> semDedupDrops(col("cl"), 0.8), "pqEncode" -> pqEncode(v, codebooks),
      "ivfPqEncode" -> ivfPqEncode(v, cents, codebooks), "charNgrams" -> charNgrams(s, 2, 3),
      "countPunct" -> countPunct(s), "redactIps" -> redactIps(s), "countIps" -> countIps(s),
      "redactCountIps" -> redactCountIps(s), "countUpperAscii" -> countUpperAscii(s),
      "countTokenRuns" -> countTokenRuns(s), "bpeCount" -> bpeCount(t, merges),
      "bpeTokens" -> bpeTokens(t, merges), "hashEmbed" -> hashEmbed(t, 8))
  }

  private lazy val kernelInputs = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val vec = ArrayType(FloatType)
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("s", StringType), StructField("a", LongType), StructField("b", LongType),
      StructField("h1", ArrayType(LongType)), StructField("h2", ArrayType(LongType)),
      StructField("v", vec), StructField("w", vec),
      StructField("cl", ArrayType(StructType(Seq(StructField("vec_id", LongType),
        StructField("v", vec), StructField("nrm", DoubleType)))))))
    def member(id: Long, x: Seq[Float]) =
      Row(id, x, math.sqrt(x.map(f => f.toDouble * f).sum))
    val rows = Seq(
      Row(0, "Hello, World! ab cd ab cd 10.0.0.1 lo", 5L, 9L, Seq(3L, 7L, 11L),
        Seq(1L, 7L, 11L), Seq(0.5f, -1f, 2f, 0.25f), Seq(1f, 1f, 1f, 1f),
        Seq(member(1L, Seq(1f, 0f)), member(2L, Seq(1f, 0.01f)), member(3L, Seq(0f, 1f)))),
      Row(1, "  abc  DEF 1.2.3.4 é世 x", -1L, 0L, Seq(2L), Seq.empty[Long],
        Seq(0f, 0f, 0f, 0f), Seq(3f, -2f, 0.5f, 1f), Seq(member(9L, Seq(0f, 0f)))),
      Row(2, "", 0L, 0L, Seq.empty[Long], Seq(5L), Seq(1f, 2f, 3f, 4f),
        Seq(0f, 1f, 0f, 1f), Seq.empty[Row]),
      Row(3, null, null, null, null, null, null, null, null))
    // the repartition keeps the optimizer from folding the projection
    // into a local relation, so the kernels run in the executed plan
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).repartition(2)
  }

  private def runKernels(confs: Map[String, String]): Seq[(String, Seq[Any])] = {
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val ks = everyKernel()
      val rows = kernelInputs.select(col("id") +: ks.map { case (n, c) => c.as(n) }: _*)
        .collect().sortBy(_.getInt(0))
      ks.map(_._1).zipWithIndex.map { case (n, i) => n -> rows.map(_.get(i + 1)).toSeq }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every kernel: interpreted eval equals codegen, and a null input gives null") {
    val interpreted = runKernels(Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))
    val generated = runKernels(Map.empty)
    // every public GraftFunctions wrapper is in the list
    val wrappers = graft.functions.GraftFunctions.getClass.getDeclaredMethods
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers) &&
        m.getReturnType == classOf[org.apache.spark.sql.Column] && !m.getName.contains("$"))
      .map(_.getName).toSet
    assert(interpreted.map(_._1).toSet == wrappers && interpreted.size == wrappers.size)
    assert(generated.map(_._1) == interpreted.map(_._1))
    interpreted.zip(generated).foreach { case ((name, i), (_, g)) =>
      assert(i == g, s"$name: interpreted $i != codegen $g")
      assert(g.last == null, s"$name: null input gave ${g.last}")
      assert(g.init.forall(_ != null), s"$name: non-null input gave null: $g")
    }
  }

  test("kernel expressions: semantic equality follows kernel and constants; plans name the kernel") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
    def resolved(cs: Seq[org.apache.spark.sql.Column]): Seq[Expression] =
      kernelInputs.select(cs.zipWithIndex.map { case (c, i) => c.as(s"k$i") }: _*)
        .queryExecution.analyzed.expressions.map { case a: Alias => a.child }
    val names = everyKernel().map(_._1)
    val once = resolved(everyKernel().map(_._2))
    val twice = resolved(everyKernel().map(_._2))
    names.indices.foreach { i =>
      assert(once(i).semanticEquals(twice(i)), s"${names(i)} differs from itself")
      assert(once(i).prettyName == names(i).toLowerCase, once(i).toString)
      names.indices.filter(_ != i).foreach(j =>
        assert(!once(i).semanticEquals(once(j)), s"${names(i)} equals ${names(j)}"))
    }
    val (t, h, v) = (split(col("s"), " "), col("h1"), col("v"))
    val differing = Seq(
      minhashSig(t, 4) -> minhashSig(t, 5), rhpSig(v, 6, 3L) -> rhpSig(v, 6, 4L),
      shingleHash64(t, 2) -> shingleHash64(t, 3), charNgrams(col("s"), 2, 3) -> charNgrams(col("s"), 2, 4),
      semDedupDrops(col("cl"), 0.8) -> semDedupDrops(col("cl"), 0.9),
      hashEmbed(t, 8) -> hashEmbed(t, 16),
      countInSet(t, Seq("ab", "cd")) -> countInSet(t, Seq("ab", "ce")),
      bpeCount(t, merges) -> bpeCount(t, merges.take(2)),
      // array constants compare by reference, as arrays do
      countInLongSet(h, longSet) -> countInLongSet(h, longSet.clone()),
      ivfAssign(v, cents) -> ivfAssign(v, cents.clone()),
      logitDot(v, weights) -> logitDot(v, weights.clone()))
    val (l, r) = (resolved(differing.map(_._1)), resolved(differing.map(_._2)))
    l.zip(r).foreach { case (a, b) => assert(!a.semanticEquals(b), s"$a equals $b") }
    // plans print the kernel with its constants after its input
    val printed = resolved(Seq(minhashSigL(h, 4), charNgrams(col("s"), 2, 3))).map(_.toString)
    assert(printed.head.matches("""minhashsigl\(h1#\d+, 4\)""") &&
      printed(1).matches("""charngrams\(s#\d+, 2, 3\)"""), printed)
  }
}
