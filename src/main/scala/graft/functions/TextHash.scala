package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Hash kernels shared by the custom Catalyst expressions (interpreted
  * eval AND generated code both call these static methods, so the two
  * paths cannot drift). Standalone object (no companion class) →
  * static forwarders exist for Janino-generated code to call.
  */
/** A BPE merge table plus its word→count memo. Top-level class (not
  * nested in the [[TextHash]] object) so generated Java can name its
  * type directly as a codegen reference object. The memo lives WITH
  * the table — not JVM-global — so two expressions over different
  * merge tables can never cross-contaminate; it is bounded (see
  * [[TextHash.bpeCount]]) so adversarial vocabularies cannot grow it
  * without limit, and transient: rebuilt empty after executor
  * deserialization. */
final class BpeTable(merges: Seq[(String, String)]) extends Serializable {
  val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) => m.put(a + " " + b, i) }
    m
  }
  @transient lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  /** word→final-symbols memo for the tokenizing form ([[TextHash
    * .bpeTokens]]) — same bound and locality story as `cache`. */
  @transient lazy val symsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()
}

object TextHash {

  /** 64-bit polynomial rolling hash over UTF-8 bytes (base 31, odd
    * prime seed, natural mod 2^64) — the document-fingerprint kernel
    * (reference: content-identity of a collected record; see
    * weather_collector.py's (city,timestamp) identity — here extended
    * to full-content identity for corpus dedup). */
  def poly64(s: UTF8String): Long = {
    val b = s.getBytes
    var h = 1125899906842597L
    var i = 0
    while (i < b.length) {
      h = h * 31L + (b(i) & 0xffL)
      i += 1
    }
    h
  }

  /** Mix-finalizer (xmx form) applied on top of poly64 for the
    * per-token hashes that feed SimHash/MinHash — poly64 alone is too
    * linear for bit-vote / min-statistics to be well distributed. */
  def mix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  /** 64-bit SimHash over a token array: every token votes ±1 on each
    * bit of its mixed hash; the sign of the vote sum is the output
    * bit. Duplicate tokens vote multiple times (frequency-weighted). */
  def simhash64(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = mix64(poly64(tokens.getUTF8String(i)))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** MinHash signature of a token array: k permutations h_i(x) =
    * mix64(x ^ seed_i); signature element i is the minimum over the
    * token set (unsigned order). Empty input → Long.MaxValue fill. */
  def minhash(tokens: ArrayData, k: Int): ArrayData = {
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val base = mix64(poly64(tokens.getUTF8String(i)))
        var j = 0
        while (j < k) {
          // distinct seed per permutation; golden-ratio stride
          val h = mix64(base ^ (0x9e3779b97f4a7c15L * (j + 1)))
          // unsigned compare via flip of sign bit
          if ((h ^ Long.MinValue) < (sig(j) ^ Long.MinValue)) sig(j) = h
          j += 1
        }
      }
      i += 1
    }
    ArrayData.toArrayData(sig)
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Count of tokens (duplicates included, nulls skipped) present in
    * a fixed word set — the codegen'd replacement for
    * `size(filter(toks, _.isInCollection(set)))`, whose higher-order
    * function form is CodegenFallback and breaks the whole-stage span
    * on corpus-wide per-row paths (quality scoring, language-ID). */
  def countInSet(tokens: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    val n = tokens.numElements()
    var cnt = 0
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i) && set.contains(tokens.getUTF8String(i))) cnt += 1
      i += 1
    }
    cnt
  }

  /** Count of int64 values present in a SORTED long array (binary
    * search per element) — the shingle-hash analog of [[countInSet]],
    * powering the streaming decontamination gate's scan-local
    * "distinct shingles shared with the benchmark" count (the input
    * array is [[shingleHash64]] output, already distinct per row). */
  def countInLongSet(hashes: ArrayData, sorted: Array[Long]): Int = {
    val n = hashes.numElements()
    var cnt = 0
    var i = 0
    while (i < n) {
      if (java.util.Arrays.binarySearch(sorted, hashes.getLong(i)) >= 0) cnt += 1
      i += 1
    }
    cnt
  }

  /** Java-regex \s membership for a UTF-8 byte: space or the 0x09-0x0d
    * control run. ASCII-only (Java's default \s), and every member is
    * a single-byte UTF-8 code point that can never appear inside a
    * multibyte sequence (continuation bytes are >= 0x80), so a BYTE
    * scan splits exactly where the char-level regex does. */
  @inline private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0d)

  /** Canonical text normalization as ONE byte scan — bit-exactly
    * `regexp_replace(lower(trim(text)), "\\s+", " ")`: the same
    * UTF8String.trim (0x20 ends only) and UTF8String.toLowerCase
    * Spark's Trim/Lower call, then each maximal \s run (see [[isWs]])
    * collapsed to a single 0x20 — leading/trailing non-space runs
    * survive trim and collapse to a leading/trailing space exactly as
    * the regex form leaves them. Replaces a java.util.regex pass in
    * the scan of every text operator. Equivalence is
    * randomized-pinned against the regex chain in KernelPropertySpec
    * (unicode, empties, runs, all-whitespace). */
  def normalizeWs(input: UTF8String): UTF8String = {
    val arr = input.trim().toLowerCase().getBytes
    val n = arr.length
    val out = new Array[Byte](n)
    var i = 0
    var o = 0
    while (i < n) {
      val b = arr(i)
      if (isWs(b)) {
        out(o) = 0x20; o += 1
        i += 1
        while (i < n && isWs(arr(i))) i += 1
      } else {
        out(o) = b; o += 1
        i += 1
      }
    }
    UTF8String.fromBytes(out, 0, o)
  }

  /** Whitespace tokenization as ONE byte scan — bit-exactly
    * `split(normalizeWs(text), " ")` with Spark's split semantics
    * (limit -1: leading AND trailing empty tokens kept; an empty
    * string yields [""]): the segments between maximal \s runs of the
    * trimmed+lowercased bytes. Middle empties cannot occur (runs
    * collapse); a leading/trailing run yields the same ""-token the
    * regex+split chain produces. */
  def wsTokens(input: UTF8String): ArrayData = {
    val arr = input.trim().toLowerCase().getBytes
    val n = arr.length
    val toks = new scala.collection.mutable.ArrayBuffer[UTF8String](16)
    var segStart = 0
    var i = 0
    while (i < n) {
      if (isWs(arr(i))) {
        toks += UTF8String.fromBytes(arr, segStart, i - segStart)
        i += 1
        while (i < n && isWs(arr(i))) i += 1
        segStart = i
      } else i += 1
    }
    toks += UTF8String.fromBytes(arr, segStart, n - segStart)
    ArrayData.toArrayData(toks.toArray)
  }

  /** Character n-gram windows over CODE POINTS — every contiguous
    * window of nMin..nMax code points of the input (expected
    * pre-normalized via normalizeWs, so spaces are single and carry
    * word-boundary information into the grams — the fastText feature
    * basis). One boundary scan finds the UTF-8 lead-byte offsets,
    * then windows slice bytes, so a window is exactly DuckDB's
    * `substring(txt, p, n)` over the same normalized string (both
    * count code points, neither is grapheme-aware — the established
    * parity class of lower/trim/length). A string shorter than nMin
    * code points emits nothing (the empty document embeds to zero).
    * ([[graft.functions.GraftFunctions.charNgrams]]) */
  def charNgrams(input: UTF8String, nMin: Int, nMax: Int): ArrayData = {
    val arr = input.getBytes
    val n = arr.length
    // lead-byte offsets + terminal sentinel: starts(i) = byte offset
    // of code point i; starts(nChars) = n
    val starts = new scala.collection.mutable.ArrayBuffer[Int](n + 1)
    var i = 0
    while (i < n) {
      if ((arr(i) & 0xc0) != 0x80) starts += i
      i += 1
    }
    starts += n
    val nChars = starts.length - 1
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String](
      math.max(0, (nMax - nMin + 1) * nChars))
    var len = nMin
    while (len <= nMax) {
      var p = 0
      while (p + len <= nChars) {
        out += UTF8String.fromBytes(arr, starts(p), starts(p + len) - starts(p))
        p += 1
      }
      len += 1
    }
    ArrayData.toArrayData(out.toArray)
  }

  /** `regexp_count(text, "[^a-zA-Z0-9\\s]")` without the regex
    * engine: code points outside ASCII alphanumerics and ASCII \s.
    * Counted at UTF-8 LEAD bytes, so every non-ASCII code point —
    * including supplementary ones, which Java regex also treats as
    * ONE code point — counts exactly once; continuation bytes are
    * skipped. */
  def countPunct(input: UTF8String): Int = {
    val n = input.numBytes
    var c = 0
    var i = 0
    while (i < n) {
      val b = input.getByte(i)
      if ((b & 0x80) != 0) { if ((b & 0xc0) != 0x80) c += 1 }
      else if (!(isWs(b) ||
        (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
        (b >= '0' && b <= '9'))) c += 1
      i += 1
    }
    c
  }

  /** `regexp_count(text, "[A-Z]")` without the regex engine — ASCII
    * uppercase only, exactly the class's semantics (non-ASCII
    * uppercase is not in [A-Z]). */
  def countUpperAscii(input: UTF8String): Int = {
    val n = input.numBytes
    var c = 0
    var i = 0
    while (i < n) {
      val b = input.getByte(i)
      if (b >= 'A' && b <= 'Z') c += 1
      i += 1
    }
    c
  }

  private def isAsciiWordByte(b: Byte): Boolean =
    (b >= '0' && b <= '9') || (b >= 'A' && b <= 'Z') ||
      (b >= 'a' && b <= 'z') || b == '_'
  private def isDigitByte(b: Byte): Boolean = b >= '0' && b <= '9'

  /** End index (one past octet 4's digits) of an IPv4-shaped match
    * whose FIRST DIGIT sits at `start`, or -1. Exactly
    * [[graft.operators.TextAnalysis.ipPat]]'s greedy-with-backtrack
    * semantics, backtracking eliminated analytically: per octet the
    * MAXIMAL digit run must be 1-3 long (a run of 4+ fails every
    * `[0-9]{1,3}` backtrack — the byte after any shorter take is
    * still a digit), octets 1-3 must be followed by '.', octet 4 by a
    * non-word byte or end-of-input. */
  private def ipEndAt(bytes: Array[Byte], start: Int, n: Int): Int = {
    var i = start
    var oct = 0
    while (oct < 4) {
      var d = 0
      while (i < n && isDigitByte(bytes(i)) && d < 4) { d += 1; i += 1 }
      if (d == 0 || d > 3) return -1
      if (oct < 3) {
        if (i >= n || bytes(i) != '.') return -1
        i += 1
      } else if (i < n && isAsciiWordByte(bytes(i))) return -1
      oct += 1
    }
    i
  }

  /** One full ipPat replace pass over raw bytes: (rebuilt bytes or
    * null when nothing matched, match count). Exactly Java's
    * find/appendReplacement loop with the backtracking eliminated
    * analytically (see [[ipEndAt]]): at each scan position try the
    * `^` alternative (digits at position 0 only), else the
    * boundary-char alternative (non-word byte, digits after it); a
    * match CONSUMES its leading and trailing boundary bytes — the
    * scan resumes after the trailing one, so a dotted chain's next
    * quad cannot reuse it in the SAME pass, exactly like the regex
    * (that, and only that, is what the second pass is for — a naive
    * non-consuming single scan segments chains like
    * `1.2.30.1.2.3.4.5.6.7` DIFFERENTLY from the two regex passes;
    * the first draft of this kernel did, and the KernelPropertySpec
    * adversarial pin caught it). The byte-level word test equals
    * Java's char-class test: every byte of a multi-byte UTF-8 char is
    * >= 0x80, never in `[0-9A-Za-z_]`. Replacement `$1<IP>$2` writes
    * the consumed boundary bytes back in place. */
  private def ipPass(bytes: Array[Byte]): (Array[Byte], Int) = {
    val n = bytes.length
    var out: java.io.ByteArrayOutputStream = null
    var count = 0
    var last = 0
    var pos = 0
    while (pos < n) {
      var digitStart = -1
      if (isDigitByte(bytes(pos))) {
        if (pos == 0) digitStart = 0 // the '^' alternative
      } else if (!isAsciiWordByte(bytes(pos)) && pos + 1 < n &&
                 isDigitByte(bytes(pos + 1))) {
        digitStart = pos + 1 // the consumed-boundary alternative
      }
      val end = if (digitStart >= 0) ipEndAt(bytes, digitStart, n) else -1
      if (end >= 0) {
        count += 1
        if (out == null) out = new java.io.ByteArrayOutputStream(n + 16)
        out.write(bytes, last, pos - last)
        if (digitStart > pos) out.write(bytes(pos)) // $1
        out.write('<'); out.write('I'); out.write('P'); out.write('>')
        if (end < n) {
          // $2 consumes ONE CHAR (Java classes match code points): a
          // multi-byte trailing boundary must be consumed whole or the
          // scan resumes MID-CHAR and a continuation byte fakes a
          // fresh leading boundary the regex never offers (the
          // adversarial pin caught exactly this on `…1.2.3.4世0.1…`).
          // bytes(end) follows an ASCII digit, so it is ASCII or a
          // lead byte, never a continuation.
          val b = bytes(end)
          val t =
            if ((b & 0x80) == 0) 1
            else if ((b & 0xE0) == 0xC0) 2
            else if ((b & 0xF0) == 0xE0) 3
            else 4
          val stop = math.min(n, end + t)
          out.write(bytes, end, stop - end)
          last = stop
        } else last = end // the '$' branch consumes nothing
        pos = last
      } else pos += 1
    }
    if (out == null) (null, 0)
    else {
      out.write(bytes, last, n - last)
      (out.toByteArray, count)
    }
  }

  /** Both ipPat redaction passes, regex-free (byte-exact to
    * `regexp_replace(regexp_replace(s, ipPat, "$1<IP>$2"), ...)` —
    * pinned by KernelPropertySpec against java.util.regex on
    * adversarial chains and by the DuckDB oracle's regex restatement
    * on every Verify run). Returns the input object untouched when
    * nothing matches. */
  def redactIps(input: UTF8String): UTF8String = {
    val (r1, _) = ipPass(input.getBytes)
    if (r1 == null) input
    else {
      val (r2, _) = ipPass(r1)
      UTF8String.fromBytes(if (r2 == null) r1 else r2)
    }
  }

  /** Total ipPat match count across both passes (the n_ips column's
    * former `regexp_count(t1) + regexp_count(t2a)` sum). */
  def countIps(input: UTF8String): Int = {
    val (r1, c1) = ipPass(input.getBytes)
    if (r1 == null) 0 else c1 + ipPass(r1)._2
  }

  /** [[redactIps]] and [[countIps]] from ONE scan pair: (redacted
    * text, total match count) as an InternalRow struct. redactPii
    * projects BOTH columns, and evaluating the two single-output
    * kernels independently ran every ipPass twice (r16, ADVICE) —
    * this is the shared evaluation they project from. */
  def redactCountIps(input: UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val (r1, c1) = ipPass(input.getBytes)
    val (text, n) =
      if (r1 == null) (input, 0)
      else {
        val (r2, c2) = ipPass(r1)
        (UTF8String.fromBytes(if (r2 == null) r1 else r2), c1 + c2)
      }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](text, n))
  }

  /** `regexp_count(text, "[a-z]+|[0-9]+|[^a-z0-9 ]")` — the BPE-ish
    * lexer count (letter runs | digit runs | one match per other
    * code point) — as one byte scan. Greedy alternation over these
    * disjoint classes is exactly run-counting: a match starts where
    * the class of the current code point differs from an ongoing
    * letter/digit run; spaces separate; every other code point
    * (ASCII punct/upper or any non-ASCII, lead-byte-counted) is its
    * own single-char match. */
  def countTokenRuns(input: UTF8String): Int = {
    val n = input.numBytes
    var c = 0
    var i = 0
    var run = 0 // 1 = in a-z run, 2 = in 0-9 run, 0 = neither
    while (i < n) {
      val b = input.getByte(i)
      if ((b & 0x80) != 0) {
        if ((b & 0xc0) != 0x80) c += 1
        run = 0
      } else if (b >= 'a' && b <= 'z') {
        if (run != 1) c += 1
        run = 1
      } else if (b >= '0' && b <= '9') {
        if (run != 2) c += 1
        run = 2
      } else if (b == ' ') run = 0
      else { c += 1; run = 0 }
      i += 1
    }
    c
  }

  /** |A ∩ B| of two SORTED (ascending, signed) long arrays by one
    * merge walk — the zero-allocation verify kernel for candidate
    * pairs whose shingle arrays are already `sort_array`'d.
    * `size(array_intersect(a, b))` builds per-row hash sets AND
    * materializes the intersection array just to take its length;
    * this walk touches each element once and allocates nothing.
    * Equal-value runs advance both sides past the run and count ONCE,
    * so the result equals |set(A) ∩ set(B)| even on non-distinct
    * (but sorted) inputs — the same set semantics array_intersect
    * has. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) {
        c += 1
        while (i < na && a.getLong(i) == x) i += 1
        while (j < nb && b.getLong(j) == y) j += 1
      } else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Left-to-right dot product of two float vectors in double
    * precision (each element widened BEFORE the multiply) — exactly
    * the summation the DuckDB oracle's list_sum-over-list_transform
    * computes, so cross-engine doubles are bit-identical. */
  def dotFD(a: ArrayData, b: ArrayData): Double = {
    // clamp to the shorter vector: a length mismatch must not read
    // past the end of b (extra tail elements contribute nothing)
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Product-quantization encoding (Jégou et al. 2011) — the float
    * vector split into `codebooks.length` subspaces, each assigned
    * the ARGMIN-squared-L2 centroid of its subspace codebook (ties →
    * lowest code), returning one int code per subspace
    * ([[graft.functions.GraftFunctions.pqEncode]]). The codebooks ride into
    * generated code as a reference object (the ivfAssign shape), so
    * encoding a corpus is a pure scan-local map. Distances are
    * left-to-right double sums of (v_i − c_i)² — the exact arithmetic
    * the DuckDB oracle restates over the codebook literals, so the
    * raw-double argmin compare is bit-faithful cross-engine (the
    * ivfAssign argmax precedent). A vector shorter than m·dsub reads
    * missing tail elements as 0 (clamped like [[dotFD]] — the oracle
    * corpus is fixed-width, so this is a guard, not a hot path). */
  def pqEncode(v: ArrayData,
               codebooks: Array[Array[Array[Float]]]): ArrayData = {
    val m = codebooks.length
    val n = v.numElements()
    val out = new Array[Any](m)
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      val dsub = if (cb.isEmpty) 0 else cb(0).length
      val base = s * dsub
      var best = 0
      var bd = Double.PositiveInfinity
      var c = 0
      while (c < cb.length) {
        val cent = cb(c)
        var acc = 0.0
        var i = 0
        while (i < dsub) {
          val x = (if (base + i < n) v.getFloat(base + i).toDouble else 0.0) -
            cent(i).toDouble
          acc += x * x
          i += 1
        }
        if (acc < bd) { bd = acc; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** IVF-PQ encoding (Jégou et al. 2011 §III, IVFADC): coarse-assign
    * the vector to its inverted list (the [[ivfAssign]] argmax-dot
    * rule against the spherical centroids, ties → lowest cid), then
    * product-quantize the RESIDUAL of its UNIT-NORMALIZED form against
    * the list centroid — `r_i = v_i/‖v‖ − c_i` (a zero-norm vector
    * skips the scaling: `r_i = v_i − c_i`, deterministic, never a
    * divide) — with the same per-subspace argmin-squared-L2 / ties-to-
    * lowest-code rule as [[pqEncode]]. Returns `[cid, code_0..code_{m-1}]`
    * as one array<int>, so a 100 TB corpus indexes in ONE scan-local
    * codegen'd map (both the centroid matrix and the codebooks ride
    * into generated code as reference objects).
    *
    * Unit-sphere residuals are the right operand here: squared L2 on
    * the unit sphere is 2−2cosθ — MONOTONE in cosine — so the ADC
    * ranking downstream approximates exactly the cosine order the
    * exact operators use, and residual magnitudes are O(1) regardless
    * of raw vector norm (what makes one codebook fit every list).
    * All arithmetic is the oracle-faithful double chain: elements
    * widened before any op, left-to-right sums, missing tail elements
    * of a short vector read as 0 (the [[pqEncode]] clamp; positions
    * past the centroid dim are ignored by construction m·dsub = d). */
  def ivfPqEncode(v: ArrayData, cents: Array[Array[Float]],
                  codebooks: Array[Array[Array[Float]]]): ArrayData = {
    val n = v.numElements()
    // coarse assignment: argmax left-to-right widened dot, ties lowest
    var cid = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val ct = cents(c)
      val lim = math.min(n, ct.length)
      var acc = 0.0
      var i = 0
      while (i < lim) { acc += v.getFloat(i).toDouble * ct(i).toDouble; i += 1 }
      if (acc > bestDot) { bestDot = acc; cid = c }
      c += 1
    }
    val cent = cents(cid)
    val d = cent.length
    // unit-normalized residual vs the owning centroid, full dim
    var ss = 0.0
    var i = 0
    while (i < n) {
      val x = v.getFloat(i).toDouble
      ss += x * x
      i += 1
    }
    val nrm = math.sqrt(ss)
    val r = new Array[Double](d)
    i = 0
    while (i < d) {
      val x = if (i < n) v.getFloat(i).toDouble else 0.0
      r(i) = (if (nrm > 0) x / nrm else x) - cent(i).toDouble
      i += 1
    }
    val m = codebooks.length
    val out = new Array[Any](m + 1)
    out(0) = cid
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      val dsub = if (cb.isEmpty) 0 else cb(0).length
      val base = s * dsub
      var best = 0
      var bd = Double.PositiveInfinity
      var cc = 0
      while (cc < cb.length) {
        val cw = cb(cc)
        var acc = 0.0
        var j = 0
        while (j < dsub) {
          val x = (if (base + j < d) r(base + j) else 0.0) - cw(j).toDouble
          acc += x * x
          j += 1
        }
        if (acc < bd) { bd = acc; best = cc }
        cc += 1
      }
      out(s + 1) = best
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** SemDeDup within-cluster drop set — one CLUSTER per row as
    * array<struct<vec_id, v float[], nrm double>>, returning the ids
    * that have a LOWER-id neighbor at rounded cosine ≥ tau
    * ([[graft.functions.GraftFunctions.semDedupDrops]]). Semantics bit-identical to
    * the pair-join form it replaced (r18): cosine = dot/(nrm_i·nrm_j)
    * with the dot the same left-to-right float→double widened sum as
    * [[dotFD]], skipped when the norm product is not > 0 (zero-norm
    * vectors never pair), rounded via the same +1e-9 nudge +
    * BigDecimal HALF_UP as Spark's `round(c + 1e-9, 6)`. The kernel
    * exists for FLOP efficiency: the join form paid ~100ns of
    * row-materialization per candidate pair (measured 177-212 s for
    * the 1.25G-pair 100×/k=16 probe); extracting each cluster's
    * vectors into primitive arrays once and looping does the same
    * arithmetic at memory speed. Work is O(n_c²·d) per cluster with
    * the early exit (a dropped id stops probing at its FIRST
    * lower-id match, ids visited ascending); one cluster must fit a
    * row — the k ≈ √N sizing rule (see NearDupStore-style table in
    * [[graft.operators.Similarity.semDedup]]) keeps that ~√N·d·4 B
    * at any corpus scale. */
  def semDedupDrops(cluster: ArrayData, tau: Double): ArrayData = {
    val n = cluster.numElements()
    if (n < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val ids = new Array[Long](n)
    val vecs = new Array[Array[Float]](n)
    val nrms = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = cluster.getStruct(i, 3)
      ids(i) = row.getLong(0)
      vecs(i) = row.getArray(1).toFloatArray()
      nrms(i) = row.getDouble(2)
      i += 1
    }
    // ascending-id visit order: for each candidate j, probe the
    // lower-id members until the first ≥-tau hit
    val idx = Array.range(0, n).sortBy(ids(_))
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    var jj = 1
    while (jj < n) {
      val j = idx(jj)
      if (nrms(j) > 0) {
        val vj = vecs(j)
        var ii = 0
        var dropped = false
        while (ii < jj && !dropped) {
          val k = idx(ii)
          val denom = nrms(k) * nrms(j)
          if (denom > 0) {
            val vk = vecs(k)
            val d = math.min(vk.length, vj.length)
            var acc = 0.0
            var p = 0
            while (p < d) { acc += vk(p).toDouble * vj(p).toDouble; p += 1 }
            val c = java.math.BigDecimal.valueOf(acc / denom + 1e-9)
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
            if (c >= tau) { out += ids(j); dropped = true }
          }
          ii += 1
        }
      }
      jj += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Per-document token-entropy statistics from the token array in ONE
    * row-local pass: (n_tokens, n_distinct, clogc) where clogc =
    * Σ_distinct round(c·log2(c) + 1e-9, 6) — bit-exactly the value the
    * r15 two-shuffle form computed via explode → per-(doc,token) count
    * → per-doc DECIMAL rollup (a per-DOCUMENT statistic never needed a
    * corpus-wide shuffle). Exactness argument, term by term:
    *  - log2 mirrors Spark's Log2 codegen EXACTLY
    *    (`java.lang.StrictMath.log(x) / java.lang.StrictMath.log(2)` —
    *    verified against the Log2 class's constant pool; plain
    *    Math.log may differ in the last ulp on some JVMs) and the
    *    multiply order mirrors `c.cast(double) * log2(c)`;
    *  - the 6dp round mirrors Spark's Round-on-double
    *    (BigDecimal.valueOf(x).setScale(6, HALF_UP));
    *  - each rounded double is the double nearest k/10⁶, so
    *    Math.round(d·10⁶) recovers the integer k exactly and the LONG
    *    sum of ks equals the DECIMAL(38,6) sum (order-free both ways);
    *    the final (Σk)/10⁶ double division is correctly rounded, i.e.
    *    identical to CAST(decimal-sum AS DOUBLE). Σk stays far under
    *    2⁵³ for any real document.
    * Empty-string tokens count like the explode form counted them. */
  def tokenEntropyStats(toks: ArrayData)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val n = toks.numElements()
    val counts = new java.util.HashMap[UTF8String, Int](math.max(n * 2, 4))
    var i = 0
    while (i < n) {
      counts.merge(toks.getUTF8String(i), 1, Integer.sum _)
      i += 1
    }
    var scaled = 0L
    val it = counts.values().iterator()
    val ln2 = java.lang.StrictMath.log(2.0)
    while (it.hasNext) {
      val c = it.next().toDouble
      val v = c * (java.lang.StrictMath.log(c) / ln2)
      val r = java.math.BigDecimal.valueOf(v + 1e-9)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      scaled += java.lang.Math.round(r * 1e6)
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, counts.size.toLong, scaled / 1e6))
  }

  /** Hashed-BIGRAM feature buckets — one bucket id per adjacent token
    * pair (empty tokens dropped first), bucket = (mix64(poly64(
    * "t1 t2")) >>> 1) mod nBuckets — the Xie et al. 2023 (DSIR)
    * hashed n-gram feature construction over the SAME hash family the
    * hashing-trick embedding uses (poly64 + mix64, restated in DuckDB
    * by the hashEmbedCte emulation, which is what makes the oracle
    * possible). Documents with fewer than two surviving tokens emit
    * no features. ([[graft.functions.GraftFunctions.bigramBuckets]]) */
  def bigramBuckets(toks: ArrayData, nBuckets: Int): ArrayData = {
    val n = toks.numElements()
    val clean = new scala.collection.mutable.ArrayBuffer[UTF8String](n)
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t != null && t.numBytes() > 0) clean += t
      i += 1
    }
    val m = clean.length
    if (m < 2)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    else {
      val sp = UTF8String.fromString(" ")
      val out = new Array[Any](m - 1)
      var j = 0
      while (j < m - 1) {
        val h = mix64(poly64(UTF8String.concatWs(sp, clean(j), clean(j + 1))))
        out(j) = (h >>> 1) % nBuckets
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  /** POOLED hashed n-gram feature buckets — unigrams AND bigrams in
    * ONE shared `nBuckets` space, the Xie et al. 2023 (DSIR) feature
    * construction proper (the paper pools both orders into a single
    * hashed vector; [[bigramBuckets]] is the bigram-only sibling).
    * One bucket id per surviving token plus one per adjacent pair,
    * bucket = (mix64(poly64(s)) >>> 1) mod nBuckets with s the token
    * itself or "t1 t2" — the same poly64+mix64 family as hashEmbed,
    * so the DuckDB HUGEINT emulation restates it over the unioned
    * unigram+bigram feature strings. Empty tokens are dropped first;
    * a one-token document still emits its unigram feature (unlike the
    * bigram-only form, which needs two); an empty document emits
    * nothing. ([[graft.functions.GraftFunctions.ngramBuckets]]) */
  def ngramBuckets(toks: ArrayData, nBuckets: Int): ArrayData = {
    val n = toks.numElements()
    val clean = new scala.collection.mutable.ArrayBuffer[UTF8String](n)
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t != null && t.numBytes() > 0) clean += t
      i += 1
    }
    val m = clean.length
    if (m == 0)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    else {
      val sp = UTF8String.fromString(" ")
      val out = new Array[Any](m + math.max(0, m - 1))
      var j = 0
      while (j < m) {
        out(j) = (mix64(poly64(clean(j))) >>> 1) % nBuckets
        j += 1
      }
      var p = 0
      while (p < m - 1) {
        val h = mix64(poly64(UTF8String.concatWs(sp, clean(p), clean(p + 1))))
        out(m + p) = (h >>> 1) % nBuckets
        p += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  /** Per-document term-frequency entries — array<struct<token: string,
    * n_tf: bigint>> over the token array in ONE row-local hash pass
    * (first-occurrence order, empty tokens skipped) — the scan-local
    * form of explode → groupBy(doc_id, token) → count
    * ([[graft.functions.GraftFunctions.tokenTf]]): the (doc_id, token) wordcount is a
    * per-document statistic, so at corpus scale the exploded token
    * stream never needs to shuffle to compute it. Entry ORDER is
    * deterministic but not meaningful — every consumer re-keys or
    * re-ranks with explicit orderings. */
  def tokenTf(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val m = new java.util.LinkedHashMap[UTF8String, java.lang.Long](
      math.max(n * 2, 4))
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t != null && t.numBytes() > 0) {
        val cur = m.get(t)
        m.put(t, java.lang.Long.valueOf(if (cur == null) 1L else cur.longValue() + 1L))
      }
      i += 1
    }
    val out = new Array[Any](m.size)
    var j = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey, e.getValue.longValue()))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Left-to-right double dot of a FLOAT vector against a trained
    * DOUBLE weight vector (each element widened before the multiply) —
    * the linear-model scoring kernel ([[graft.functions.GraftFunctions.logitDot]]).
    * Same summation order as [[dotFD]] and the DuckDB oracle's
    * list_sum(list_transform(...)), so cross-engine doubles are
    * bit-identical. Clamps to the shorter side like dotFD. */
  def logitDot(v: ArrayData, w: Array[Double]): Double = {
    val n = math.min(v.numElements(), w.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += v.getFloat(i).toDouble * w(i)
      i += 1
    }
    acc
  }

  /** Index of the nearest centroid by dot product (centroids are unit
    * vectors, so argmax dot == argmax cosine; the query vector's own
    * norm is a constant factor). Strict > keeps the lowest index on
    * exact ties — deterministic. */
  def ivfAssign(v: ArrayData, cents: Array[Array[Float]]): Int = {
    var best = 0
    var bestS = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      var acc = 0.0
      var i = 0
      while (i < cv.length) {
        acc += v.getFloat(i).toDouble * cv(i).toDouble
        i += 1
      }
      if (acc > bestS) { bestS = acc; best = c }
      c += 1
    }
    best
  }

  /** Distinct hashed word n-gram shingles of a token array: the hash
    * is poly64 over the shingle's space-joined string form, computed
    * without materializing the string. Joining/intersecting on the
    * 8-byte hash instead of the ~20-char string makes the shingle
    * bucket-join dramatically cheaper; counts match the string form
    * modulo 64-bit collisions (~(n_shingles)²/2^65 ≈ 0). */
  def shingleHash64(tokens: ArrayData, n: Int): ArrayData = {
    // compact away null tokens first (consistent with simhash64 /
    // minhash, which skip nulls) — shingles form over the non-null
    // subsequence instead of NPE-ing the whole stage
    val m0 = tokens.numElements()
    val toks = new Array[UTF8String](m0)
    var m = 0
    var t = 0
    while (t < m0) {
      if (!tokens.isNullAt(t)) { toks(m) = tokens.getUTF8String(t); m += 1 }
      t += 1
    }
    if (m < n) return ArrayData.toArrayData(Array.empty[Long])
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new Array[Long](m - n + 1)
    var cnt = 0
    var i = 0
    while (i <= m - n) {
      var h = 1125899906842597L
      var j = 0
      while (j < n) {
        if (j > 0) h = h * 31L + ' '.toLong
        val b = toks(i + j).getBytes
        var k = 0
        while (k < b.length) { h = h * 31L + (b(k) & 0xffL); k += 1 }
        j += 1
      }
      if (seen.add(h)) { out(cnt) = h; cnt += 1 }
      i += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(out, cnt))
  }

  /** POSITIONAL hashed word n-gram shingles: out(i) = hash of the
    * window tokens[i, i+n) — one hash per start position, duplicates
    * KEPT (unlike [[shingleHash64]], whose distinct set serves
    * membership joins; span dedup needs to map a repeated window back
    * to the exact token range it covers). Null tokens hash as empty
    * (the tokenizer never emits them; compacting like the distinct
    * form would desynchronize positions from the source array). */
  def shingleHashPos(tokens: ArrayData, n: Int): ArrayData = {
    val m = tokens.numElements()
    if (m < n) return ArrayData.toArrayData(Array.empty[Long])
    val out = new Array[Long](m - n + 1)
    var i = 0
    while (i <= m - n) {
      var h = 1125899906842597L
      var j = 0
      while (j < n) {
        if (j > 0) h = h * 31L + ' '.toLong
        if (!tokens.isNullAt(i + j)) {
          val b = tokens.getUTF8String(i + j).getBytes
          var k = 0
          while (k < b.length) { h = h * 31L + (b(k) & 0xffL); k += 1 }
        }
        j += 1
      }
      out(i) = h
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Greedy BPE token count of ONE word (symbols start as code
    * points; each round merges every left-to-right occurrence of the
    * lowest-ranked adjacent pair until none remains) — the apply
    * algorithm of the public GPT-2 merges.txt format. Byte-for-byte
    * mirrored by tools/bpe_reference.py: any drift between the two
    * fails the BpeSpec fixture comparison. `ranks` keys are "a b"
    * (the merges-file line), values the line rank. */
  def bpeWord(word: String, ranks: java.util.HashMap[String, Integer]): Int =
    bpeWordSyms(word, ranks).length

  /** The final symbol array [[bpeWord]] counts — factored out so
    * [[bpeTokens]] can emit the actual pieces. The merge loop below IS
    * the mirrored apply algorithm; keep it byte-for-byte in step with
    * tools/bpe_reference.py. */
  def bpeWordSyms(word: String,
                  ranks: java.util.HashMap[String, Integer]): Array[String] = {
    if (word.isEmpty) return Array.empty
    // split by code point (Python's list(word) semantics, surrogate-safe)
    var syms = {
      val cps = word.codePoints().toArray
      val a = new Array[String](cps.length)
      var i = 0
      while (i < cps.length) { a(i) = new String(Character.toChars(cps(i))); i += 1 }
      a
    }
    var done = false
    while (!done && syms.length >= 2) {
      var bestRank = Int.MaxValue
      var bestA: String = null
      var bestB: String = null
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.get(syms(i) + " " + syms(i + 1))
        if (r != null && r < bestRank) { bestRank = r; bestA = syms(i); bestB = syms(i + 1) }
        i += 1
      }
      if (bestA == null) done = true
      else {
        val out = new Array[String](syms.length)
        var n = 0
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == bestA && syms(j + 1) == bestB) {
            out(n) = bestA + bestB; n += 1; j += 2
          } else { out(n) = syms(j); n += 1; j += 1 }
        }
        syms = java.util.Arrays.copyOf(out, n)
      }
    }
    syms
  }

  private val BpeCacheMax = 1 << 16

  /** Total greedy-BPE token count of a token array (sum of per-word
    * counts; null tokens and empty strings contribute 0). */
  def bpeCount(tokens: ArrayData, table: graft.functions.BpeTable): Long = {
    var total = 0L
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        val w = tokens.getUTF8String(t).toString
        val cached = table.cache.get(w)
        if (cached != null) total += cached.intValue()
        else {
          val c = bpeWord(w, table.ranks)
          if (table.cache.size() < BpeCacheMax) table.cache.put(w, c)
          total += c
        }
      }
      t += 1
    }
    total
  }

  /** Concatenated greedy-BPE pieces of a token array, in document
    * order — the tokenizing sibling of [[bpeCount]] (by construction
    * `bpeTokens(x).length == bpeCount(x)` for the same table; the
    * spec pins it). Null tokens and empty strings contribute no
    * pieces. */
  def bpeTokens(tokens: ArrayData, table: graft.functions.BpeTable): ArrayData = {
    val buf = new java.util.ArrayList[AnyRef]()
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        val w = tokens.getUTF8String(t).toString
        var syms = table.symsCache.get(w)
        if (syms == null) {
          syms = bpeWordSyms(w, table.ranks)
          if (table.symsCache.size() < BpeCacheMax) table.symsCache.put(w, syms)
        }
        var i = 0
        while (i < syms.length) { buf.add(UTF8String.fromString(syms(i))); i += 1 }
      }
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buf.toArray)
  }

  /** Feature-hashing document embedding (the hashing trick): each
    * token's mixed hash picks a bucket and a ±1 sign, signed counts
    * accumulate, and the vector is L2-normalized — a model-free
    * embedding whose cosine approximates token-multiset similarity
    * (Weinberger et al.'s signed feature hashing keeps the inner
    * product unbiased). Empty/all-null input yields the zero vector.
    * One pass, no allocation beyond the output. */
  def hashEmbed(tokens: ArrayData, dim: Int): ArrayData = {
    val acc = new Array[Float](dim)
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        val u = tokens.getUTF8String(t)
        // the split of an empty text yields one "" token — not a
        // feature; skip so the empty document embeds to zero
        if (u.numBytes > 0) {
          val h = mix64(poly64(u))
          // low bit = sign, rest picks the bucket (both uniform under mix64)
          val b = (((h >>> 1) % dim).toInt + dim) % dim
          acc(b) += (if ((h & 1L) == 0L) 1f else -1f)
        }
      }
      t += 1
    }
    var ss = 0.0
    var i = 0
    while (i < dim) { ss += acc(i).toDouble * acc(i).toDouble; i += 1 }
    if (ss > 0) {
      val inv = 1.0 / math.sqrt(ss)
      i = 0
      while (i < dim) { acc(i) = (acc(i) * inv).toFloat; i += 1 }
    }
    ArrayData.toArrayData(acc)
  }

  /** SimHash over pre-hashed shingles (bit votes on mix64 of each). */
  def simhashL(hashes: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = mix64(hashes.getLong(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** MinHash signature over pre-hashed shingles: k independent
    * permutations h_j(x) = mix64(mix64(x) ^ seed_j), signature element
    * j is the minimum over the shingle set (unsigned order).
    *
    * DELIBERATELY the O(n·k) k-permutation form, not one-permutation
    * hashing. Both were built and measured on the documents corpus
    * (sf0.1, 16 bands x 8 rows, via the bench's lsh_buckets skew
    * probe): k-perm yields 3.2k candidate pairs with a max band
    * bucket of 4; OPH with rotation densification (Shrivastava & Li
    * 2014) yielded 76k candidates / max bucket 86 — consecutive empty
    * bins borrow from the same source with sequential offsets, so one
    * bin agreement aliases into whole-band collisions — and OPH with
    * optimal densification (Shrivastava 2017) still 9.1k / max 44.
    * Short documents (shingle count n < k=128) densify most of their
    * bins, and densified bins collide above Jaccard rate for any
    * occupancy-driven scheme. That regime is ALSO where O(n·k) is
    * cheap (n·k small), so k-perm wins on both axes here. A long-doc
    * corpus (n >> k) flips the economics — densification becomes
    * rare while n·k explodes — and OPH becomes the right kernel;
    * that switch is a kernel swap behind this same expression. */
  def minhashL(hashes: ArrayData, k: Int): ArrayData = {
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val base = mix64(hashes.getLong(i))
      var j = 0
      while (j < k) {
        val h = mix64(base ^ (0x9e3779b97f4a7c15L * (j + 1)))
        if ((h ^ Long.MinValue) < (sig(j) ^ Long.MinValue)) sig(j) = h
        j += 1
      }
      i += 1
    }
    ArrayData.toArrayData(sig)
  }

  /** Random-hyperplane (signed random projection) signature of a
    * numeric vector: bit p of the result is the sign of the dot
    * product with a Rademacher(±1) hyperplane whose entries are a pure
    * function of (seed, p, j) — deterministic across executors with no
    * shipped matrix. nPlanes <= 32. */
  def rhpSig(vec: ArrayData, nPlanes: Int, seed: Long): Int = {
    val n = vec.numElements()
    var sig = 0
    var p = 0
    while (p < nPlanes) {
      var acc = 0.0
      var j = 0
      while (j < n) {
        val r = mix64(seed ^ (p.toLong << 32) ^ j.toLong)
        val s = if ((r & 1L) == 1L) 1.0 else -1.0
        acc += vec.getFloat(j) * s
        j += 1
      }
      if (acc > 0) sig |= (1 << p)
      p += 1
    }
    sig
  }
}
