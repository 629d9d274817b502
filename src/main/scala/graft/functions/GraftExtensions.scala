package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.Bridge

/** SQL surface for the kernels: registers them as native
  * SQL functions so `spark.sql("SELECT fingerprint64(text) ...")`
  * works. Two paths:
  *
  *  - `spark.sql.extensions=graft.functions.GraftExtensions` at
  *    session build time (the idiomatic plugin route), or
  *  - `GraftExtensions.register(spark)` on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {
  import GraftFunctions._

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$what must be a long literal, got $other")
  }

  /** SQL function `name`, built through its [[GraftFunctions]] wrapper
    * over the argument columns. */
  private def fn(name: String, usage: String)(build: Seq[Expression] => Column)
      : (String, ExpressionInfo, Seq[Expression] => Expression) =
    (name, new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
      (args: Seq[Expression]) => Bridge.expression(build(args)))
  private def c(e: Expression): Column = Bridge.column(e)

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("fingerprint64", "fingerprint64(str) - 64-bit polynomial content fingerprint")(
      a => fingerprint64(c(a.head))),
    fn("simhash64", "simhash64(array<string>) - 64-bit SimHash of a token array")(
      a => simhash64(c(a.head))),
    fn("minhash_sig", "minhash_sig(array<string>, k) - k-element MinHash signature")(
      a => minhashSig(c(a.head), intArg(a(1), "k"))),
    fn("hamming64", "hamming64(a, b) - hamming distance of two 64-bit hashes")(
      a => hamming64(c(a.head), c(a(1)))),
    fn("dot_fd", "dot_fd(array<float>, array<float>) - double-precision dot product")(
      a => dotFD(c(a.head), c(a(1)))),
    fn("shingle_hash64", "shingle_hash64(array<string>, n) - distinct hashed n-gram shingles")(
      a => shingleHash64(c(a.head), intArg(a(1), "n"))),
    fn("rhp_sig", "rhp_sig(array<float>, nPlanes, seed) - random-hyperplane LSH bucket")(
      a => rhpSig(c(a.head), intArg(a(1), "nPlanes"), longArg(a(2), "seed"))),
    fn("hash_embed", "hash_embed(array<string>, dim) - L2-normalized feature-hashing embedding")(
      a => hashEmbed(c(a.head), intArg(a(1), "dim"))),
    fn("bpe_count", "bpe_count(array<string>) - greedy-BPE token count under the default merge table")(
      a => bpeCount(c(a.head), graft.operators.TextAnalysis.defaultBpeMerges)),
    fn("bpe_tokens", "bpe_tokens(array<string>) - greedy-BPE pieces under the default merge table")(
      a => bpeTokens(c(a.head), graft.operators.TextAnalysis.defaultBpeMerges)),
    fn("count_in_set", "count_in_set(array<string>, 'a,b,c') - tokens matching a comma-separated literal set")(
      a => countInSet(c(a.head), a(1) match {
        case Literal(s, _) if s != null => s.toString.split(",").toSeq
        case other => throw new IllegalArgumentException(
          s"count_in_set word list must be a string literal, got $other")
      })),
    fn("sorted_intersect_count", "sorted_intersect_count(array<long>, array<long>) - |A ∩ B| of two sorted arrays (merge walk)")(
      a => sortedIntersectCount(c(a.head), c(a(1)))),
    fn("normalize_ws", "normalize_ws(str) - lowercase, 0x20-trim, \\s+ runs collapsed (one byte scan)")(
      a => normalizeWs(c(a.head))),
    fn("ws_tokens", "ws_tokens(str) - whitespace tokens of normalize_ws (one byte scan)")(
      a => wsTokens(c(a.head))),
    fn("count_punct", "count_punct(str) - code points outside ASCII alnum/\\s (regex-free)")(
      a => countPunct(c(a.head))),
    fn("count_upper_ascii", "count_upper_ascii(str) - [A-Z] count (regex-free)")(
      a => countUpperAscii(c(a.head))),
    fn("count_token_runs", "count_token_runs(str) - letter runs | digit runs | other code points (BPE-ish lexer count)")(
      a => countTokenRuns(c(a.head))))

  /** Register every graft function on a live session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, i, b) => Bridge.registerFunction(spark, name, i, b) }
}
