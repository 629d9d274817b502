package graft

/** Generative regex-dialect probe for q_redact_pii and q_strip_markup
  * (the Spark half).
  *
  * The crafted-rows check (tools/check_pii_parity.py) pins the known
  * dialect hazards; this closes the CLASS of drift: a seeded grammar
  * emits hundreds of documents mixing digit runs, separators, parens,
  * '+', '@', unicode words, and near-miss PII shapes, and the Spark
  * redaction result is dumped as parquet. tools/check_pii_parity.py
  * mirrors the exact same generator (same LCG constants, same atom
  * table — drift between the two generators fails its corpus-equality
  * check loudly), runs the SHIPPED oracle SQL over the same rows in
  * DuckDB, and diffs counts and redacted text row by row.
  *
  * Usage: sbt "runMain graft.PiiGen /tmp/pii_gen [nDocs]"
  */
object PiiGen {

  // Atom table and LCG are MIRRORED in tools/check_pii_parity.py —
  // change both together (the tool's corpus-equality check enforces it).
  private val atoms: Array[String] = Array(
    "alpha", "beta", "call", "now", "year", "was", "good",
    "héllo", "naïve", "токен", "数字",
    "7", "42", "555", "1234", "55512", "4155551234", "19991231",
    "123456789012345", "0", "00",
    "+", "-", "--", "(", ")", "@", ".", "..", "+1", "+44", "(555)",
    "192.168.0.1", "999.999.999.999", "10.0.0.256", "1.2.3.4.5",
    "user@example.com", "a@b.co", "@example.com", "user@",
    "12345678@mail.com", "+1 (555) 123-4567", "+44 20 7946 0958",
    "555-123-4567", "(555) 123-4567", "555 123 4567", "5551234567",
    "2020-01-02", "1-10", "v2.0.1",
    // markup shapes for the q_strip_markup half of the probe (tags,
    // entities, escaped escapes, malformed fragments, stray brackets)
    "<b>", "</p>", "<div class=\"x\">", "<br/>", "<notclosed",
    "a<b", ">stray", "&amp;", "&lt;", "&nbsp;", "&amp;lt;", "&bogus;",
    // URL shapes for the q_url_stats half (and they stress the IP/phone
    // boundary classes: hosts are dotted digit-letter runs)
    "https://www.Example.COM/path", "http://example.com:8080/x?y=1",
    "http://other.org", "https://192.168.0.1/admin", "ftp://nope.net",
    "http://", "https://sub.domain.co.uk/a,b.(c)")

  private val seps = Array(" ", " ", " ", "", "-", ".")

  /** Deterministic corpus: 64-bit LCG (Knuth MMIX constants), atom
    * picks from the high bits. Long overflow wraps identically to the
    * tool's masked Python arithmetic. */
  def corpus(n: Int, seed: Long = 20260812L): Seq[(Long, String)] = {
    var s = seed
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
    def ni(bound: Int): Int = ((next() >>> 33) % bound).toInt
    (0 until n).map { id =>
      val k = 3 + ni(13)
      val sb = new StringBuilder
      for (i <- 0 until k) {
        if (i > 0) sb.append(seps(ni(seps.length)))
        sb.append(atoms(ni(atoms.length)))
      }
      (id.toLong, sb.toString)
    }
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val n = if (args.length > 1) args(1).toInt else 400
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val docs = corpus(n).toDF("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$outDir/input")
    graft.operators.TextAnalysis.redactPii(docs)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/redacted")
    // the markup half of the dialect probe (tag/entity patterns share
    // the PII patterns' Java∩RE2 discipline and the same drift class)
    graft.operators.TextAnalysis.stripMarkup(docs)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/stripped")
    // the same injection view the driver query + oracle use, so the
    // domain rollups compare over identical text
    graft.operators.TextAnalysis.urlStats(SparkEntry.urlView(docs))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/urls")
    spark.stop()
  }
}
