package graft

import org.apache.spark.sql.SparkSession

/** Materialize (or reuse) a scaled corpus dir, printing the path — the
  * shared entry the measurement tooling (Profile A/Bs,
  * tools/baseline_pandas.py decade pairs, the curation end-to-end
  * bench) uses to agree on ONE scaled corpus instead of each
  * regenerating its own.
  *
  * Two modes:
  *   - `bijective` (default): [[graft.sources.ScaledCorpus]] — copies
  *     are token-disjoint, so hash-keyed work scales exactly linearly
  *     and the corpus keeps the SOURCE's (near-zero) duplicate rate.
  *   - `dup`: factor copies with TEXT PRESERVED (doc_ids offset) —
  *     every document has exactly `factor` exact copies, the
  *     high-duplicate-rate crawl regime the keep-one-per-key dedup
  *     family exists for. Documents table only.
  *   - `crawl`: factor copies with a STOPWORD-PRESERVING letter-suffix
  *     token bijection (copy i>0 suffixes every non-stopword token
  *     with a base-26 copy tag). Unlike ScaledCorpus's `~i` suffix —
  *     which zeroes the stopword count and adds a punctuation char per
  *     token, so quality-gated pipelines drop every copy at the first
  *     filter — this keeps n_stop, punct_ratio, and n_tok in their
  *     original ranges while making content/shingles copy-distinct:
  *     the instrument for measuring a quality-gated CURATION pipeline
  *     whose content diversity must genuinely scale through every
  *     stage (within-copy near-dup geometry is preserved exactly; the
  *     only cross-copy sharing is all-stopword shingles). Documents
  *     table only.
  *
  * Usage: runMain graft.ScaleGen <srcSfDir> [factor=10] [bijective|dup|crawl]
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val factor = if (args.length > 1) args(1).toInt else 10
    val mode = if (args.length > 2) args(2) else "bijective"
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = mode match {
      case "dup"       => dupDir(spark, srcDir, factor)
      case "crawl"     => crawlDir(spark, srcDir, factor)
      case "embed"     => embedDir(spark, srcDir, factor)
      case "bijective" => graft.sources.ScaledCorpus.dir(spark, srcDir, factor)
      case other       => sys.error(s"unknown mode: $other")
    }
    println(s"[scalegen] $out")
    spark.stop()
  }

  /** The `kind` corpus dir under java.io.tmpdir, written by `write`
    * unless already published: collision-resistant path token +
    * atomic marker-gated publication (r16, ADVICE), shared with
    * ScaledCorpus via sources.CorpusCache. */
  private def publish(kind: String, srcDir: String, factor: Int)
                     (write: String => Unit): String = {
    import graft.sources.CorpusCache
    val out = java.nio.file.Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_${kind}_${factor}x_${CorpusCache.pathToken(srcDir)}").toString
    CorpusCache.publish(out, s"_GRAFT_${kind.toUpperCase}", s"$srcDir factor=$factor v1")(write)
  }

  /** Text-preserving duplicate corpus (marker-cached like
    * [[graft.sources.ScaledCorpus.dir]]): `factor` copies of
    * documents, copy i with doc_ids offset i·10⁸, text/lang/source/
    * n_chars verbatim — duplicate rate (factor-1)/factor by
    * construction. */
  def dupDir(spark: SparkSession, srcDir: String, factor: Int): String = {
    import org.apache.spark.sql.functions._
    publish("dup", srcDir, factor) { dir =>
      val docs = graft.sources.Tables.documents(spark, srcDir)
        .select("doc_id", "text", "lang", "source", "n_chars")
      (0 until factor).map { i =>
        if (i == 0) docs
        else docs.withColumn("doc_id", col("doc_id") + lit(i * 100000000L))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
  }

  /** Embeddings-ONLY scaled dir — the quantizer family's deep-decade
    * instrument ([[graft.sources.ScaledCorpus]]'s sign-flip isometry
    * construction, without the documents/events tables: a 1000×
    * factor over the full corpus would be ~15 GB of text nothing
    * reads; the embeddings alone are ~0.5 GB). Copy i sign-flips each
    * coordinate by a seeded pattern — an isometry, so norms and all
    * within-copy cosines are bit-exact while cross-copy cosines
    * decorrelate: per-vector work (assignment, scoring) is linear by
    * construction. vec_id offset i·10⁸ (mod-20 splits preserved). */
  def embedDir(spark: SparkSession, srcDir: String, factor: Int): String = {
    import org.apache.spark.sql.functions._
    publish("embed", srcDir, factor) { dir =>
      val emb = graft.sources.Tables.embeddings(spark, srcDir)
        .select("vec_id", "embedding", "label")
      val dimRow = emb.agg(max(size(col("embedding")))).collect()(0)
      require(!dimRow.isNullAt(0),
        s"embeddings table under $srcDir is empty — nothing to scale")
      val dim = dimRow.getInt(0)
      require(dim <= 128,
        s"embeddings dim $dim exceeds the 128-coordinate sign-flip pattern")
      (0 until factor).map { i =>
        if (i == 0) emb
        else {
          val signs = array((0 until 128).map { j =>
            val r = graft.functions.TextHash.mix64((i.toLong << 32) ^ j.toLong)
            lit(if ((r & 1L) == 1L) -1.0f else 1.0f)
          }: _*)
          emb.select(
            (col("vec_id") + lit(i * 100000000L)).as("vec_id"),
            transform(col("embedding"),
              (x, j) => x * element_at(signs, j + 1)).as("embedding"),
            col("label"))
        }
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
  }

  /** Quality-stat-preserving diverse corpus (see the `crawl` mode doc):
    * copy i>0 suffixes every non-stopword token with `q` + base-26(i),
    * doc_ids offset i·10⁸; stopwords, whitespace structure, and
    * punctuation counts are untouched. */
  def crawlDir(spark: SparkSession, srcDir: String, factor: Int): String = {
    import org.apache.spark.sql.functions._
    publish("crawl", srcDir, factor) { dir =>
      val stops = graft.operators.TextAnalysis.stopwords
      def b26(i: Int): String =
        if (i < 26) ('a' + i).toChar.toString
        else b26(i / 26 - 1) + ('a' + i % 26).toChar
      val docs = graft.sources.Tables.documents(spark, srcDir)
        .select("doc_id", "text", "lang", "source", "n_chars")
      (0 until factor).map { i =>
        if (i == 0) docs
        else {
          val tag = lit("q" + b26(i - 1))
          val remapped = array_join(
            transform(split(col("text"), "\n"), line =>
              array_join(
                transform(split(line, " "), t =>
                  when(t === "" || lower(t).isin(stops: _*), t)
                    .otherwise(concat(t, tag))),
                " ")),
            "\n")
          docs.select(
            (col("doc_id") + lit(i * 100000000L)).as("doc_id"),
            remapped.as("text"), col("lang"), col("source"),
            length(remapped).as("n_chars"))
        }
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
  }
}
