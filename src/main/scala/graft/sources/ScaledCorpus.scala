package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Locally-synthesized "next decade" documents corpus — the second
  * measurement step for the scale-slope envelopes (ScaleSpec, Bench's
  * `slope2` block). The driver only ships sf ≤ 0.1, so every slope
  * claim would otherwise rest on the single sf0.01→sf0.1 step, where
  * fixed per-stage floors still contribute; this corpus extends the
  * measurement to sf0.1 → 10×-sf0.1 with NO driver dependency.
  *
  * Construction: `factor` copies of the source documents, copy 0
  * verbatim, copy i>0 with every whitespace token suffixed `~i`
  * (newlines preserved — line-level operators keep their structure)
  * and doc_ids offset by i·10⁸. The remap is a token-level BIJECTION
  * per copy, so within a copy every token/shingle/line statistic —
  * Jaccard between any two docs, line duplication, quality metrics,
  * per-source totals — is IDENTICAL to the original corpus, while
  * copies share no token with each other or with copy 0.
  *
  * That makes the expected scaling of every hash-keyed operator
  * EXACTLY LINEAR by construction (near-dup pairs, repeated lines,
  * shared shingles exist only within a copy: pairs(N×) = N·pairs(1×)),
  * which is the point — a tight (~2× headroom over linear) envelope on
  * this corpus isolates PLAN/MECHANICAL regressions (arrays riding a
  * candidate exchange, a lost prune, driver-side quadratic loops,
  * AQE serialization) from the semantics-driven superlinearity that
  * the real-data sf0.01→sf0.1 step measures, where shingle document
  * frequency genuinely grows with corpus size and the envelope must
  * be loose (see ScaleSpec's 150× prefix-join bound). The two decades
  * answer different questions; both are pinned.
  *
  * Deterministic and cached: the output carries a marker recording
  * (source, factor, construction version); a matching marker skips
  * regeneration, so Bench reruns pay ~0. */
object ScaledCorpus {

  private val version = "v3" // v2: +events.parquet; v3: +embeddings.parquet

  /** Directory containing scaled documents.parquet AND events.parquet
    * (generated on first call, reused after). Layout matches the
    * driver's testdata dirs, so `Tables.documents(spark, dir)` /
    * `Tables.events(spark, dir)` read it unchanged.
    *
    * Events construction mirrors the documents bijection: `factor`
    * copies, copy 0 verbatim, copy i>0 with user_id offset i·10⁸ and
    * event_id offset i·10⁹, ts/type/value/props PRESERVED — so every
    * per-user series (the window partition key of the whole
    * time-series family) is an exact replica under a fresh key, and
    * the expected scaling of windowed/sessionized/keyed-dedup
    * operators is exactly linear by construction: 10× the window
    * partitions at identical per-partition size, zero cross-copy
    * interaction. */
  def dir(spark: SparkSession, srcDir: String, factor: Int = 10): String = {
    require(factor >= 2, s"a scaled corpus needs factor >= 2: $factor")
    // digest-keyed path + atomic publish (CorpusCache — the r16
    // ADVICE fix applied to every cached synthetic corpus)
    val out = Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_scaled_${factor}x_${CorpusCache.pathToken(srcDir)}").toString
    CorpusCache.publish(out, "_GRAFT_SCALED",
      s"$srcDir factor=$factor $version") { tmpDir =>
      val docs = Tables.documents(spark, srcDir)
        .select("doc_id", "text", "lang", "source", "n_chars")
      val copies: Seq[DataFrame] = (0 until factor).map { i =>
        if (i == 0) docs
        else {
          // suffix every token, preserving line breaks and runs of
          // spaces (empty split segments pass through untouched)
          val remapped = array_join(
            transform(split(col("text"), "\n"), line =>
              array_join(
                transform(split(line, " "), t =>
                  when(t === "", t).otherwise(concat(t, lit(s"~$i")))),
                " ")),
            "\n")
          docs.select(
            (col("doc_id") + lit(i * 100000000L)).as("doc_id"),
            remapped.as("text"), col("lang"), col("source"),
            length(remapped).as("n_chars"))
        }
      }
      copies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$tmpDir/documents.parquet")
      // events: ts arrives normalized (TimestampType, UTC session) and
      // is written back as plain TIMESTAMP — one of the three physical
      // encodings Tables.normalizeTs absorbs, so readers are unchanged
      val ev = Tables.events(spark, srcDir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val evCopies: Seq[DataFrame] = (0 until factor).map { i =>
        if (i == 0) ev
        else ev.select(
          (col("event_id") + lit(i * 1000000000L)).as("event_id"),
          col("ts"),
          (col("user_id") + lit(i * 100000000L)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }
      evCopies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$tmpDir/events.parquet")
      // embeddings: vec_id offset i·10⁸ (mod-20 benchmark splits are
      // PRESERVED — 10⁸ ≡ 0 mod 20), vectors sign-flipped per copy by
      // a seeded per-coordinate pattern. A signed coordinate flip is
      // an isometry: norms and all WITHIN-copy cosines are bit-exact
      // (float negation is exact), so per-copy geometry replicates
      // while cross-copy cosines decorrelate — the linear-by-
      // construction instrument for the quantizer/scoring family,
      // where per-vector work is geometry-independent.
      val emb = Tables.embeddings(spark, srcDir)
        .select("vec_id", "embedding", "label")
      // the sign pattern below covers 128 coordinates; element_at past
      // the pattern would yield NULL elements (non-ANSI) and silently
      // poison every downstream dot product — reject a regenerated
      // wider table loudly at generation time instead
      val dim = emb.agg(max(size(col("embedding")))).collect()(0).getInt(0)
      require(dim <= 128,
        s"embeddings dim $dim exceeds the 128-coordinate sign-flip pattern")
      val embCopies: Seq[DataFrame] = (0 until factor).map { i =>
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
      }
      embCopies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$tmpDir/embeddings.parquet")
    }
  }
}
