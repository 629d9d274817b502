package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExtensions
import graft.operators.Salting
import graft.sources.{Bucketed, Tables}

class ScaleSpec extends AnyFunSuite {
  import TestSession._

  test("SQL function registration: custom expressions usable from SQL") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT fingerprint64('hello world') AS fp,
        |       hamming64(CAST(5 AS BIGINT), CAST(6 AS BIGINT)) AS h,
        |       shingle_hash64(array('a','b','c','d'), 3) AS sh,
        |       simhash64(array('x','y')) AS sim,
        |       hash_embed(array('a','b'), 8) AS he""".stripMargin).collect()(0)
    val refFp = "hello world".getBytes("UTF-8")
      .foldLeft(1125899906842597L)((h, b) => h * 31L + (b & 0xff))
    assert(r.getAs[Long]("fp") == refFp)
    assert(r.getAs[Int]("h") == 2) // 101 vs 110
    assert(r.getAs[scala.collection.Seq[Long]]("sh").length == 2)
    val he = r.getAs[scala.collection.Seq[Float]]("he")
    assert(he.length == 8)
    assert(math.abs(he.map(x => x.toDouble * x).sum - 1.0) < 1e-6,
      "hash_embed must emit a unit vector")
    // the tokenizer + set-count surface: bpe under the DEFAULT merge
    // table agrees with the operator, count_in_set parses its literal
    val r2 = spark.sql(
      """SELECT bpe_count(array('hello','world')) AS c,
        |       bpe_tokens(array('hello')) AS t,
        |       count_in_set(array('the','fox','a'), 'the,a,of') AS s""".stripMargin)
      .collect()(0)
    assert(r2.getAs[Long]("c") > 0)
    assert(r2.getAs[scala.collection.Seq[String]]("t").mkString == "hello",
      "pieces must reconstruct the word")
    assert(r2.getAs[Int]("s") == 2)
  }

  test("SQL surface type safety: mistyped args fail analysis, not return junk") {
    GraftExtensions.register(spark)
    // array<int> args used to read 8-byte strides over 4-byte elements
    // and silently return garbage counts; ExpectsInputTypes turns that
    // into an analysis error (ANSI coercion does not widen array
    // element types implicitly), and an explicit bigint array works
    val ok = spark.sql(
      """SELECT sorted_intersect_count(CAST(array(1, 2, 3) AS array<bigint>),
        |                              CAST(array(2, 3, 9) AS array<bigint>)) AS c"""
        .stripMargin).collect()(0)
    assert(ok.getAs[Int]("c") == 2)
    import org.apache.spark.sql.AnalysisException
    intercept[AnalysisException] {
      spark.sql("SELECT sorted_intersect_count(array(1), array(1))").collect()
    }
    intercept[AnalysisException] {
      spark.sql("SELECT sorted_intersect_count(array('a'), array('a'))").collect()
    }
    intercept[AnalysisException] {
      spark.sql("SELECT simhash64(CAST(5 AS BIGINT))").collect()
    }
    intercept[AnalysisException] {
      spark.sql("SELECT count_punct(array('a'))").collect()
    }
  }

  test("extensions class injects the same functions at build time") {
    val fns = GraftExtensions.functions
    assert(fns.map(_._1).toSet == Set("fingerprint64", "simhash64", "minhash_sig",
      "hamming64", "dot_fd", "shingle_hash64", "rhp_sig", "hash_embed",
      "bpe_count", "bpe_tokens", "count_in_set", "sorted_intersect_count",
      "normalize_ws", "ws_tokens", "count_punct", "count_upper_ascii",
      "count_token_runs"))
    // builders construct valid expressions from literal args
    import org.apache.spark.sql.catalyst.expressions.Literal
    val mh = fns.find(_._1 == "minhash_sig").get._3(
      Seq(Literal.create(Array("a", "b")), Literal(64)))
    assert(mh.dataType.typeName == "array")
  }

  test("salted aggregation equals the direct aggregate") {
    val ev = Tables.events(spark, sfDir)
    val direct = ev.groupBy("user_id")
      .agg(sum("value").as("sum_value"), count(lit(1)).as("n_rows"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    val salted = Salting.saltedAgg(ev, "user_id", "event_id", "value")
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(salted.keySet == direct.keySet)
    salted.foreach { case (k, (s, n)) =>
      assert(n == direct(k)._2)
      assert(math.abs(s - direct(k)._1) < 1e-6)
    }
  }

  test("salted join equals the direct join") {
    val orders = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    val lineitem = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"), col("l_quantity"))
    val direct = lineitem.join(orders, "o_orderkey").count()
    val salted = Salting.saltedJoin(lineitem, orders, "o_orderkey", "l_linenumber").count()
    assert(salted == direct)
  }

  test("operator caches register and drain through the Caches registry") {
    import graft.operators.{Caches, Dedup}
    // other suites share this session and may hold their own caches;
    // assert on deltas, not absolutes
    Caches.releaseAll()
    val baseline = spark.sparkContext.getPersistentRDDs.size
    val docs = Tables.documents(spark, sfDir)
    Dedup.minhashPairs(docs).count()
    assert(Caches.trackedCount == 1, "minhashPairs should track its shingle cache")
    assert(spark.sparkContext.getPersistentRDDs.size == baseline + 1)
    Caches.releaseAll()
    assert(Caches.trackedCount == 0)
    assert(spark.sparkContext.getPersistentRDDs.size == baseline,
      "operator cache blocks may not outlive releaseAll")
  }

  test("cache scopes isolate interleaved pipelines: releasing one keeps the other") {
    import graft.operators.{Caches, Dedup}
    Caches.releaseAll()
    val baseline = spark.sparkContext.getPersistentRDDs.size
    val docs = Tables.documents(spark, sfDir)
    val scopeA = Caches.newScope("pipeA")
    val scopeB = Caches.newScope("pipeB")
    // two pipelines interleaved in the same session, each constructed
    // under its own scope; the two persisted frames are DISTINCT plans
    // (minhash caches the shingle frame, simhash its signature frame) —
    // Spark's CacheManager dedupes identical ones
    val pairsA = Caches.in(scopeA)(Dedup.minhashPairs(docs))
    val pairsB = Caches.in(scopeB)(Dedup.simhashPairs(docs))
    pairsA.count()
    pairsB.count()
    assert(Caches.trackedCount(scopeA) == 1 && Caches.trackedCount(scopeB) == 1)
    assert(spark.sparkContext.getPersistentRDDs.size == baseline + 2)
    // draining pipeline A must NOT evict pipeline B's cache mid-flight
    Caches.release(scopeA)
    assert(Caches.trackedCount(scopeA) == 0)
    assert(Caches.trackedCount(scopeB) == 1,
      "releasing scope A evicted scope B's cache")
    assert(spark.sparkContext.getPersistentRDDs.size == baseline + 1)
    // B still computes correctly on its intact cache
    assert(pairsB.count() >= 0)
    Caches.release(scopeB)
    assert(Caches.trackedCount == 0)
    assert(spark.sparkContext.getPersistentRDDs.size == baseline)
    // releaseAll still drains scoped leftovers (the entry-point drain)
    Caches.in(scopeA)(Caches.persistTracked(docs.limit(1))).count()
    assert(Caches.trackedCount == 1)
    Caches.releaseAll()
    assert(Caches.trackedCount == 0)
  }

  test("cache scopes survive SHARED plans: CacheManager is plan-keyed, release is not") {
    import graft.operators.Caches
    Caches.releaseAll()
    val docs = Tables.documents(spark, sfDir)
    val scopeA = Caches.newScope("sharedA")
    val scopeB = Caches.newScope("sharedB")
    // two scopes persist the SAME logical plan — Spark's CacheManager
    // holds ONE cache entry for both handles, so a naive plan-keyed
    // unpersist from scope A would evict B's data mid-flight
    val fA = Caches.in(scopeA)(Caches.persistTracked(docs.select("doc_id", "source")))
    val fB = Caches.in(scopeB)(Caches.persistTracked(docs.select("doc_id", "source")))
    fA.count(); fB.count()
    def cached(df: org.apache.spark.sql.DataFrame): Boolean =
      df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    assert(cached(fB))
    Caches.release(scopeA)
    assert(Caches.trackedCount(scopeA) == 0 && Caches.trackedCount(scopeB) == 1)
    assert(cached(fB), "releasing scope A evicted B's shared-plan cache")
    // the LAST registration's release really drops the entry
    Caches.release(scopeB)
    assert(!cached(fB))
    // the SAME handle registered under two scopes: releasing one scope
    // must not evict it either (the registries share the Dataset object)
    val scopeC = Caches.newScope("sharedC")
    val scopeD = Caches.newScope("sharedD")
    val same = docs.select("doc_id")
    Caches.in(scopeC)(Caches.persistTracked(same))
    Caches.in(scopeD)(Caches.persistTracked(same))
    same.count()
    Caches.release(scopeC)
    assert(cached(same), "releasing scope C evicted the same-handle cache scope D tracks")
    Caches.release(scopeD)
    assert(!cached(same))
  }

  test("LSH bucket-skew probes report sane populations") {
    import graft.operators.{Dedup, Similarity}
    val m = Dedup.minhashBucketStats(Tables.documents(spark, sfDir)).collect()(0)
    assert(m.getAs[Long]("n_buckets") > 0)
    assert(m.getAs[Long]("max_bucket") >= 1)
    val r = Similarity.rhpBucketStats(Tables.embeddings(spark, sfDir)).collect()(0)
    assert(r.getAs[Long]("n_buckets") > 0)
    // candidate volume stays far below the O(n^2) pair space
    val n = Tables.embeddings(spark, sfDir).count()
    assert(r.getAs[Long]("n_cand_pairs") < n * (n - 1) / 2)
  }

  test("LSH bucket-skew stays within enforced bounds at the bench SFs") {
    // the bench logs these populations (`lsh_buckets`) but a JSON
    // nobody diffs is not a gate — a hashing/banding regression that
    // concentrates one hot bucket (quadratic candidate blowup, the
    // 100 TB straggler) must FAIL the suite. Bounds are set from the
    // round-5 measurements with explicit headroom; if a legitimate
    // change trips them, re-measure and move them consciously.
    //   minhash (k=128, bands=16): max_bucket 3-4 and cand_pairs
    //     ~0.65n at every SF -> bounds 32 (8x) and 4n (6x).
    //   rhp (nPlanes=6, tables=8): max_bucket ~2.5x the n/2^6 mean
    //     (80 at n=2000), cand_pairs ~14% of the n(n-1)/2 brute-force
    //     space -> bounds 8x the mean (3x headroom) and 35% (2.5x).
    import graft.operators.{Dedup, Similarity}
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
         if new java.io.File(dir).isDirectory) {
      val nDocs = Tables.documents(spark, dir).count()
      val m = Dedup.minhashBucketStats(Tables.documents(spark, dir)).collect()(0)
      assert(m.getAs[Long]("max_bucket") <= 32,
        s"$dir minhash hot bucket: ${m.getAs[Long]("max_bucket")} > 32")
      assert(m.getAs[Long]("n_cand_pairs") <= 4 * nDocs,
        s"$dir minhash candidate blowup: ${m.getAs[Long]("n_cand_pairs")} > 4n")
      val nEmb = Tables.embeddings(spark, dir).count()
      val r = Similarity.rhpBucketStats(Tables.embeddings(spark, dir)).collect()(0)
      val meanBucket = math.max(1L, nEmb / 64) // n / 2^nPlanes
      assert(r.getAs[Long]("max_bucket") <= 8 * meanBucket,
        s"$dir rhp hot bucket: ${r.getAs[Long]("max_bucket")} > 8*mean($meanBucket)")
      assert(r.getAs[Long]("n_cand_pairs") <= (0.35 * nEmb * (nEmb - 1) / 2).toLong,
        s"$dir rhp candidates: ${r.getAs[Long]("n_cand_pairs")} > 35% of brute force")
    }
  }

  test("crawl-mode scaled corpus preserves the quality gate exactly per copy") {
    // the r15 curation-bench instrument (ScaleGen crawl mode) rests on
    // one property: the stopword-preserving letter-suffix bijection
    // must not flip ANY document's quality verdict, so the gated
    // stage counts scale EXACTLY xfactor (BASELINE r15 relies on the
    // measured 47500 -> 40360 = 10 x 4750 -> 4036 at sf0.1; this pins
    // it executably at sf0.001). Later stages (decontam/near-dup) are
    // only near-linear by design — all-stopword shingles do cross
    // copies — so only the per-copy-local stages are pinned.
    import org.apache.spark.sql.functions._
    val factor = 3
    val dir = ScaleGen.crawlDir(spark, sfDir, factor)
    val base = Tables.documents(spark, sfDir)
    val scaled = Tables.documents(spark, dir)
    assert(scaled.count() == factor * base.count())
    def qualityPass(d: org.apache.spark.sql.DataFrame): Long =
      graft.operators.TextAnalysis.qualityFilter(
          d.withColumn("text", graft.operators.TextAnalysis.cleanMarkup(col("text"))))
        .filter(col("keep") === 1).count()
    assert(qualityPass(scaled) == factor * qualityPass(base),
      "letter-suffix remap must not flip any quality verdict")
  }

  test("range-join fan-out probe equals the real pre-filter candidate volume") {
    // the bench emits range_join_stats from bucket HISTOGRAMS (never
    // the join itself) — pin that the histogram arithmetic equals the
    // equi-join it predicts, on the real events table
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sfDir)
    val s = graft.operators.TimeSeries.rangeJoinStats(ev).collect()(0)
    val W = 1800L
    val epoch = col("ts").cast("long")
    val inc = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("incident_id"), epoch.as("start_s"))
      .select(col("incident_id"),
        explode(expr(s"sequence(start_s div ${W}L, (start_s + ${W - 1}L) div ${W}L)"))
          .as("bucket"))
    val facts = ev.select(epoch.as("ts_s"))
      .select(expr(s"ts_s div ${W}L").as("bucket"))
    val realCand = inc.join(facts, "bucket").count()
    assert(s.getAs[Long]("cand_rows") == realCand,
      s"probe cand_rows ${s.getAs[Long]("cand_rows")} != real $realCand")
    assert(s.getAs[Long]("n_incidents") ==
      ev.filter(col("event_type") === "error").count())
    assert(s.getAs[Long]("max_bucket_cand") <= s.getAs[Long]("cand_rows"))
    assert(s.getAs[Long]("n_buckets") >= 1)
  }

  test("approx quantiles honor the GK rank-error bound vs exact data") {
    // q_quantiles' exact percentile buffers the whole column on one
    // reducer — quantilesApprox is the 100 TB path. Its contract is a
    // RANK guarantee (returned value's rank within n/accuracy of the
    // true rank), so that is what we pin: for each q, the target rank
    // q·n must fall inside [rank_lo, rank_hi] of the returned value,
    // widened by ε·n plus a few ranks of slack for the 4dp
    // presentation rounding.
    import graft.operators.TimeSeries
    val accuracy = 10000
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
         if new java.io.File(dir).isDirectory) {
      val ev = Tables.events(spark, dir).select("value").cache()
      try {
        val n = ev.count().toDouble
        val slack = n / accuracy + 4 // ε·n + rounding ties
        val approx = TimeSeries.quantilesApprox(
            ev, accuracy = accuracy)
          .collect().map(r => r.getDouble(0) -> r.getDouble(1))
        assert(approx.length == 4)
        approx.foreach { case (q, v) =>
          val Array(lo, hi) = ev.agg(
            sum(when(col("value") < v, 1L).otherwise(0L)),
            sum(when(col("value") <= v, 1L).otherwise(0L)))
            .collect()(0).toSeq.map(_.asInstanceOf[Long].toDouble).toArray
          val target = q * n
          assert(target >= lo - slack && target <= hi + slack,
            s"$dir q=$q: approx value $v has rank [$lo,$hi], " +
              s"target $target outside ±$slack")
        }
      } finally ev.unpersist()
    }
  }

  test("bucketed join runs without any Exchange (no shuffle, no sort)") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Bucketed.dropTable(spark, "orders_b")
      Bucketed.dropTable(spark, "lineitem_b")
      Bucketed.writeBucketed(
        Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice"),
        "orders_b", "o_orderkey")
      Bucketed.writeBucketed(
        Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
        "lineitem_b", "o_orderkey")
      val joined = Bucketed.readBucketed(spark, "lineitem_b")
        .join(Bucketed.readBucketed(spark, "orders_b"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("reRegister derives the bucket spec from the data's marker, not the caller") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val table = "bucket_marker_t"
    Bucketed.dropTable(spark, table)
    try {
      // written with a NON-default bucket count
      Bucketed.writeBucketed(
        Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice"),
        table, "o_orderkey", buckets = 4)
      // simulate the restart: catalog entry gone, directory intact
      val wh = new java.io.File(
        Bucketed.warehousePath(spark, table).toUri.getPath)
      val aside = tempDir("graft-bm-aside")
        .resolve("data").toFile
      org.apache.commons.io.FileUtils.copyDirectory(wh, aside)
      Bucketed.dropTable(spark, table)
      org.apache.commons.io.FileUtils.copyDirectory(aside, wh)
      // re-registration passes the DEFAULT (8) — the marker must win,
      // or every bucket-trusting join against this table is silently
      // wrong
      assert(Bucketed.reRegister(spark, table,
        "o_orderkey BIGINT, o_totalprice DOUBLE", "o_orderkey"))
      val spec = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(table)).bucketSpec
      assert(spec.map(_.numBuckets).contains(4),
        s"re-registered bucket spec must come from the marker: $spec")
      assert(Bucketed.readBucketed(spark, table).count() ==
        Tables.orders(spark, sfDir).count())

      // a marker contradicting the part files must refuse to register
      Bucketed.dropTable(spark, table)
      org.apache.commons.io.FileUtils.copyDirectory(aside, wh)
      // write through the Hadoop FS (the local FS keeps .crc sidecars;
      // a raw java.nio overwrite would trip ChecksumException instead
      // of exercising the validation)
      val mp = new org.apache.hadoop.fs.Path(wh.toString, "_graft_buckets")
      val hf = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = hf.create(mp, true)
      try out.write("2 o_orderkey\n".getBytes("UTF-8")) finally out.close()
      intercept[IllegalArgumentException] {
        Bucketed.reRegister(spark, table,
          "o_orderkey BIGINT, o_totalprice DOUBLE", "o_orderkey")
      }

      // a directory with NO marker is refused by default (the caller's
      // count is a guess; data in 4 buckets declared as 8 would pass
      // the maxId < n check and register a silently-wrong spec) ...
      hf.delete(mp, false)
      intercept[IllegalArgumentException] {
        Bucketed.reRegister(spark, table,
          "o_orderkey BIGINT, o_totalprice DOUBLE", "o_orderkey")
      }
      // ... and registers only under the explicit opt-in, with the
      // declared count actually matching the data
      assert(Bucketed.reRegister(spark, table,
        "o_orderkey BIGINT, o_totalprice DOUBLE", "o_orderkey", buckets = 4,
        trustDeclaredSpec = true))
      val spec2 = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(table)).bucketSpec
      assert(spec2.map(_.numBuckets).contains(4))
    } finally Bucketed.dropTable(spark, table)
  }

  test("streaming membership vs the two-tier store: only the batch shuffles") {
    import graft.operators.TextAnalysis
    import graft.streaming.CorpusIngest
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val table = "corpus_hashes_tier_t"
    val deltaDir = tempDir("graft-tier-d").toString
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val docs = Tables.documents(spark, sfDir)
      Bucketed.dropTable(spark, table)
      // base: "compacted" hashes of half the corpus; delta: one
      // uncompacted batch partition of a quarter
      Bucketed.writeBucketed(
        docs.filter(col("doc_id") % 2 === 0)
          .select(TextAnalysis.contentHash(col("text")).as("content_hash"),
            (col("doc_id") % 3).as("batch_id")).distinct(),
        table, "content_hash")
      docs.filter(col("doc_id") % 4 === 1)
        .select(TextAnalysis.contentHash(col("text")).as("content_hash"))
        .write.mode("overwrite").parquet(s"$deltaDir/batch_id=100")
      val batch = docs.filter(col("doc_id") % 4 === 3)
      val out = CorpusIngest.survivorsBucketed(batch, 200L, table, deltaDir)
      val plan = out.queryExecution.executedPlan.toString
      // the bucketed base satisfies its anti-join distribution from the
      // catalog and the delta tail joins broadcast: the only hash
      // exchange is the batch side's, and the keep-min window reuses it
      assert(plan.split("Exchange hashpartitioning").length - 1 == 1,
        s"expected only the batch-side exchange:\n$plan")
      assert(plan.contains("BroadcastExchange"),
        s"delta tail must join broadcast:\n$plan")
      // semantics: survivors = batch content absent from base and
      // delta, lowest doc_id per content
      val baseH = spark.table(table).collect().map(_.getString(0)).toSet
      val deltaH = spark.read.parquet(deltaDir).collect().map(_.getString(0)).toSet
      val expect = batch
        .select(col("doc_id"), TextAnalysis.contentHash(col("text")).as("h"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .filterNot(x => baseH(x._2) || deltaH(x._2))
        .groupBy(_._2).map { case (h, xs) => (h, xs.map(_._1).min) }.toMap
      val got = out.collect()
        .map(r => (r.getAs[String]("content_hash"), r.getAs[Long]("doc_id"))).toMap
      assert(got == expect)
    } finally {
      Bucketed.dropTable(spark, table)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("embed-LSH shuffle volume slope stays within its candidate-growth envelope") {
    // round-5 bench measured q_dedup_embed_lsh's exchange bytes at
    // 13.9× for the sf0.01→sf0.1 step (10× vectors): superlinear
    // because candidate pairs grow with bucket occupancy (fixed
    // 2^nPlanes buckets per table ⇒ pair space trends toward n²/2^k
    // as buckets fill), but FAR below quadratic at these occupancies,
    // and — the load-bearing property — the exchanges carry 24-byte
    // id rows, never vectors. The bound (25×, ~1.8× headroom over
    // measured) catches both a bucketing regression (hot buckets →
    // candidate blowup) and a plan regression that puts the ~KB
    // vectors back on the candidate exchange, either of which jumps
    // the byte slope far past it.
    import graft.monitoring.PlanMetrics
    import graft.operators.Similarity
    val dirs = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    assume(dirs.forall(new java.io.File(_).isDirectory))
    val bytes = dirs.map { dir =>
      val out = Similarity.embedDedupLsh(Tables.embeddings(spark, dir))
      out.collect()
      val b = PlanMetrics.shuffleStats(out).bytesWritten
      graft.operators.Caches.releaseAll()
      assert(b > 0, s"$dir: no shuffle bytes recorded — measurement broke")
      b
    }
    val slope = bytes(1).toDouble / bytes(0)
    assert(slope <= 25.0,
      s"embed-LSH shuffle slope $slope (${bytes(0)} -> ${bytes(1)} bytes) " +
        "exceeds the 25x envelope for a 10x data step")
  }

  test("near-dup membership vs the band store: only the batch shuffles") {
    import graft.operators.Dedup
    import graft.streaming.{CorpusIngest, NearDupStore}
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val bandDir = tempDir("graft-band-d").toString
    val nd = NearDupStore("corpus_bands_tier_t", bandDir)
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val docs = Tables.documents(spark, sfDir)
      Bucketed.dropTable(spark, nd.table)
      // base: band keys of half the corpus; delta: one uncompacted batch
      Bucketed.writeBucketed(
        Dedup.bandKeys(docs.filter(col("doc_id") % 2 === 0))
          .select(col("bb"), col("band"), (col("doc_id") % 3).as("batch_id")),
        nd.table, "bb")
      Dedup.bandKeys(docs.filter(col("doc_id") % 4 === 1))
        .select("bb", "band")
        .write.mode("overwrite").parquet(s"$bandDir/batch_id=100")
      val batch = docs.filter(col("doc_id") % 4 === 3)
        .select("doc_id", "source", "text")
      val out = CorpusIngest.nearDupFilter(batch, 200L, nd)
      val plan = out.queryExecution.executedPlan.toString
      // the bucketed base satisfies the semi-join's distribution from
      // the catalog and the delta tail + reject set join broadcast:
      // every hash exchange is batch-side — (1) the keys for the base
      // semi-join on bb, (2)+(3) the two sides of the within-batch
      // self-join on bb, (4) the matched distinct on (doc_id, band),
      // (5) the per-doc band count on doc_id. All five are bounded by
      // the TRIGGER, not the corpus. The store never shuffles.
      assert(plan.split("Exchange hashpartitioning").length - 1 == 5,
        s"expected only the five batch-side exchanges:\n$plan")
      assert(plan.contains("BroadcastExchange"),
        s"delta tail and reject set must join broadcast:\n$plan")
      // semantics: a doc is dropped iff >= minBands of its band keys
      // hit the base, the delta, or an EARLIER-id batch document
      val storeKeys = spark.table(nd.table).select("bb").collect()
        .map(_.getLong(0)).toSet ++
        spark.read.parquet(bandDir).select("bb").collect().map(_.getLong(0))
      val batchKeys = Dedup.bandKeys(batch).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bb")))
      val bbOwners = batchKeys.groupBy(_._2).view
        .mapValues(_.map(_._1).min).toMap // lowest doc carrying each bb
      val expectDrop = batchKeys
        .groupBy(_._1).collect {
          // one bandKeys row per (doc, band): the matched-row count IS
          // the distinct matched-band count
          case (id, ks) if ks.count { k =>
            storeKeys(k._2) || bbOwners(k._2) < id } >= nd.minBands => id
        }.toSet
      val kept = out.collect().map(_.getAs[Long]("doc_id")).toSet
      val all = batch.collect().map(_.getAs[Long]("doc_id")).toSet
      assert(kept == all.diff(expectDrop),
        s"membership semantics drifted: dropped=${all.diff(kept)} expected=$expectDrop")
    } finally {
      Bucketed.dropTable(spark, nd.table)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("span dedup: hashes shuffle, text never enters a hash exchange") {
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val out = TextAnalysis.dedupSpans(Tables.documents(spark, sfDir), k = 20)
      val plan = out.queryExecution.executedPlan
      // every WORK exchange (hash-partitioned: the window-df aggregate,
      // the start join, the islands window) moves hash/position rows
      // only; the single text-bearing exchange is the terminal
      // presentation sort (range), which a count/write plan elides
      val hashShuffles = plan.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      assert(hashShuffles.nonEmpty)
      hashShuffles.foreach { e =>
        val names = e.output.map(_.name.toLowerCase)
        assert(!names.exists(n =>
            n.contains("text") || n.contains("toks") || n.contains("kept")),
          s"text-bearing column crossed a hash shuffle: ${names.mkString(", ")}")
      }
      // the interval table joins back broadcast, so the corpus text
      // streams map-side through the cut
      assert(plan.toString.contains("BroadcastHashJoin"),
        s"interval join-back must broadcast:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("ngram-Jaccard default: prefix pruning beats the exact expansion and its slope is bounded") {
    // The exact shared-shingle pair expansion grows superlinearly BY
    // SEMANTICS (r6 measured 40.8x time slope per 10x data: shingle
    // doc-frequency grows with the corpus, so candidate pairs grow
    // ~quadratically). The PPJoin prefix form is the shipped default
    // (q_ngram_jaccard) — identical output (SimilaritySpec), but its
    // candidate exchange carries only prefix-window matches. This pin
    // holds BOTH properties a refactor could silently lose: (a) the
    // prefix form's total exchange volume at sf0.1 stays well under
    // the exact form's, (b) its byte slope for the 10x step stays
    // inside a measured envelope (candidate growth is corpus-
    // vocabulary-driven; the envelope catches a plan regression that
    // puts shingle ARRAYS on the candidate exchange or drops the
    // prefix slice).
    import graft.monitoring.PlanMetrics
    import graft.operators.Dedup
    val dirs = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    assume(dirs.forall(new java.io.File(_).isDirectory))
    def measure(build: String => org.apache.spark.sql.DataFrame): Seq[Long] =
      dirs.map { dir =>
        val out = build(dir)
        out.collect()
        val b = PlanMetrics.shuffleStats(out).bytesWritten
        graft.operators.Caches.releaseAll()
        assert(b > 0, s"$dir: no shuffle bytes recorded — measurement broke")
        b
      }
    val prefix = measure(d => Dedup.ngramJaccardPairsPrefix(Tables.documents(spark, d)))
    val exactBig = {
      val out = Dedup.ngramJaccardPairs(Tables.documents(spark, dirs(1)))
      out.collect()
      val b = PlanMetrics.shuffleStats(out).bytesWritten
      graft.operators.Caches.releaseAll()
      b
    }
    val slope = prefix(1).toDouble / prefix(0)
    info(s"prefix bytes ${prefix(0)} -> ${prefix(1)} (slope $slope); exact@sf0.1 $exactBig")
    assert(prefix(1) < exactBig,
      s"prefix form (${prefix(1)} B) no longer beats the exact expansion ($exactBig B) at sf0.1")
    // measured 72x for the 10x step (candidate growth is vocabulary-
    // driven: shared-shingle doc-frequency rises with corpus size, so
    // SOME superlinearity is the semantics' own — the exact form
    // measures 80x+ AND 5x the absolute bytes). 150 = ~2x headroom;
    // a plan regression that ships arrays on the candidate exchange
    // or loses a prune jumps far past it.
    assert(slope <= 150.0,
      s"ngram-Jaccard prefix shuffle slope $slope (${prefix(0)} -> ${prefix(1)} bytes) " +
        "exceeds its envelope for a 10x data step")
  }

  test("AQE splits a skewed shuffle join at runtime (skew=true in the final plan)") {
    // The §5 scale posture claims AQE handles skewed fact-fact joins at
    // 100 TB; until now that was conf-only (skewJoin.enabled=true in
    // GraftSession). This proves ACTIVATION: a synthetic hot key owning
    // ~99% of the left side's rows, joined under thresholds scaled to
    // test data, must show the skew-split marker in the FINAL adaptive
    // plan — i.e., the hot partition was cut into parallel slices at
    // runtime instead of pinning one reducer (the 100 TB straggler).
    val keep = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // no broadcast (forces a shuffle join a skew split can apply to);
      // thresholds scaled down so the ~MB hot partition qualifies the
      // same way a ~GB one would under production defaults
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
      val pad = "x" * 64
      val left = spark.range(0, 200000).select(
        when(col("id") < 198000, 0L).otherwise(pmod(col("id"), lit(64)).cast("long")).as("k"),
        concat(lit(pad), col("id")).as("payload"))
      val right = spark.range(0, 64).select(col("id").as("k"),
        concat(lit("r"), col("id")).as("rv"))
      val joined = left.join(right, "k")
      // collect, not count(): count would execute a DERIVED
      // QueryExecution and leave this frame's own adaptive plan
      // unfinalized (isFinalPlan=false)
      assert(joined.collect().length == 200000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"),
        s"adaptive plan did not finalize:\n$finalPlan")
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the skewed join — no skew=true in the final plan:\n$finalPlan")
    } finally keep.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("second decade: heavy-family slopes stay near-linear on the 10x synthetic corpus") {
    // Every 100 TB slope claim above rests on the single driver-shipped
    // sf0.01→sf0.1 step, where fixed per-stage floors still contribute
    // and semantics-driven candidate growth forces LOOSE envelopes
    // (prefix join: 150×). This test adds the sf0.1 → 10×-sf0.1 decade
    // on the ScaledCorpus synthetic (token-bijective copies: every
    // within-copy statistic identical, no cross-copy sharing), where
    // the TRUE expected scaling of each operator is exactly linear by
    // construction — so the envelope can be TIGHT (≤2× headroom over
    // the 10× data ratio) and a superlinear term that hid under the
    // first decade's floor (quadratic candidate blowup, arrays on an
    // exchange, a driver-side loop over rows) blows straight past it.
    // Output-size invariants double as generator correctness pins:
    // pair/row counts at 10× must be exactly 10× the sf0.1 counts for
    // the pair-structured ops.
    import graft.monitoring.PlanMetrics
    import graft.operators.{Dedup, TextAnalysis}
    val srcDir = "/root/testdata/sf0.1"
    assume(new java.io.File(srcDir).isDirectory)
    val bigDir = graft.sources.ScaledCorpus.dir(spark, srcDir, factor = 10)
    val nSmall = Tables.documents(spark, srcDir).count()
    assert(Tables.documents(spark, bigDir).count() == 10 * nSmall,
      "scaled corpus row count drifted")
    val nEvSmall = Tables.events(spark, srcDir).count()
    assert(Tables.events(spark, bigDir).count() == 10 * nEvSmall,
      "scaled events row count drifted")

    case class Probe(name: String,
                     build: String => org.apache.spark.sql.DataFrame,
                     exactTenfoldRows: Boolean,
                     rowSlack: Long = 0L,
                     // per-row-output probes count via the executed
                     // plan's RDD instead of materializing the rows on
                     // the driver (metrics still accumulate on the
                     // SAME QueryExecution — the attribution gotcha
                     // only bites DERIVED executions like df.count())
                     viaRdd: Boolean = false)
    val probes = Seq(
      Probe("ngram_prefix", d => Dedup.ngramJaccardPairsPrefix(
        Tables.documents(spark, d)), exactTenfoldRows = true),
      // minhash rows get a FEW pairs of slack, not exactness: the token
      // remap redraws every shingle hash, so a J-in-[0.8,0.9) pair's
      // ten copies take ten INDEPENDENT ~(1-J^8)^16 all-band-miss
      // draws — measured: exactly one miss out of 2560 on this corpus
      // (the banded-recall gap SimilaritySpec documents, reproduced
      // synthetically). Verification is exact, so rows can only be
      // MISSING vs the 10x exact-pair count, never extra.
      Probe("minhash_pairs", d => Dedup.minhashPairs(
        Tables.documents(spark, d)), exactTenfoldRows = true, rowSlack = 8L),
      // the overlap matrix is source-bounded (not row-scaled): rows
      // identical across decades, bytes scale with the corpus
      Probe("source_overlap", d => Dedup.sourceOverlap(
        Tables.documents(spark, d)), exactTenfoldRows = false),
      // per-doc outputs scale exactly 10x
      Probe("bigram_logprob", d => {
        val docs = Tables.documents(spark, d)
        TextAnalysis.bigramLogprob(docs, docs.filter(col("source") =!= "src0"))
      }, exactTenfoldRows = true),
      Probe("dedup_lines", d => TextAnalysis.dedupLines(
        Tables.documents(spark, d)), exactTenfoldRows = true),
      // ---- next tier (round 10): the rest of the documents family ----
      // quality thresholds re-bucket under the token remap (the ~i
      // suffix shifts word-length stats), so rows are not an invariant
      // here — the byte slope is the pinned claim
      Probe("mix_quality", d => TextAnalysis.mixByQuality(
        Tables.documents(spark, d), Seq(4.90, 4.92), Seq(50, 100, 30)),
        exactTenfoldRows = false),
      // rows = docs appearing in some pair; each banding-missed pair
      // (see minhash_pairs above) can drop at most its 2 docs
      Probe("dedup_clusters", d => Dedup.nearDupClusters(
        Dedup.minhashPairs(Tables.documents(spark, d))),
        exactTenfoldRows = true, rowSlack = 16L),
      // one row per corpus (non-benchmark) doc — exact
      Probe("decontaminate_fuzzy", d => {
        val docs = Tables.documents(spark, d)
        Dedup.decontaminateFuzzy(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"))
      }, exactTenfoldRows = true, viaRdd = true),
      Probe("dedup_spans", d => TextAnalysis.dedupSpans(
        Tables.documents(spark, d), k = 20),
        exactTenfoldRows = true, viaRdd = true),
      Probe("hash_embed", d => graft.operators.Similarity.hashEmbedDocs(
        Tables.documents(spark, d)),
        exactTenfoldRows = true, viaRdd = true),
      // ---- events family (user-offset copies; per-user series are
      // exact replicas, so windowed/sessionized/keyed ops are linear
      // by construction and their rows exactly 10x) ----
      Probe("feature_pipeline", d => graft.operators.TimeSeries
        .featurePipeline(Tables.events(spark, d)),
        exactTenfoldRows = true, viaRdd = true),
      Probe("sessionize", d => graft.operators.TimeSeries
        .sessionize(Tables.events(spark, d)),
        exactTenfoldRows = true, viaRdd = true),
      Probe("dedup_key", d => graft.operators.Analytics
        .dedupByKey(Tables.events(spark, d)),
        exactTenfoldRows = true, viaRdd = true),
      // ---- embeddings family (sign-flip-decorrelated copies: norms
      // and within-copy cosines bit-exact, cross-copy decorrelated;
      // per-vector work is geometry-independent → linear) ----
      Probe("cluster_embed", d => graft.operators.Similarity
        .clusterEmbed(Tables.embeddings(spark, d)),
        exactTenfoldRows = true, viaRdd = true),
      // output is (k × quota)-bounded — fixed-size, not row-scaled;
      // the byte slope is the pinned claim
      Probe("mix_cluster", d => graft.operators.Similarity
        .mixByCluster(Tables.embeddings(spark, d), quota = 8),
        exactTenfoldRows = false),
      // DEPLOYMENT-shaped semantic decontamination: the benchmark is
      // pinned to the copy-0 eval vectors (vec_id < 10^8), so only the
      // corpus side grows — a real eval set is fixed while the corpus
      // scales, and the broadcast scoring is then linear by
      // construction. (The q_mix-style %20-of-everything split would
      // grow BOTH sides and make the all-pairs scoring 100x per
      // decade by semantics — which is why q_semantic_decontaminate
      // is excluded from Bench's slope2 set.) One row per corpus
      // vector: exactly 10x.
      Probe("semantic_decontam_fixed_bench", d => {
        val e = Tables.embeddings(spark, d)
        graft.operators.Similarity.semanticDecontaminate(
          e.filter(col("vec_id") % 20 =!= 0),
          e.filter(col("vec_id") % 20 === 0 && col("vec_id") < 100000000L))
      }, exactTenfoldRows = true, viaRdd = true))

    probes.foreach { p =>
      def measure(dir: String): (Long, Long) = {
        val out = p.build(dir)
        // collect (or an RDD count over the SAME executed plan), not
        // df.count(): count() executes a DERIVED QueryExecution and
        // the original plan's metrics would read empty (the
        // PlanMetrics attribution gotcha)
        val n = if (p.viaRdd) out.queryExecution.toRdd.count()
                else out.collect().length.toLong
        val b = PlanMetrics.shuffleStats(out).bytesWritten
        graft.operators.Caches.releaseAll()
        (n, b)
      }
      val (nS, bS) = measure(srcDir)
      val (nB, bB) = measure(bigDir)
      if (p.exactTenfoldRows)
        assert(nB <= 10 * nS && nB >= 10 * nS - p.rowSlack,
          s"${p.name}: rows ${nS} -> ${nB}, expected 10x (±${p.rowSlack}) " +
            "(token-bijective copies make within-copy structure invariant " +
            "and cross-copy sharing empty — a deviation is an operator or " +
            "generator regression)")
      // bytes: linear-by-construction workload => <= 2x headroom over
      // the 10x data ratio. (A handful of fixed-size exchange rows —
      // scalar totals, source matrices — only LOWER the ratio.)
      val slope = (bB + 1).toDouble / (bS + 1)
      info(f"${p.name}: rows $nS -> $nB, shuffle bytes $bS -> $bB (slope $slope%.1f)")
      assert(slope <= 20.0,
        s"${p.name}: shuffle slope $slope ($bS -> $bB bytes) exceeds the " +
          "20x envelope on the linear-by-construction decade — a " +
          "superlinear term surfaced past the first decade's floor")
    }
  }

  test("third decade: slope3 probes stay linear on the 100x synthetic corpus") {
    // The second-decade test above pins sf0.1 -> 10x; this adds the
    // 10x -> 100x step (~500k docs / 10M events / the full embeddings
    // family at 100x) for the five probes Bench's slope3 block times,
    // so the 100 TB claims rest on THREE measured decades with the
    // upper two linear-by-construction. Envelopes are BYTE-based
    // (machine-independent): default <= 20x shuffle growth for the
    // 10x data step. MinHash is the exception BY DESIGN: its exact-
    // Jaccard verification joins candidates back to the sorted-shingle
    // frame, which Spark broadcasts below ~10 MB and hash-partitions
    // above — the 100x corpus (~500 MB of shingle arrays) crosses
    // that threshold, so its step ratio reads as a one-time
    // broadcast->SMJ transition (measured ~8000x), NOT quadratic
    // growth. The right linearity envelope there is absolute:
    // shuffle bytes per document bounded by a constant (~1.4 KB/doc
    // measured — shingles ride the exchange once; a quadratic
    // candidate blowup would put pairs^2 bytes through and blow past
    // any per-doc cap).
    import graft.monitoring.PlanMetrics
    import graft.operators.{Dedup, Similarity, TimeSeries}
    val srcDir = "/root/testdata/sf0.1"
    assume(new java.io.File(srcDir).isDirectory)
    val d10 = graft.sources.ScaledCorpus.dir(spark, srcDir, factor = 10)
    val d100 = graft.sources.ScaledCorpus.dir(spark, srcDir, factor = 100)
    assert(Tables.documents(spark, d100).count() ==
      100 * Tables.documents(spark, srcDir).count(),
      "100x corpus row count drifted")
    val nDocs100 = Tables.documents(spark, d100).count()

    case class P(name: String,
                 build: String => org.apache.spark.sql.DataFrame,
                 exactTenfold: Boolean, slack: Long = 0L,
                 viaRdd: Boolean = false,
                 perDocByteCap: Option[Long] = None)
    val probes = Seq(
      // rows two-sided slack: each J-in-[0.8,0.9) pair's copies take
      // independent all-band-miss draws (~1 miss / 2560 draws measured)
      // — at 25,600 draws both sides can miss a handful, and the 10x
      // side's misses scale by 10 in the comparison
      P("minhash_pairs", d => Dedup.minhashPairs(Tables.documents(spark, d)),
        exactTenfold = true, slack = 150L, perDocByteCap = Some(4096L)),
      P("source_overlap", d => Dedup.sourceOverlap(Tables.documents(spark, d)),
        exactTenfold = false),
      P("feature_pipeline", d => TimeSeries.featurePipeline(Tables.events(spark, d)),
        exactTenfold = true, viaRdd = true),
      P("hash_embed", d => Similarity.hashEmbedDocs(Tables.documents(spark, d)),
        exactTenfold = true, viaRdd = true),
      P("mix_cluster", d => Similarity.mixByCluster(Tables.embeddings(spark, d), quota = 8),
        exactTenfold = false))

    probes.foreach { p =>
      def measure(dir: String): (Long, Long) = {
        val out = p.build(dir)
        val n = if (p.viaRdd) out.queryExecution.toRdd.count()
                else out.collect().length.toLong
        val b = PlanMetrics.shuffleStats(out).bytesWritten
        graft.operators.Caches.releaseAll()
        (n, b)
      }
      val (nS, bS) = measure(d10)
      val (nB, bB) = measure(d100)
      info(f"${p.name}: rows $nS -> $nB, shuffle bytes $bS -> $bB " +
        f"(slope ${(bB + 1).toDouble / (bS + 1)}%.1f)")
      if (p.exactTenfold)
        assert(math.abs(nB - 10 * nS) <= p.slack,
          s"${p.name}: rows $nS -> $nB, expected 10x (±${p.slack}) on the " +
            "linear-by-construction step")
      p.perDocByteCap match {
        case Some(cap) =>
          assert(bB <= cap * nDocs100,
            s"${p.name}: ${bB} shuffle bytes exceed $cap bytes/doc at 100x — " +
              "superlinear candidate volume, not the expected one-time " +
              "broadcast->SMJ transition")
        case None =>
          val slope = (bB + 1).toDouble / (bS + 1)
          assert(slope <= 20.0,
            s"${p.name}: shuffle slope $slope ($bS -> $bB bytes) exceeds the " +
              "20x envelope on the linear-by-construction 10x->100x step")
      }
    }
  }

  test("incremental dedup vs a bucketed corpus-hash table: only the batch shuffles") {
    import graft.operators.TextAnalysis
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val docs = Tables.documents(spark, sfDir)
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 2 === 1)
      Bucketed.dropTable(spark, "corpus_hashes_b")
      // the hash table is built with the SAME contentHash the operator
      // uses — a drifting inline copy would silently anti-join nothing
      Bucketed.writeBucketed(
        corpus.select(TextAnalysis.contentHash(col("text")).as("content_hash"))
          .distinct(),
        "corpus_hashes_b", "content_hash")
      val out = TextAnalysis.dedupIncrementalPrehashed(
        batch, Bucketed.readBucketed(spark, "corpus_hashes_b"))
      val plan = out.queryExecution.executedPlan.toString
      // the catalog's bucket layout satisfies the anti-join's corpus-
      // side distribution: exactly ONE hash exchange (the batch side);
      // the keep-best aggregate reuses the join's partitioning
      assert(plan.split("Exchange hashpartitioning").length - 1 == 1,
        s"expected only the batch-side exchange:\n$plan")
      // same answer as the self-contained form
      val expect = TextAnalysis.dedupIncremental(batch, corpus).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val got = out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == expect)
    } finally {
      Bucketed.dropTable(spark, "corpus_hashes_b")
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("memory pressure: forced operator spills hit disk, not the answer") {
    // The §5 posture sizes partitions to fit executor memory — this
    // pins the OTHER half of that claim: when a buffered partition
    // DOESN'T fit (skewed entity, undersized executor), the operator
    // shapes this engine leans on (entity windows, sort-merge joins)
    // degrade to disk spills instead of OOMing, and the spilled run
    // returns BIT-IDENTICAL results. Spark only guarantees that for
    // rows held in its spillable structures — a collect_list into one
    // row, or driver-side buffering, would pass a correctness test
    // and still OOM under pressure; forcing the spill thresholds to a
    // few rows makes every window/join buffer take the disk path
    // (spillSize > 0 proves it REALLY ran) on the same data the
    // unconstrained run answered.
    import graft.monitoring.PlanMetrics
    import graft.operators.TimeSeries
    val ev = Tables.events(spark, sfDir)
    def windowRun(): (Array[org.apache.spark.sql.Row], Long) = {
      val out = TimeSeries.rollingStats(ev)
      val rows = out.collect() // executes THIS frame's plan (metrics gotcha)
      (rows, PlanMetrics.shuffleStats(out).spillBytes)
    }
    // sort-merge join whose BUFFERED-side match groups (12.5k rows per
    // key) far exceed the forced threshold — the shape of a skewed
    // 100 TB fact-fact join key. The checksum is an exact
    // LONG sum — a double sum's value depends on merge order, which is
    // exactly what spilling perturbs, and this test must only fail on
    // REAL answer changes
    def joinRun(): (Long, Long, Long) = {
      val bcKeys = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold")
      val keep = bcKeys.map(k => k -> spark.conf.getOption(k)).toMap
      try {
        bcKeys.foreach(spark.conf.set(_, "-1"))
        // computed (non-foldable) key: a LITERAL key constant-folds the
        // equi-condition away and the planner emits a CartesianProduct
        // instead of the sort-merge join under test
        val left = spark.range(0, 64).select((col("id") % 4).as("k"), col("id").as("a"))
        val right = spark.range(0, 50000).select((col("id") % 4).as("k"), col("id").as("b"))
        val out = left.join(right, "k")
          .agg(count(lit(1)).as("n"), sum(col("a") * col("b")).as("s"))
        val r = out.collect()(0)
        (r.getLong(0), r.getLong(1), PlanMetrics.shuffleStats(out).spillBytes)
      } finally keep.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
    val (winBase, winBaseSpill) = windowRun()
    val (nBase, sBase, smjBaseSpill) = joinRun()
    assert(winBaseSpill == 0L && smjBaseSpill == 0L,
      "baseline runs spilled — thresholds leaked from another test")
    // thresholds a few times smaller than the buffered group sizes
    // (entity windows ~60-70 rows; the hot join key 50k) — every
    // buffer takes the disk path a handful of times, without the
    // pathological one-file-per-few-rows churn a near-zero threshold
    // would cause
    val keys = Seq(
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "16",
      "spark.sql.windowExec.buffer.spill.threshold" -> "16",
      "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "1024",
      "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "1024")
    val keep = keys.map { case (k, _) => k -> spark.conf.getOption(k) }.toMap
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      val (winP, winSpill) = windowRun()
      assert(winSpill > 0,
        "window buffers never spilled — the pressure path did not run")
      assert(winP.sameElements(winBase),
        "window results changed under forced spilling")
      val (nP, sP, smjSpill) = joinRun()
      assert(smjSpill > 0,
        "sort-merge join buffers never spilled — the pressure path did not run")
      assert(nP == nBase && sP == sBase,
        s"join checksum changed under forced spilling: ($nBase, $sBase) -> ($nP, $sP)")
    } finally keep.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("memory pressure: tokenizer-family buffers degrade to disk/fallback, outputs bit-identical") {
    // The BPE/token family's two buffered stages, previously the only
    // heavy family without a forced-degradation pin: the PACKING
    // window (the codegen'd BPE counter feeds a per-source cumulative
    // sum — the stage that assigns every document its training-pack
    // slot) and the VOCABULARY aggregate (explode → groupBy token with
    // a distinct-doc rewrite — the wordcount shape under trainBpe /
    // unigramLogprob / vocabTopK). Forcing the window spill thresholds
    // under the per-source group size and the hash aggregate's
    // sort-based fallback at a handful of map entries makes both take
    // their degradation path on the same data the unconstrained run
    // answered; outputs must be bit-identical (pack assignments are
    // div/mod over an exact long cumsum; vocab rows are exact counts
    // with tie-broken order — nothing may depend on buffer residency).
    import graft.monitoring.PlanMetrics
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sfDir)
    def packRun(): (Seq[String], Long) = {
      // budget far under the per-source token mass so packs roll over
      val out = TextAnalysis.packSequencesBpe(docs, budget = 512L)
      val rows = out.collect().map(_.toString).toSeq
      (rows, PlanMetrics.shuffleStats(out).spillBytes)
    }
    def vocabRun(): (Seq[String], Long) = {
      val out = TextAnalysis.vocabTopK(docs, topN = 100)
      val rows = out.collect().map(_.toString).toSeq
      (rows, PlanMetrics.metricSum(out, "numTasksFallBacked"))
    }
    val (packBase, packBaseSpill) = packRun()
    val (vocabBase, vocabBaseFb) = vocabRun()
    assert(packBaseSpill == 0L && vocabBaseFb == 0L,
      "baseline tokenizer runs degraded — thresholds leaked from another test")
    assert(packBase.nonEmpty && vocabBase.nonEmpty, "tokenizer baselines returned nothing")
    val keys = Seq(
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "16",
      "spark.sql.windowExec.buffer.spill.threshold" -> "16",
      // Spark's own controlled-fallback hook: hash aggregation
      // abandons the map and switches to sort-based after ~1k
      // entries — the same degradation an undersized executor forces,
      // a few times under the per-task distinct-token count so each
      // task falls back a handful of times (single-digit thresholds
      // spawn thousands of spill-file readers, ~1 MB read-ahead
      // buffer each, and OOM the test harness itself)
      "spark.sql.TungstenAggregate.testFallbackStartsAt" -> "1000, 1500")
    val keep = keys.map { case (k, _) => k -> spark.conf.getOption(k) }.toMap
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      val (packP, packSpill) = packRun()
      assert(packSpill > 0,
        "packing window never spilled — the pressure path did not run")
      assert(packP == packBase,
        "pack assignments changed under forced spilling")
      val (vocabP, vocabFb) = vocabRun()
      assert(vocabFb > 0,
        "vocabulary aggregate never fell back to sort — the pressure path did not run")
      assert(vocabP == vocabBase,
        "vocabulary top-k changed under forced sort-based fallback")
    } finally keep.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("memory pressure: tfidf rank window spills to disk, top-k bit-identical") {
    // The r13 keyword operator's buffered stage: the per-doc rank
    // window. WindowGroupLimit trims each upstream partition to its
    // own top-5 per doc BEFORE the exchange, so the final window's
    // group size is ~5 x upstream-partition-fanout — still above the
    // forced threshold, and the spill must not perturb the ROUNDED-
    // score ordering the operator ranks by.
    import graft.monitoring.PlanMetrics
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sfDir)
    def run(): (Seq[String], Long) = {
      val out = TextAnalysis.tfidfTopK(docs)
      val rows = out.collect().map(_.toString).toSeq
      (rows, PlanMetrics.shuffleStats(out).spillBytes)
    }
    val (base, baseSpill) = run()
    assert(baseSpill == 0L, "baseline tfidf run spilled — thresholds leaked")
    assert(base.nonEmpty)
    val keys = Seq(
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "4",
      "spark.sql.windowExec.buffer.spill.threshold" -> "4")
    val keep = keys.map { case (k, _) => k -> spark.conf.getOption(k) }.toMap
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      val (p, spill) = run()
      assert(spill > 0, "tfidf rank window never spilled — the pressure path did not run")
      assert(p == base, "tfidf top-k changed under forced spilling")
    } finally keep.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("memory pressure: mixing-family rank windows spill to disk, kept sets bit-identical") {
    // The mixing family's scale claim rests on the salt-bound
    // prefilter keeping each rank window's input ~quota-bounded — but
    // "bounded" still means a buffered window partition, and at 100 TB
    // an undersized executor must degrade those buffers to disk, not
    // OOM, and keep the SAME deterministic sample (the salt order is a
    // property of the data, not of buffer residency). Forcing the
    // window spill thresholds below the per-stratum quota makes every
    // rank buffer take the disk path on the same data the
    // unconstrained run answered; kept sets must be bit-identical.
    import graft.monitoring.PlanMetrics
    import graft.operators.{Similarity, TextAnalysis}
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    def qualityRun(): (Seq[(Long, Long, Double, Long)], Long) = {
      val out = TextAnalysis.mixByQuality(docs, Seq(4.90, 4.92), Seq(50, 100, 30))
      val rows = out.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
      val spill = PlanMetrics.shuffleStats(out).spillBytes
      graft.operators.Caches.releaseAll()
      (rows, spill)
    }
    def clusterRun(): (Seq[(Long, Int, Long)], Long) = {
      val out = Similarity.mixByCluster(emb, quota = 50)
      val rows = out.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      val spill = PlanMetrics.shuffleStats(out).spillBytes
      graft.operators.Caches.releaseAll()
      (rows, spill)
    }
    val (qBase, qBaseSpill) = qualityRun()
    val (cBase, cBaseSpill) = clusterRun()
    assert(qBaseSpill == 0L && cBaseSpill == 0L,
      "baseline mixing runs spilled — thresholds leaked from another test")
    assert(qBase.nonEmpty && cBase.nonEmpty, "mixing baselines returned nothing")
    // thresholds a few times under the per-stratum quotas (30-100 rows
    // per bucket / 50 per cluster) so every rank buffer spills a
    // handful of times without one-file-per-row churn
    val keys = Seq(
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "8",
      "spark.sql.windowExec.buffer.spill.threshold" -> "8")
    val keep = keys.map { case (k, _) => k -> spark.conf.getOption(k) }.toMap
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      val (qP, qSpill) = qualityRun()
      assert(qSpill > 0,
        "mixByQuality rank window never spilled — the pressure path did not run")
      assert(qP == qBase, "mixByQuality kept set changed under forced spilling")
      val (cP, cSpill) = clusterRun()
      assert(cSpill > 0,
        "mixByCluster rank window never spilled — the pressure path did not run")
      assert(cP == cBase, "mixByCluster kept set changed under forced spilling")
    } finally keep.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}
