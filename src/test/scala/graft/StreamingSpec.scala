package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventsStream
import graft.streaming.EventsStream.EventRow

class StreamingSpec extends AnyFunSuite {
  import TestSession._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("windowed aggregate maintains per-entity hourly stats") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[EventRow]
    val q = EventsStream.windowedAgg(ms.toDF(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("win_agg").outputMode("complete").start()
    try {
      ms.addData(
        EventRow(1, ts(10), 1, "view", 10.0),
        EventRow(2, ts(20), 1, "view", 20.0),
        EventRow(3, ts(70), 1, "view", 30.0),
        EventRow(4, ts(15), 2, "click", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_agg").collect()
      assert(rows.length == 3) // (u1,h0), (u1,h1), (u2,h0)
      val u1h0 = rows.find(r => r.getAs[Long]("user_id") == 1 &&
        r.getAs[Long]("n_events") == 2).get
      assert(u1h0.getAs[Double]("avg_value") == 15.0)
    } finally q.stop()
  }

  test("streaming dedup drops repeated (entity, ts) keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[EventRow]
    val q = EventsStream.dedupWithinWatermark(ms.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      ms.addData(
        EventRow(1, ts(10), 1, "view", 10.0),
        EventRow(2, ts(10), 1, "view", 10.5), // dup key
        EventRow(3, ts(20), 1, "view", 20.0))
      q.processAllAvailable()
      ms.addData(EventRow(4, ts(10), 1, "view", 11.0)) // dup again, later batch
      q.processAllAvailable()
      assert(spark.table("dedup").count() == 2)
    } finally q.stop()
  }

  test("stateful monitor keeps running per-entity stats across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[EventRow]
    val q = EventsStream.statefulStats(ms.toDS())
      .writeStream.format("memory").queryName("stats").outputMode("update").start()
    try {
      ms.addData(EventRow(1, ts(10), 1, "view", 10.0), EventRow(2, ts(11), 1, "view", 30.0))
      q.processAllAvailable()
      ms.addData(EventRow(3, ts(12), 1, "view", 20.0))
      q.processAllAvailable()
      val last = spark.table("stats").collect()
        .filter(_.getAs[Long]("user_id") == 1)
        .maxBy(_.getAs[Long]("n"))
      assert(last.getAs[Long]("n") == 3)
      assert(last.getAs[Double]("mean") == 20.0)
      assert(last.getAs[Double]("min") == 10.0)
      assert(last.getAs[Double]("max") == 30.0)
    } finally q.stop()
  }

  test("stream-static enrichment broadcasts the dim to each batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[EventRow]
    val dim = Seq((1L, "alpha"), (2L, "beta")).toDF("user_id", "segment")
    val q = EventsStream.enrich(ms.toDF(), dim)
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      ms.addData(
        EventRow(1, ts(10), 1, "view", 10.0),
        EventRow(2, ts(11), 2, "view", 20.0),
        EventRow(3, ts(12), 9, "view", 30.0)) // no dim row -> null segment
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
      assert(rows.length == 3)
      val byUser = rows.map(r => r.getAs[Long]("user_id") -> r.getAs[String]("segment")).toMap
      assert(byUser(1L) == "alpha" && byUser(2L) == "beta" && byUser(9L) == null)
    } finally q.stop()
  }

  test("stream-stream attribution join matches within horizon only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[EventRow]
    val purchases = MemoryStream[EventRow]
    val q = EventsStream.attributionJoin(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attr").outputMode("append").start()
    try {
      clicks.addData(
        EventRow(1, ts(10), 1, "click", 0.0),
        EventRow(2, ts(10), 2, "click", 0.0))
      purchases.addData(
        EventRow(100, ts(40), 1, "purchase", 9.99),  // 30 min after → match
        EventRow(101, ts(200), 2, "purchase", 5.0),  // >1h after → no match
        EventRow(102, ts(5), 1, "purchase", 1.0))    // before click → no match
      q.processAllAvailable()
      val rows = spark.table("attr").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("click_id") == 1L)
      assert(rows.head.getAs[Long]("purchase_id") == 100L)
      assert(rows.head.getAs[Double]("purchase_value") == 9.99)
    } finally q.stop()
  }

  test("withRetry backs off exponentially and rethrows when exhausted") {
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    val out = EventsStream.withRetry(maxRetries = 3, baseBackoffMs = 50, sleeps += _) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(out == "ok" && calls == 3)
    assert(sleeps.toSeq == Seq(50L, 100L)) // base << attempt

    sleeps.clear()
    val ex = intercept[RuntimeException] {
      EventsStream.withRetry(maxRetries = 2, baseBackoffMs = 10, sleeps += _) {
        throw new RuntimeException("permanent")
      }
    }
    assert(ex.getMessage == "permanent")
    assert(sleeps.toSeq == Seq(10L, 20L)) // retried twice, then gave up
  }

  test("resilient sink routes corrupt rows to the dead-letter path and keeps going") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = tempDir("graft-sink").toString
    val dlqDir = tempDir("graft-dlq").toString
    val ms = MemoryStream[EventRow]
    val q = EventsStream.resilientSink(ms.toDF(), outDir, dlqDir, sleep = _ => ()).start()
    try {
      // batch 1 injects two corrupt rows among valid ones
      ms.addData(
        EventRow(1, ts(10), 1, "view", 10.0),
        EventRow(2, ts(11), 1, null, 11.0),     // missing required field
        EventRow(3, ts(12), 2, "view", 5000.0), // value out of range
        EventRow(4, ts(13), 2, "view", 12.0))
      q.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == 2)
      val dead = spark.read.parquet(dlqDir).collect()
      assert(dead.length == 2)
      val reasons = dead.map(r =>
        r.getAs[Long]("event_id") -> r.getAs[String]("error_reason")).toMap
      assert(reasons == Map(2L -> "missing_required", 3L -> "value_out_of_range"))

      // the stream survives the corrupt batch and keeps ingesting
      ms.addData(EventRow(5, ts(20), 1, "view", 13.0))
      q.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == 3)
      assert(spark.read.parquet(dlqDir).count() == 2)
    } finally q.stop()
  }

  test("resilient sink is idempotent per batch id: redelivery does not duplicate") {
    import spark.implicits._
    val outDir = tempDir("graft-sink-idem").toString
    val dlqDir = tempDir("graft-dlq-idem").toString
    val batch = Seq(
      EventRow(1, ts(10), 1, "view", 10.0),
      EventRow(2, ts(11), 1, null, 11.0)).toDF()
    EventsStream.resilientBatch(batch, 7L, outDir, dlqDir, sleep = _ => ())
    // redelivered batch (e.g. the DLQ write failed after the main
    // write committed, or restart replay) — same batch id, rewritten
    EventsStream.resilientBatch(batch, 7L, outDir, dlqDir, sleep = _ => ())
    assert(spark.read.parquet(outDir).count() == 1)
    assert(spark.read.parquet(dlqDir).count() == 1)
    // a genuinely new batch still appends
    EventsStream.resilientBatch(
      Seq(EventRow(3, ts(12), 2, "view", 12.0)).toDF(), 8L, outDir, dlqDir, sleep = _ => ())
    assert(spark.read.parquet(outDir).count() == 2)
  }

  test("redelivered batch that reclassifies clean clears its stale DLQ partition") {
    import spark.implicits._
    val outDir = tempDir("graft-sink-reclass").toString
    val dlqDir = tempDir("graft-dlq-reclass").toString
    // first delivery: one row fails validation and lands in the DLQ
    EventsStream.resilientBatch(
      Seq(EventRow(1, ts(10), 1, "view", 10.0),
        EventRow(2, ts(11), 1, "view", 5000.0)).toDF(),
      7L, outDir, dlqDir, sleep = _ => ())
    assert(spark.read.parquet(dlqDir).count() == 1)
    // redelivery of the SAME batch id now classifies fully clean (the
    // upstream fixed the row / validation rules changed across a
    // restart): the stale DLQ partition must be overwritten to empty,
    // not survive from the prior attempt
    EventsStream.resilientBatch(
      Seq(EventRow(1, ts(10), 1, "view", 10.0),
        EventRow(2, ts(11), 1, "view", 11.0)).toDF(),
      7L, outDir, dlqDir, sleep = _ => ())
    assert(spark.read.parquet(outDir).count() == 2)
    assert(spark.read.parquet(dlqDir).count() == 0)
  }

  test("corpus ingest: cross-batch dedup, within-batch keep-min, idempotent redelivery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.CorpusIngest
    val corpusDir = tempDir("graft-corpus").toString
    val hashDir = tempDir("graft-corpus-h").toString
    val ms = MemoryStream[(Long, String, String)]
    val docs = ms.toDF().toDF("doc_id", "source", "text")
    val q = CorpusIngest.sink(docs, corpusDir, hashDir)
      .option("checkpointLocation",
        tempDir("graft-corpus-ck").toString)
      .start()
    try {
      // batch 0: an in-batch duplicate pair plus one unique doc
      ms.addData((10L, "s", "alpha beta"), (11L, "s", "ALPHA   beta"), (12L, "s", "gamma"))
      q.processAllAvailable()
      val after0 = spark.read.parquet(corpusDir).collect()
      assert(after0.map(_.getAs[Long]("doc_id")).toSet == Set(10L, 12L),
        "within-batch dedup keeps the lowest id")
      // batch 1: one cross-batch duplicate, one genuinely new doc
      ms.addData((20L, "s", "alpha beta"), (21L, "s", "delta"))
      q.processAllAvailable()
      val after1 = spark.read.parquet(corpusDir).collect()
      assert(after1.map(_.getAs[Long]("doc_id")).toSet == Set(10L, 12L, 21L),
        "cross-batch duplicate must not be re-admitted")
    } finally q.stop()
    // redelivery of batch 1 (same id, same rows) replaces its own
    // partitions instead of double-admitting — and its OWN prior hashes
    // must not block the re-admission of doc 21
    CorpusIngest.ingestBatch(
      Seq((20L, "s", "alpha beta"), (21L, "s", "delta")).toDF("doc_id", "source", "text"),
      1L, corpusDir, hashDir)
    val redelivered = spark.read.parquet(corpusDir).collect()
    assert(redelivered.map(_.getAs[Long]("doc_id")).toSet == Set(10L, 12L, 21L))
    assert(redelivered.length == 3, "redelivery double-admitted rows")
  }

  test("streaming curation gate: junk and blocklisted docs never reach the corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.CorpusIngest
    val corpusDir = tempDir("graft-gate-c").toString
    val hashDir = tempDir("graft-gate-h").toString
    val ms = MemoryStream[(Long, String, String)]
    val docs = ms.toDF().toDF("doc_id", "source", "text")
    val good = "the quick brown horse walks over the quiet bridge and then " +
      "returns home with the calm rider before dusk settles on the valley road"
    val tagged = "<p>the tall grey tower stands over the quiet harbor and then " +
      "greets ships with the calm keeper before dawn settles on the water line</p>"
    val q = CorpusIngest.sink(
        CorpusIngest.curationGate(docs, blocklist = Seq("dup")),
        corpusDir, hashDir)
      .option("checkpointLocation",
        tempDir("graft-gate-ck").toString)
      .start()
    try {
      ms.addData(
        (1L, "s", good),            // passes every gate
        (2L, "s", "too short"),     // quality: under min tokens
        (3L, "s", good + " dup"),   // blocklisted term
        (4L, "s", tagged))          // markup strips, then passes
      q.processAllAvailable()
      val out = spark.read.parquet(corpusDir).collect()
      assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 4L),
        s"gate admitted the wrong set: ${out.map(_.getAs[Long]("doc_id")).toSet}")
      val t4 = out.find(_.getAs[Long]("doc_id") == 4L).get.getAs[String]("text")
      assert(!t4.contains("<p>") && !t4.contains("</p>"),
        "markup must be stripped before admission")
    } finally q.stop()
  }

  test("streaming decontamination gate: leaked eval items never enter the store, across batches and restarts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.CorpusIngest
    val corpusDir = tempDir("graft-dgate-c").toString
    val hashDir = tempDir("graft-dgate-h").toString
    val ckDir = tempDir("graft-dgate-ck").toString
    val evalQ = "what is the boiling point of water at sea level pressure"
    val bench = Seq((1L, evalQ)).toDF("doc_id", "text")
    val filler = (s: String) => (1 to 30).map(i => s"the $s$i").mkString(" ")
    val ms = MemoryStream[(Long, String, String)]
    val docs = ms.toDF().toDF("doc_id", "source", "text")
    def gated = CorpusIngest.curationGate(docs, benchmark = Some(bench))
    def admitted() = spark.read.parquet(corpusDir).collect()
      .map(_.getAs[Long]("doc_id")).toSet

    val q1 = CorpusIngest.sink(gated, corpusDir, hashDir)
      .option("checkpointLocation", ckDir).start()
    try {
      ms.addData(
        (1L, "s", filler("clean")),            // passes
        (2L, "s", filler("leak") + " " + evalQ)) // leaked verbatim -> rejected
      q1.processAllAvailable()
      assert(admitted() == Set(1L), s"batch 1 admitted ${admitted()}")
      // second batch: the leak arrives again (different doc) — still out
      ms.addData(
        (3L, "s", evalQ + " " + filler("again")),
        (4L, "s", filler("fresh")))
      q1.processAllAvailable()
      assert(admitted() == Set(1L, 4L), s"batch 2 admitted ${admitted()}")
    } finally q1.stop()

    // RESTART from the same checkpoint: the gate is reconstructed (the
    // shingle set re-collected) and keeps rejecting planted leaks; the
    // membership store stays leak-free
    val q2 = CorpusIngest.sink(gated, corpusDir, hashDir)
      .option("checkpointLocation", ckDir).start()
    try {
      ms.addData(
        (5L, "s", filler("leakier") + " " + evalQ),
        (6L, "s", filler("benign")))
      q2.processAllAvailable()
      assert(admitted() == Set(1L, 4L, 6L), s"post-restart admitted ${admitted()}")
    } finally q2.stop()
    // the membership store itself carries no leaked doc's hash — only
    // the three admitted (distinct-content) docs recorded membership
    val nHashes = spark.read.parquet(hashDir).count()
    assert(nHashes == 3,
      s"membership store must only hold the 3 admitted docs' hashes: $nHashes")
  }

  test("bucketed corpus ingest: dedup across compaction, no double-admit on redelivery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.CorpusIngest
    import graft.sources.Bucketed
    val corpusDir = tempDir("graft-bcorpus").toString
    val deltaDir = tempDir("graft-bcorpus-d").toString
    val table = "corpus_hashes_stream_t"
    Bucketed.dropTable(spark, table)
    Bucketed.dropTable(spark, table + "_staging")
    def deltaParts() = new java.io.File(deltaDir).list().count(_.startsWith("batch_id="))
    def corpusIds() = spark.read.parquet(corpusDir)
      .collect().map(_.getAs[Long]("doc_id")).toSeq.sorted
    try {
      val ms = MemoryStream[(Long, String, String)]
      val docs = ms.toDF().toDF("doc_id", "source", "text")
      // compactEvery=2: batches 0,1 -> compaction folds both deltas
      val q = CorpusIngest.sinkBucketed(docs, corpusDir, table, deltaDir, compactEvery = 2)
        .option("checkpointLocation",
          tempDir("graft-bcorpus-ck").toString)
        .start()
      try {
        // batch 0: in-batch duplicate pair + one unique
        ms.addData((10L, "s", "alpha beta"), (11L, "s", "ALPHA   beta"), (12L, "s", "gamma"))
        q.processAllAvailable()
        assert(corpusIds() == Seq(10L, 12L), "within-batch dedup keeps the lowest id")
        // batch 1: cross-batch duplicate vs batch 0's delta + one new;
        // after it, (batchId+1) % 2 == 0 triggers compaction
        ms.addData((20L, "s", "alpha beta"), (21L, "s", "delta"))
        q.processAllAvailable()
        assert(corpusIds() == Seq(10L, 12L, 21L), "delta-tail duplicate re-admitted")
        assert(deltaParts() == 0, "compaction must remove the folded delta partitions")
        assert(spark.catalog.tableExists(table), "compaction must build the base table")
        // batch 2: duplicates of COMPACTED content now blocked by the
        // bucketed base alone (no delta partitions exist)
        ms.addData((30L, "s", "gamma"), (31L, "s", "epsilon"))
        q.processAllAvailable()
        assert(corpusIds() == Seq(10L, 12L, 21L, 31L),
          "base-table duplicate must not be re-admitted after compaction")
      } finally q.stop()
      // redelivery of batch 2 AFTER its hashes sit in the delta tail:
      // own-batch exclusion must keep working (batch_id travels into
      // the store), and the retry must not double-admit
      CorpusIngest.ingestBatchBucketed(
        Seq((30L, "s", "gamma"), (31L, "s", "epsilon")).toDF("doc_id", "source", "text"),
        2L, corpusDir, table, deltaDir)
      assert(corpusIds() == Seq(10L, 12L, 21L, 31L), "redelivery double-admitted")
      // redelivery of a batch whose hashes were already COMPACTED into
      // the base: the base's batch_id column carries the own-batch
      // exclusion, so the retry re-admits its own content exactly once
      CorpusIngest.ingestBatchBucketed(
        Seq((20L, "s", "alpha beta"), (21L, "s", "delta")).toDF("doc_id", "source", "text"),
        1L, corpusDir, table, deltaDir)
      assert(corpusIds() == Seq(10L, 12L, 21L, 31L),
        "post-compaction redelivery double-admitted")
      // compacting again folds the redelivered deltas; still no dup
      CorpusIngest.compact(spark, table, deltaDir)
      assert(deltaParts() == 0)
      CorpusIngest.ingestBatchBucketed(
        Seq((40L, "s", "delta"), (41L, "s", "zeta")).toDF("doc_id", "source", "text"),
        3L, corpusDir, table, deltaDir)
      assert(corpusIds() == Seq(10L, 12L, 21L, 31L, 41L))
    } finally {
      Bucketed.dropTable(spark, table)
      Bucketed.dropTable(spark, table + "_staging")
    }
  }

  test("sinkBucketed with corpusTable keeps both stores bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.CorpusIngest
    import graft.sources.Bucketed
    val corpusDir = tempDir("graft-wcorpus").toString
    val deltaDir = tempDir("graft-wcorpus-d").toString
    val hashT = "corpus_hashes_wired_t"
    val rowsT = "corpus_rows_wired_t"
    Seq(hashT, rowsT).foreach { t =>
      Bucketed.dropTable(spark, t); Bucketed.dropTable(spark, t + "_staging")
    }
    def dirs(d: String) = new java.io.File(d).list().count(_.startsWith("batch_id="))
    try {
      val ms = MemoryStream[(Long, String, String)]
      val q = CorpusIngest.sinkBucketed(ms.toDF().toDF("doc_id", "source", "text"),
          corpusDir, hashT, deltaDir, compactEvery = 2, corpusTable = Some(rowsT))
        .option("checkpointLocation",
          tempDir("graft-wcorpus-ck").toString)
        .start()
      try {
        for (batch <- Seq(
            Seq((10L, "s", "alpha"), (11L, "s", "beta")),
            Seq((20L, "s", "alpha"), (21L, "s", "gamma")),  // 20 is a cross-batch dup
            Seq((30L, "s", "beta"), (31L, "s", "delta")),   // 30 dups folded content
            Seq((40L, "s", "gamma"), (41L, "s", "eps")))) {
          ms.addData(batch: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      // compactions fired after batches 1 and 3: hash deltas all folded,
      // corpus rows folded up to batch 2 — only batch 3's dir remains
      assert(dirs(deltaDir) == 0, "hash delta tail must be folded")
      assert(dirs(corpusDir) == 1, "corpus lake must be bounded by the horizon")
      val rows = CorpusIngest.readCorpus(spark, corpusDir, rowsT).collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(rows == Set(10L, 11L, 21L, 31L, 41L),
        s"unified view wrong (dups against folded content?): $rows")
    } finally Seq(hashT, rowsT).foreach { t =>
      Bucketed.dropTable(spark, t); Bucketed.dropTable(spark, t + "_staging")
    }
  }

  test("corpus-row compaction folds committed batches; readCorpus never sees a row twice") {
    import spark.implicits._
    import graft.streaming.CorpusIngest
    import graft.sources.Bucketed
    val corpusDir = tempDir("graft-ccorpus").toString
    val hashDir = tempDir("graft-ccorpus-h").toString
    val table = "corpus_rows_t"
    Bucketed.dropTable(spark, table)
    Bucketed.dropTable(spark, table + "_staging")
    def allRows() = CorpusIngest.readCorpus(spark, corpusDir, table).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[Long]("batch_id"))).toSet
    def dirCount() = new java.io.File(corpusDir).list().count(_.startsWith("batch_id="))
    try {
      for ((docs, bid) <- Seq(
          Seq((1L, "s", "alpha"), (2L, "s", "beta")) -> 0L,
          Seq((3L, "s", "gamma")) -> 1L,
          Seq((4L, "s", "delta")) -> 2L))
        CorpusIngest.ingestBatch(docs.toDF("doc_id", "source", "text"),
          bid, corpusDir, hashDir)
      val before = allRows()
      assert(before.map(_._1) == Set(1L, 2L, 3L, 4L) && dirCount() == 3)
      // fold batches 0..1; batch 2 stays a lake partition
      CorpusIngest.compactCorpus(spark, corpusDir, table, upToBatch = 1L)
      assert(dirCount() == 1, "folded partitions must be deleted")
      assert(allRows() == before, "compaction must not change the corpus view")
      // idempotent re-run at the same horizon
      CorpusIngest.compactCorpus(spark, corpusDir, table, upToBatch = 1L)
      assert(allRows() == before)
      // crash window: a folded partition dir reappears (rename done,
      // deletes lost) — the reader must ignore it, the next compaction
      // must delete it WITHOUT re-merging
      Seq((1L, "s", "alpha")).toDF("doc_id", "source", "text")
        .write.mode("overwrite").parquet(s"$corpusDir/batch_id=0")
      assert(allRows() == before, "reader must ignore partitions at/below the horizon")
      CorpusIngest.compactCorpus(spark, corpusDir, table, upToBatch = 2L)
      assert(dirCount() == 0)
      assert(allRows() == before)
      assert(spark.table(table).count() == 4, "stale dir re-merged as duplicate")
    } finally {
      Bucketed.dropTable(spark, table)
      Bucketed.dropTable(spark, table + "_staging")
    }
  }

  test("near-dup membership rejects near-dups of the accumulated corpus across batches and restarts") {
    import spark.implicits._
    import graft.streaming.{CorpusIngest, NearDupStore}
    import graft.sources.Bucketed
    val corpusDir = tempDir("graft-nd").toString
    val deltaDir = tempDir("graft-nd-h").toString
    val bandDir = tempDir("graft-nd-b").toString
    val hashTable = "corpus_hashes_nd_t"
    val nd = NearDupStore("corpus_bands_nd_t", bandDir)
    def drop(): Unit = Seq(hashTable, hashTable + "_staging",
      nd.table, nd.table + "_staging").foreach(Bucketed.dropTable(spark, _))
    drop()
    val bodyA = (1 to 40).map(i => s"alpha$i token$i").mkString(" ")
    val bodyB = (1 to 40).map(i => s"beta$i word$i").mkString(" ")
    val bodyC = (1 to 40).map(i => s"gamma$i item$i").mkString(" ")
    def admitted() = spark.read.parquet(corpusDir).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    def ingest(docs: Seq[(Long, String)], bid: Long): Unit =
      CorpusIngest.ingestBatchBucketed(
        docs.map { case (id, t) => (id, "s", t) }.toDF("doc_id", "source", "text"),
        bid, corpusDir, hashTable, deltaDir, Some(nd))
    try {
      ingest(Seq(1L -> bodyA), 0L)
      assert(admitted() == Set(1L))
      // batch 1: one near-dup of batch 0's content (one token appended
      // -> J≈0.975, expected band matches ~13 of 16), one genuinely
      // new doc. Near-dup REJECTED, exact-new ADMITTED.
      ingest(Seq(2L -> (bodyA + " extra"), 3L -> bodyB), 1L)
      assert(admitted() == Set(1L, 3L),
        s"near-dup must be rejected, new content admitted: ${admitted()}")
      // redelivery of batch 1: own-batch exclusion lets it re-admit
      // its own rows; the near-dup of OLD content stays rejected
      ingest(Seq(2L -> (bodyA + " extra"), 3L -> bodyB), 1L)
      assert(admitted() == Set(1L, 3L))

      // fold both stores, then simulate a restart (catalog entries
      // die, warehouse dirs survive)
      CorpusIngest.compact(spark, hashTable, deltaDir)
      CorpusIngest.compactBands(spark, nd)
      for (t <- Seq(hashTable, nd.table)) {
        val wh = new java.io.File(
          Bucketed.warehousePath(spark, t).toUri.getPath)
        val aside = tempDir("graft-nd-aside")
          .resolve("data").toFile
        org.apache.commons.io.FileUtils.copyDirectory(wh, aside)
        Bucketed.dropTable(spark, t)
        org.apache.commons.io.FileUtils.copyDirectory(aside, wh)
        assert(!spark.catalog.tableExists(t))
      }
      // post-restart: near-dup of COMPACTED content (prefix edit of
      // bodyA) rejected; fresh content admitted; a WITHIN-batch
      // near-dup pair keeps only its lowest id (doc 6 is a tail edit
      // of doc 5, both arriving in this trigger)
      ingest(Seq(4L -> ("prefix " + bodyA), 5L -> bodyC,
        6L -> (bodyC + " postfix")), 2L)
      assert(admitted() == Set(1L, 3L, 5L),
        s"restart must not forget membership and within-batch " +
          s"near-dups must keep-min: ${admitted()}")
    } finally drop()
  }

  test("near-dup store honors a NON-DEFAULT configuration (k=64, bands=8, minBands=1)") {
    // the sizing table's contract (NearDupStore scaladoc, r18): the
    // store's behavior is a function of its CONFIG, not accidentally
    // coupled to the (128, 16, 2) defaults. The aggressive minBands=1
    // arm rejects on a SINGLE band collision — a near-dup that the
    // default's >=2 rule would also catch must still reject here, and
    // the signature/band plumbing must run end-to-end at the smaller
    // k/bands (8-row bands from a 64-hash signature).
    import spark.implicits._
    import graft.streaming.{CorpusIngest, NearDupStore}
    import graft.sources.Bucketed
    val corpusDir = tempDir("graft-ndc").toString
    val deltaDir = tempDir("graft-ndc-h").toString
    val bandDir = tempDir("graft-ndc-b").toString
    val hashTable = "corpus_hashes_ndc_t"
    val nd = NearDupStore("corpus_bands_ndc_t", bandDir,
      minBands = 1, k = 64, bands = 8)
    def drop(): Unit = Seq(hashTable, hashTable + "_staging",
      nd.table, nd.table + "_staging").foreach(Bucketed.dropTable(spark, _))
    drop()
    val body = (1 to 40).map(i => s"cfg$i tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"oth$i wrd$i").mkString(" ")
    def admitted() = spark.read.parquet(corpusDir).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    def ingest(docs: Seq[(Long, String)], bid: Long): Unit =
      CorpusIngest.ingestBatchBucketed(
        docs.map { case (id, t) => (id, "s", t) }.toDF("doc_id", "source", "text"),
        bid, corpusDir, hashTable, deltaDir, Some(nd))
    try {
      ingest(Seq(1L -> body), 0L)
      // J≈0.975 edit: at r=8 expected band matches ≈ 8·0.81 ≈ 6.5 of 8
      // — minBands=1 certainly rejects; a distinct doc admits
      ingest(Seq(2L -> (body + " extra"), 3L -> other), 1L)
      assert(admitted() == Set(1L, 3L),
        s"non-default config must reject the near-dup: ${admitted()}")
      // compaction runs under the same config and keeps rejecting
      CorpusIngest.compact(spark, hashTable, deltaDir)
      CorpusIngest.compactBands(spark, nd)
      ingest(Seq(4L -> ("pre " + body)), 2L)
      assert(admitted() == Set(1L, 3L),
        s"compacted non-default store must keep rejecting: ${admitted()}")
    } finally drop()
  }

  test("readCorpus is read-only: crash states are readable and left for compact() to repair") {
    import spark.implicits._
    import graft.streaming.CorpusIngest
    import graft.sources.Bucketed
    val corpusDir = tempDir("graft-rocorpus").toString
    val hashDir = tempDir("graft-rocorpus-h").toString
    val table = "corpus_rows_ro_t"
    val staging = table + "_staging"
    Bucketed.dropTable(spark, table)
    Bucketed.dropTable(spark, staging)
    def allRows() = CorpusIngest.readCorpus(spark, corpusDir, table).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("batch_id"))).toSet
    try {
      for ((docs, bid) <- Seq(
          Seq((1L, "s", "alpha"), (2L, "s", "beta")) -> 0L,
          Seq((3L, "s", "gamma")) -> 1L,
          Seq((4L, "s", "delta")) -> 2L))
        CorpusIngest.ingestBatch(docs.toDF("doc_id", "source", "text"),
          bid, corpusDir, hashDir)
      CorpusIngest.compactCorpus(spark, corpusDir, table, upToBatch = 1L)
      val expect = allRows()
      assert(expect.map(_._1) == Set(1L, 2L, 3L, 4L))

      // crash window between the swap's drop and rename: the catalog
      // holds only the staging table. The reader must serve the merged
      // truth from staging WITHOUT renaming it into place — repair
      // belongs to the compaction path, and a reader racing a live
      // compaction must not mutate its state.
      spark.sql(s"ALTER TABLE $table RENAME TO $staging")
      assert(allRows() == expect, "staging fallback must serve the merged truth")
      assert(!spark.catalog.tableExists(table) && spark.catalog.tableExists(staging),
        "readCorpus must not repair the swap")
      // the owning path still recovers from exactly this state
      CorpusIngest.compactCorpus(spark, corpusDir, table, upToBatch = 1L)
      assert(spark.catalog.tableExists(table) && !spark.catalog.tableExists(staging))
      assert(allRows() == expect)

      // session restart: catalog entries gone, base directory intact —
      // the reader serves the directory as plain parquet and does NOT
      // re-register the table (a read API must not mutate the catalog)
      val wh = new java.io.File(
        Bucketed.warehousePath(spark, table).toUri.getPath)
      val aside = tempDir("graft-ro-aside")
        .resolve("data").toFile
      org.apache.commons.io.FileUtils.copyDirectory(wh, aside)
      Bucketed.dropTable(spark, table)
      org.apache.commons.io.FileUtils.copyDirectory(aside, wh)
      assert(allRows() == expect, "directory fallback must serve the base")
      assert(!spark.catalog.tableExists(table),
        "readCorpus must not re-register the table")
    } finally {
      Bucketed.dropTable(spark, table)
      Bucketed.dropTable(spark, staging)
    }
  }

  test("bucketed corpus ingest survives catalog loss when the warehouse data is intact") {
    import spark.implicits._
    import graft.streaming.CorpusIngest
    import graft.sources.Bucketed
    val corpusDir = tempDir("graft-rcorpus").toString
    val deltaDir = tempDir("graft-rcorpus-d").toString
    val table = "corpus_hashes_restart_t"
    Bucketed.dropTable(spark, table)
    try {
      CorpusIngest.ingestBatchBucketed(
        Seq((1L, "s", "alpha"), (2L, "s", "beta")).toDF("doc_id", "source", "text"),
        0L, corpusDir, table, deltaDir)
      CorpusIngest.compact(spark, table, deltaDir)
      // simulate a session restart under the in-memory catalog: the
      // catalog entry dies with the JVM, the warehouse directory does
      // not — move the data aside, drop (which deletes the managed
      // dir), move it back
      val wh = new java.io.File(
        Bucketed.warehousePath(spark, table).toUri.getPath).toPath
      val aside = tempDir("graft-wh-aside")
        .resolve("data")
      org.apache.commons.io.FileUtils.copyDirectory(wh.toFile, aside.toFile)
      Bucketed.dropTable(spark, table)
      org.apache.commons.io.FileUtils.copyDirectory(aside.toFile, wh.toFile)
      assert(!spark.catalog.tableExists(table))
      // next batch re-registers the base from disk and keeps deduping
      // against the compacted membership — no brick, no double-admit
      CorpusIngest.ingestBatchBucketed(
        Seq((3L, "s", "alpha"), (4L, "s", "gamma")).toDF("doc_id", "source", "text"),
        1L, corpusDir, table, deltaDir)
      val ids = spark.read.parquet(corpusDir).collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(ids == Set(1L, 2L, 4L),
        s"restart must not re-admit compacted content: $ids")
      // and the re-registered (external) base still compacts cleanly
      CorpusIngest.compact(spark, table, deltaDir)
      CorpusIngest.ingestBatchBucketed(
        Seq((5L, "s", "gamma"), (6L, "s", "delta")).toDF("doc_id", "source", "text"),
        2L, corpusDir, table, deltaDir)
      val ids2 = spark.read.parquet(corpusDir).collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(ids2 == Set(1L, 2L, 4L, 6L))
    } finally {
      Bucketed.dropTable(spark, table)
      Bucketed.dropTable(spark, table + "_staging")
    }
  }

  test("near-dup band store fails closed when its base vanishes post-compaction") {
    import spark.implicits._
    import graft.streaming.{CorpusIngest, NearDupStore}
    import graft.sources.Bucketed
    val corpusDir = tempDir("graft-fband").toString
    val deltaDir = tempDir("graft-fband-h").toString
    val bandDir = tempDir("graft-fband-b").toString
    val hashTable = "corpus_hashes_bl_t"
    val nd = NearDupStore("corpus_bands_lost_t", bandDir)
    def drop(): Unit = Seq(hashTable, hashTable + "_staging",
      nd.table, nd.table + "_staging").foreach(Bucketed.dropTable(spark, _))
    drop()
    try {
      val body = (1 to 40).map(i => s"alpha$i token$i").mkString(" ")
      CorpusIngest.ingestBatchBucketed(
        Seq((1L, "s", body)).toDF("doc_id", "source", "text"),
        0L, corpusDir, hashTable, deltaDir, Some(nd))
      CorpusIngest.compactBands(spark, nd)
      assert(spark.catalog.tableExists(nd.table))
      // the band base disappearing after a successful compaction must
      // block ingest — admitting against a partial near-dup store
      // would quietly re-admit near-dups of years of corpus
      Bucketed.dropTable(spark, nd.table)
      val e = intercept[IllegalStateException] {
        CorpusIngest.ingestBatchBucketed(
          Seq((2L, "s", "fresh doc " + body.take(20))).toDF("doc_id", "source", "text"),
          1L, corpusDir, hashTable, deltaDir, Some(nd))
      }
      assert(e.getMessage.contains("compactBands"))
    } finally drop()
  }

  test("nearDupStoreCheck: membership is exactly the doc_id-arithmetic expectation") {
    import spark.implicits._
    // 60 ids exercise every branch of the construction: evens (store),
    // odds (clean batch 1), %10∈{0,1,3} injected copies (base / self /
    // delta rejections), %10=5 fresh batch-2 admissions
    val ids = (1L to 60L).map(i => (i, "s", s"unused $i")).toDF("doc_id", "source", "text")
    val out = graft.streaming.CorpusIngest.nearDupStoreCheck(ids)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect =
      (1L to 60L).filter(_ % 2 == 0).map(i => (i, 0L)) ++
      (1L to 60L).filter(_ % 2 == 1).map(i => (i, 1L)) ++
      (1L to 60L).filter(_ % 10 == 5).map(i => (i + 40000000L, 2L))
    assert(out.toSet == expect.toSet,
      s"membership drifted: extra=${out.toSet -- expect.toSet} missing=${expect.toSet -- out.toSet}")
    // every injected near-duplicate was band-rejected: the only ids at
    // or above the injection offset are the %10=5 FRESH batch-2
    // admissions (+4e7); any +1e7/+2e7/+3e7 id here is an injected
    // copy that slipped a reject tier (r18: the previous form mixed a
    // per-element predicate with an aggregate count inside exists(),
    // which could never fail independently of the set-equality above)
    val injected = out.filter(_._1 >= 10000000L)
    assert(injected.length == (1L to 60L).count(_ % 10 == 5) &&
      injected.forall { case (id, b) => id >= 40000000L && b == 2L },
      s"injected near-dup admissions leaked past the band store: " +
        injected.filterNot { case (id, b) => id >= 40000000L && b == 2L }
          .mkString(","))
    // and the result survives the store teardown + a later replay
    val again = graft.streaming.CorpusIngest.nearDupStoreCheck(ids)
    assert(out.toSeq == again.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("bucketed corpus ingest fails closed when the base table vanishes") {
    import spark.implicits._
    import graft.streaming.CorpusIngest
    import graft.sources.Bucketed
    val corpusDir = tempDir("graft-fcorpus").toString
    val deltaDir = tempDir("graft-fcorpus-d").toString
    val table = "corpus_hashes_lost_t"
    Bucketed.dropTable(spark, table)
    try {
      CorpusIngest.ingestBatchBucketed(
        Seq((1L, "s", "alpha")).toDF("doc_id", "source", "text"),
        0L, corpusDir, table, deltaDir)
      CorpusIngest.compact(spark, table, deltaDir)
      assert(spark.catalog.tableExists(table))
      // simulate the base disappearing AFTER a successful compaction
      Bucketed.dropTable(spark, table)
      val e = intercept[IllegalStateException] {
        CorpusIngest.ingestBatchBucketed(
          Seq((2L, "s", "beta")).toDF("doc_id", "source", "text"),
          1L, corpusDir, table, deltaDir)
      }
      assert(e.getMessage.contains("compaction marker"))
      // compact refuses to rebuild from the (empty) tail alone, too
      val e2 = intercept[IllegalStateException] {
        CorpusIngest.compact(spark, table, deltaDir)
      }
      assert(e2.getMessage.contains("membership state lost"))
    } finally {
      Bucketed.dropTable(spark, table)
      Bucketed.dropTable(spark, table + "_staging")
    }
  }

  test("file-source stream reads the events table end-to-end") {
    val stream = EventsStream.readEvents(spark, sfDir)
    assert(stream.isStreaming)
    val q = EventsStream.windowedAgg(stream)
      .writeStream.format("memory").queryName("file_agg").outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("file_agg").count() > 0)
    } finally q.stop()
  }

  test("streaming model quality gate matches the batch gate verdict exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.CorpusIngest
    // the r16 qualityModel stage, streamed: the trained weights ride
    // inside the LogitDot expression, so the gate stays a scan-local
    // projection a streaming frame accepts (no sort, no shuffle, no
    // state) — train offline on the batch corpus, gate the stream
    val corpus = graft.sources.Tables.documents(spark, sfDir)
    val model = graft.operators.QualityClassifier.train(corpus)
    val sample = corpus.select("doc_id", "source", "text").limit(60).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val expected = CorpusIngest.curationGate(
      sample.toDF("doc_id", "source", "text"), qualityModel = Some(model))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expected.size < sample.size,
      "gate dropped nothing on 60 docs — the scenario is vacuous")

    val corpusDir = tempDir("graft-mgate-c").toString
    val hashDir = tempDir("graft-mgate-h").toString
    val ms = MemoryStream[(Long, String, String)]
    val q = CorpusIngest.sink(
      CorpusIngest.curationGate(ms.toDF().toDF("doc_id", "source", "text"),
        qualityModel = Some(model)),
      corpusDir, hashDir)
      .option("checkpointLocation",
        tempDir("graft-mgate-ck").toString)
      .start()
    try {
      ms.addData(sample: _*)
      q.processAllAvailable()
      val admitted = spark.read.parquet(corpusDir).collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(admitted == expected,
        s"streamed gate diverged from the batch gate: " +
          s"extra=${admitted -- expected} missing=${expected -- admitted}")
    } finally q.stop()
  }
}
