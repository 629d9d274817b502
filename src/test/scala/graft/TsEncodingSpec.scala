package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Analytics
import graft.sources.Tables

/** Schema-drift regression lock: the driver has regenerated
  * events.parquet with three different physical ts encodings across
  * rounds (int64 nanos, TIMESTAMP micros, TIMESTAMP_NTZ micros — the
  * round-7 NTZ flip zeroed 40 queries without a code change). This
  * spec WRITES all three encodings itself and proves every ts consumer
  * (normalizeTs, epochS, loadTimerange, recentWindow) produces
  * identical output on each, so the next re-encode is a no-op. */
class TsEncodingSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  // a base instant plus offsets spanning 3 days, 2 users
  private val base = 1704067200L // 2024-01-01 00:00:00 UTC
  private val rows = Seq(
    (1L, 0L, 10L, "view", 1.5, """{"k":1}"""),
    (2L, 3600L, 10L, "click", 2.5, """{"k":2}"""),
    (3L, 7200L, 11L, "view", 3.5, """{"k":3}"""),
    (4L, 86400L, 11L, "error", 4.5, """{"k":4}"""),
    (5L, 90000L, 10L, "view", 5.5, """{"k":5}"""),
    (6L, 172800L, 12L, "click", 6.5, """{"k":6}"""),
    (7L, 172801L, 12L, "view", 7.5, """{"k":7}"""))

  private def baseDf: DataFrame =
    rows.toDF("event_id", "off_s", "user_id", "event_type", "value", "props")
      .withColumn("epoch_s", lit(base) + col("off_s"))

  /** Write events.parquet under `enc` into a fresh dir; return the dir. */
  private def writeEncoded(enc: String): String = {
    val dir = tempDir(s"graft-tsenc-$enc").toString
    if (enc == "nanos-annotated") { writeNanosAnnotated(dir); return dir }
    val ts = enc match {
      // the nanos file reads back as LongType — the same shape the
      // legacy nanosAsLong flag produces on a TIMESTAMP(NANOS) file
      case "nanos-long" => (col("epoch_s") * 1000000000L).cast(LongType)
      case "micros-tz" => timestamp_seconds(col("epoch_s")).cast(TimestampType)
      case "micros-ntz" =>
        timestamp_seconds(col("epoch_s")).cast(TimestampNTZType)
    }
    baseDf
      .select(col("event_id"), ts.as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** A REAL `INT64 (TIMESTAMP(NANOS,false))`-annotated file — the
    * encoding pyarrow emits for naive ns timestamps, and the one the
    * driver has historically regenerated events.parquet with. Spark
    * cannot write NANOS itself (outputTimestampType stops at micros),
    * so this hand-writes the footer via the parquet Group API. Without
    * `spark.sql.legacy.parquet.nanosAsLong` the SCAN throws "Illegal
    * Parquet type: INT64 (TIMESTAMP(NANOS,false))" — so every test
    * below exercising this arm pins the flag's presence in the session,
    * not just the LongType normalization arithmetic. */
  private def writeNanosAnnotated(dir: String): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.io.api.Binary
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .optional(INT64)
        .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.NANOS))
        .named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("spark_schema")
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withConf(conf).withType(schema).build()
    try rows.foreach { case (id, off, uid, typ, v, props) =>
      val g = new SimpleGroupFactory(schema).newGroup()
      g.append("event_id", id)
      g.append("ts", (base + off) * 1000000000L)
      g.append("user_id", uid)
      g.append("event_type", Binary.fromString(typ))
      g.append("value", v)
      g.append("props", Binary.fromString(props))
      writer.write(g)
    } finally writer.close()
  }

  private val encodings = Seq(
    "nanos-long" -> LongType,
    "nanos-annotated" -> LongType, // TIMESTAMP(NANOS) under the legacy flag
    "micros-tz" -> TimestampType,
    "micros-ntz" -> TimestampNTZType)
  private lazy val dirs: Map[String, String] =
    encodings.map { case (enc, _) => enc -> writeEncoded(enc) }.toMap

  test("each encoding round-trips to its distinct raw Spark type") {
    encodings.foreach { case (enc, expected) =>
      val raw = Tables.eventsRaw(spark, dirs(enc))
      assert(raw.schema("ts").dataType == expected,
        s"$enc read back as ${raw.schema("ts").dataType}")
    }
  }

  test("normalizeTs yields identical TimestampType instants on all three") {
    val results = encodings.map { case (enc, _) =>
      val ev = Tables.events(spark, dirs(enc))
      assert(ev.schema("ts").dataType == TimestampType, s"$enc not normalized")
      enc -> ev.select(col("event_id"), Analytics.epochS(col("ts")).as("s"))
        .orderBy("event_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val expected = rows.map(r => (r._1, base + r._2))
    results.foreach { case (enc, got) =>
      assert(got == expected, s"$enc: $got")
    }
  }

  test("loadTimerange returns identical rows (and epoch_s) on all three") {
    val results = encodings.map { case (enc, _) =>
      enc -> Analytics.loadTimerange(Tables.eventsRaw(spark, dirs(enc)),
          "2024-01-01 01:00:00", "2024-01-03 00:00:00")
        .collect().map(_.toSeq).toSeq
    }
    assert(results.head._2.map(_(0)) == Seq(2L, 3L, 4L, 5L))
    results.tail.foreach { case (enc, got) =>
      assert(got == results.head._2, s"$enc diverges from ${results.head._1}")
    }
  }

  test("recentWindow returns identical rows on all three") {
    val results = encodings.map { case (enc, _) =>
      enc -> Analytics.recentWindow(Tables.eventsRaw(spark, dirs(enc)), hours = 24)
        .collect().map(_.toSeq).toSeq
    }
    // max ts is base+172801; 24h window keeps offsets >= 86401
    assert(results.head._2.map(_(0)) == Seq(5L, 6L, 7L))
    results.tail.foreach { case (enc, got) =>
      assert(got == results.head._2, s"$enc diverges from ${results.head._1}")
    }
  }

  test("streaming readEvents normalizes all three encodings identically") {
    // readEvents probes the stream schema from a one-footer batch read;
    // its glob expects `events.parquet` as a flat FILE (the driver's
    // layout), so flatten the spark-written directory first.
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    import org.apache.spark.sql.streaming.Trigger
    val results = encodings.map { case (enc, _) =>
      val flat = tempDir(s"graft-tsenc-stream-$enc")
      val partDir = Paths.get(dirs(enc), "events.parquet")
      // spark writes a directory of part files; the hand-written
      // nanos-annotated arm is already a flat file (the driver layout)
      val part =
        if (JFiles.isDirectory(partDir))
          JFiles.list(partDir).filter(_.toString.endsWith(".parquet"))
            .findFirst().get()
        else partDir
      JFiles.copy(part, flat.resolve("events.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      val stream = graft.streaming.EventsStream.readEvents(spark, flat.toString)
      assert(stream.schema("ts").dataType == TimestampType, s"$enc stream not normalized")
      val outDir = tempDir(s"graft-tsenc-sink-$enc").toString
      val q = stream
        .select(col("event_id"), Analytics.epochS(col("ts")).as("s"))
        .writeStream.format("memory").queryName(s"tsenc_$enc".replace('-', '_'))
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$outDir/ckpt").start()
      q.awaitTermination(60000)
      val got = spark.table(s"tsenc_$enc".replace('-', '_'))
        .orderBy("event_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      enc -> got
    }
    val expected = rows.map(r => (r._1, base + r._2))
    results.foreach { case (enc, got) => assert(got == expected, s"$enc: $got") }
  }

  /** The scan node's actual PushedFilters metadata (not the whole plan
    * string — a post-scan Filter node would also print the predicate). */
  private def pushedFilters(df: DataFrame): String = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // sparkPlan, not executedPlan: AQE wraps the latter in an
    // AdaptiveSparkPlanExec whose collectLeaves hides the scan node
    val scans = df.queryExecution.sparkPlan.collectLeaves().collect {
      case s: FileSourceScanExec => s.metadata.getOrElse("PushedFilters", "")
    }
    assert(scans.nonEmpty, "no FileSourceScanExec leaf found")
    scans.mkString(";")
  }

  test("range predicate reaches PushedFilters for ALL encodings") {
    encodings.foreach { case (enc, _) =>
      val pf = pushedFilters(Analytics.loadTimerange(
        Tables.eventsRaw(spark, dirs(enc)),
        "2024-01-01 01:00:00", "2024-01-03 00:00:00"))
      assert(pf.contains("GreaterThanOrEqual(ts,"),
        s"$enc: lower bound not in PushedFilters: $pf")
      assert(pf.contains("LessThan(ts,"),
        s"$enc: upper bound not in PushedFilters: $pf")
    }
  }

  test("recentWindow cutoff reaches PushedFilters for ALL encodings") {
    encodings.foreach { case (enc, _) =>
      val pf = pushedFilters(
        Analytics.recentWindow(Tables.eventsRaw(spark, dirs(enc)), hours = 24))
      assert(pf.contains("GreaterThanOrEqual(ts,"),
        s"$enc: cutoff not in PushedFilters: $pf")
    }
  }
}
