package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Formats, Tables}

class FormatsSpec extends AnyFunSuite {
  import TestSession._

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  test("CSV round-trips the events table under an explicit schema") {
    val dir = tempDir("graft-csv").toString
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "value")
    Formats.writeCsv(ev, dir)
    val back = Formats.readCsv(spark, dir, eventSchema)
    val (clean, bad) = Formats.quarantine(back)
    assert(bad.count() == 0)
    assert(clean.count() == ev.count())
    // values survive the text round-trip exactly — sum in DECIMAL so
    // the comparison is partition-order-independent
    val exactSum = sum(col("value").cast("decimal(38,6)"))
    val a = ev.agg(exactSum, sum("event_id")).collect()(0)
    val b = clean.agg(exactSum, sum("event_id")).collect()(0)
    assert(a.getDecimal(0) == b.getDecimal(0) && a.getLong(1) == b.getLong(1))
  }

  test("JSONL round-trips and quarantines malformed lines") {
    val dir = tempDir("graft-jsonl").toString
    val ev = Tables.events(spark, sfDir).limit(100)
      .select("event_id", "user_id", "event_type", "value")
    Formats.writeJsonl(ev, dir)
    // inject corrupt lines alongside the good part files
    Files.writeString(java.nio.file.Paths.get(dir, "part-corrupt.json"),
      "{\"event_id\": 1, \"user_id\": \n{not json at all\n")
    val (clean, bad) = Formats.quarantine(Formats.readJsonl(spark, dir, eventSchema))
    assert(clean.count() == 100)
    assert(bad.count() == 2)
    // quarantined rows keep the raw line for replay
    bad.collect().foreach(r => assert(r.getAs[String](Formats.corruptCol).nonEmpty))
  }

  test("CSV reader quarantines rows that cannot be parsed into the schema") {
    val dir = tempDir("graft-badcsv").toString
    Files.writeString(java.nio.file.Paths.get(dir, "data.csv"),
      "event_id,user_id,event_type,value\n" +
        "1,10,view,2.5\n" +
        "not_a_long,10,view,2.5\n" +
        "3,11,click,oops_not_a_double\n")
    val (clean, bad) = Formats.quarantine(Formats.readCsv(spark, dir, eventSchema))
    assert(clean.count() == 1)
    assert(clean.collect()(0).getLong(0) == 1L)
    assert(bad.count() == 2)
    graft.operators.Caches.releasePinned()
  }

  test("quarantine caches are pinned: releaseAll() cannot break an in-flight split") {
    val dir = tempDir("graft-pincsv").toString
    Files.writeString(java.nio.file.Paths.get(dir, "data.csv"),
      "event_id,user_id,event_type,value\n" +
        "1,10,view,2.5\n" +
        "nope,10,view,2.5\n")
    val (clean, bad) = Formats.quarantine(Formats.readCsv(spark, dir, eventSchema))
    assert(graft.operators.Caches.pinnedCount == 1)
    // an interleaved pipeline draining the global registry must NOT
    // drop the quarantine cache — the corrupt branch cannot recompute
    graft.operators.Caches.releaseAll()
    assert(clean.count() == 1)
    assert(bad.count() == 1) // would throw if the cache had been dropped
    graft.operators.Caches.releasePinned()
    assert(graft.operators.Caches.pinnedCount == 0)
  }

  test("scoped quarantine release: one batch's handle leaves the other batch pinned") {
    import graft.operators.Caches
    def writeBatch(tag: String): String = {
      val dir = tempDir(s"graft-scope$tag").toString
      Files.writeString(java.nio.file.Paths.get(dir, "data.csv"),
        "event_id,user_id,event_type,value\n" +
          s"1,10,$tag,2.5\n" +
          "nope,10,view,2.5\n")
      dir
    }
    val scope1 = Caches.newScope("batch1")
    val scope2 = Caches.newScope("batch2")
    val (clean1, bad1) = Caches.in(scope1)(
      Formats.quarantine(Formats.readCsv(spark, writeBatch("b1"), eventSchema)))
    val (clean2, bad2) = Caches.in(scope2)(
      Formats.quarantine(Formats.readCsv(spark, writeBatch("b2"), eventSchema)))
    assert(Caches.pinnedCount(scope1) == 1 && Caches.pinnedCount(scope2) == 1)
    // batch 1 lands and releases ITS handle; batch 2 is still in flight
    assert(clean1.count() == 1 && bad1.count() == 1)
    Caches.releasePinned(scope1)
    assert(Caches.pinnedCount(scope1) == 0)
    assert(Caches.pinnedCount(scope2) == 1,
      "releasing batch 1's scope dropped batch 2's pinned cache")
    // batch 2's corrupt branch still reads from its intact cache
    assert(clean2.count() == 1 && bad2.count() == 1)
    Caches.releasePinned(scope2)
    assert(Caches.pinnedCount == 0)
  }
}
