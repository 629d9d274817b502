package graft

import java.util.concurrent.atomic.AtomicInteger

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Bench's output contract on a small run: two real queries outside
  * the slope windows (so no synthetic corpus is built) plus one query
  * that always fails and one that fails only its first run. */
class BenchSpec extends AnyFunSuite {
  import TestSession._

  test("Bench.run: compact key order, JSON lines, failed and retried queries") {
    val calls = new AtomicInteger
    val queries: Map[String, Bench.Query] =
      SparkEntry.queries.filter { case (k, _) => Set("q1_pricing", "q_metrics")(k) } ++ Map(
        "q_always_fails" -> ((_, _) => sys.error("always fails")),
        "q_fails_once" -> ((s, d) =>
          if (calls.incrementAndGet() == 1) sys.error("fails once") else Tables.nation(s, d)))
    val (compactLine, fullLine) = Bench.run(spark, sfDir, queries, Bench.load1m())
    val compact = parse(compactLine)
    val full = parse(fullLine)
    val JObject(fields) = compact
    assert(fields.map(_._1) == List("metric", "failed_count", "value", "unit",
      "cold_total", "n_queries", "queries", "failed", "retried_ok", "bench_excluded",
      "spill_bytes_total", "slowest5", "floor_drift", "load_max_1m", "load_triggered",
      "n_repassed", "cpus", "sf"))
    for (line <- Seq(compact, full)) {
      assert(line \ "failed_count" == JInt(1))
      assert(line \ "failed" == JArray(List(JString("q_always_fails"))))
      assert(line \ "retried_ok" == JArray(List(JString("q_fails_once"))))
    }
    assert(compact \ "metric" == JString("total") && full \ "metric" == JString("total_full"))
    assert(compact \ "n_queries" == JInt(4))
    val JObject(jobs) = full \ "jobs"
    assert(jobs.map(_._1).toSet == queries.keySet)
    assert(jobs.collect { case (k, JInt(n)) if n > 0 => k }.toSet ==
      Set("q1_pricing", "q_metrics", "q_fails_once"),
      s"every query that ran its checksum action counts its jobs: $jobs")
  }
}
