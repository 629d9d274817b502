package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.FenceStrategy

import graft.operators.{Dedup, TextAnalysis, fence, spreadToCores}
import graft.sources.Tables

/** Locks the optimizer fence (`operators.fence`): filters written on a
  * fenced frame stay above it, filters over a fenced frame's computed
  * columns read the column instead of recomputing its kernel, column
  * pruning still reaches the scan, and the fence itself adds nothing to
  * the physical plan or the answer. */
class FenceSpec extends AnyFunSuite {
  import TestSession._

  private lazy val docs = Tables.documents(spark, sfDir)

  private def planLines(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.toString.linesIterator.toSeq

  /** Operator lines of a physical plan that are Filters. */
  private def filterLines(df: DataFrame): Seq[String] =
    planLines(df).filter(_.matches("""^[\s:+\-*()\d]*Filter .*"""))

  test("a Filter written after spreadToCores stays above the spread exchange") {
    val lines = planLines(spreadToCores(docs).filter(length(col("text")) > 40))
    val filterAt = lines.indexWhere(_.contains("Filter "))
    val exchangeAt = lines.indexWhere(_.contains("Exchange RoundRobinPartitioning"))
    assert(filterAt >= 0 && exchangeAt >= 0, lines.mkString("\n"))
    assert(filterAt < exchangeAt,
      s"filter was pushed below the spread exchange:\n${lines.mkString("\n")}")
  }

  test("a Filter over a fenced kernel column reads the column, not the kernel") {
    val cleaned = fence(docs.select(col("doc_id"),
      TextAnalysis.cleanMarkup(col("text")).as("text")))
    val kept = cleaned.filter(TextAnalysis.qualityKeepExpr())
    assert(filterLines(kept).nonEmpty, planLines(kept).mkString("\n"))
    assert(!filterLines(kept).exists(_.contains("regexp_replace(")),
      s"markup kernel inside a Filter:\n${planLines(kept).mkString("\n")}")
    // the kernel still runs exactly once, in the projection
    assert(planLines(kept).exists(l => l.contains("Project") && l.contains("regexp_replace(")))
  }

  test("the fence adds no physical operator") {
    val base = docs.select(col("doc_id"), length(col("text")).as("n"))
    def shape(df: DataFrame): String =
      df.queryExecution.executedPlan.toString.replaceAll("#\\d+", "#")
    assert(shape(fence(base)) == shape(base))
  }

  test("column pruning reaches the parquet scan through the fence") {
    val lines = planLines(fence(spreadToCores(docs)).select("doc_id"))
    val scan = lines.find(_.contains("FileScan parquet")).getOrElse(fail(lines.mkString("\n")))
    assert(scan.contains("ReadSchema: struct<doc_id:bigint>"), scan)
  }

  test("the strategy is registered once per session, however often fence runs") {
    fence(docs); fence(docs)
    val strategies = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.planner.strategies
    assert(strategies.count(_ == FenceStrategy) == 1)
  }

  test("q_curate runs the markup kernel in no Filter; minhash queries no shingle hash") {
    val curate = SparkEntry.queries("q_curate")(spark, sfDir)
    assert(!filterLines(curate).exists(_.contains("regexp_replace(")),
      s"q_curate filters on the markup kernel:\n${filterLines(curate).mkString("\n")}")
    // the quality gate filters on its projected keep bit, not on the
    // token counts it is computed from
    assert(!filterLines(curate).exists(_.contains("size(wstokens(")),
      s"q_curate's quality gate filters on the token kernel:\n${filterLines(curate).mkString("\n")}")
    Seq("q_dedup_minhash", "q_dedup_clusters", "q_ngram_jaccard").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      assert(!filterLines(df).exists(_.contains("shinglehash64(")),
        s"$name filters on the shingle kernel:\n${filterLines(df).mkString("\n")}")
    }
  }

  test("fence leaves results unchanged on an empty table and on duplicate doc_ids") {
    val empty = docs.limit(0)
    val dup = docs.limit(40).union(docs.limit(40))
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    for (in <- Seq(empty, dup)) {
      val unfenced = in.select(col("doc_id"),
          TextAnalysis.cleanMarkup(col("text")).as("text"))
        .filter(TextAnalysis.qualityKeepExpr())
      val fenced = fence(in.select(col("doc_id"),
          TextAnalysis.cleanMarkup(col("text")).as("text")))
        .filter(TextAnalysis.qualityKeepExpr())
      assert(rows(fenced) == rows(unfenced))
      val sh = Dedup.shingleHashes(in).filter(size(col("sh")) > 0)
      val shRef = in.select(col("doc_id"),
          graft.functions.GraftFunctions.shingleHash64(TextAnalysis.tokens(col("text")), 3).as("sh"))
        .filter(size(col("sh")) > 0)
      assert(rows(sh) == rows(shRef))
    }
    assert(Dedup.minhashPairs(empty).count() == 0)
  }
}
