package graft.monitoring

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Post-action rollups of executed-plan SQL metrics.
  *
  * Why this route and not a SparkListener: task-end events reach
  * listeners on the ASYNC listener bus (a racy read right after an
  * action undercounts), but the per-node SQL metrics are plain
  * accumulators the DAGScheduler merges synchronously as tasks
  * complete — by the time an action returns, the executed plan's
  * metric values are final. Reading them costs one plan traversal,
  * zero instrumentation overhead during the run.
  *
  * The traversal descends through the adaptive wrappers
  * (AdaptiveSparkPlanExec's final plan, materialized query stages) and
  * dedupes by accumulator id, so an exchange that AQE reuses
  * (ReusedExchangeExec points at the original's accumulators) is
  * counted once.
  */
object PlanMetrics {

  final case class ShuffleStats(bytesWritten: Long, recordsWritten: Long, spillBytes: Long) {
    def +(o: ShuffleStats): ShuffleStats =
      ShuffleStats(bytesWritten + o.bytesWritten,
        recordsWritten + o.recordsWritten, spillBytes + o.spillBytes)
  }

  val zero: ShuffleStats = ShuffleStats(0L, 0L, 0L)

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val children = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case r: ReusedExchangeExec    => Seq(r.child)
      case other                    => other.children
    }
    (p +: children.flatMap(allNodes)) ++ p.subqueries.flatMap(allNodes)
  }

  /** Total shuffle bytes/records written and sort/agg spill bytes of
    * `df`'s EXECUTED plan — call after the terminal action has run
    * (before it, every metric reads 0). NOTE: the action must have
    * executed THIS frame's plan (`df.queryExecution.toRdd.count()`,
    * `collect()`, ...); `df.count()` executes a derived
    * QueryExecution and leaves this plan's accumulators empty — for
    * action-agnostic collection attach a [[PerformanceTracker]], which
    * rolls up whichever plan each action actually executed. */
  def shuffleStats(df: DataFrame): ShuffleStats =
    shuffleStats(df.queryExecution.executedPlan)

  /** Sum of one named SQL metric across `df`'s EXECUTED plan (e.g.
    * "numTasksFallBacked" proves the hash aggregate's sort-based
    * fallback path REALLY ran in a forced-degradation test). Same
    * traversal, dedup, and -1-sentinel guard as [[shuffleStats]]. */
  def metricSum(df: DataFrame, name: String): Long =
    sums(df.queryExecution.executedPlan, name)(0)

  def shuffleStats(plan: SparkPlan): ShuffleStats = {
    val Seq(bytes, records, spill) =
      sums(plan, "shuffleBytesWritten", "shuffleRecordsWritten", "spillSize")
    ShuffleStats(bytes, records, spill)
  }

  /** Per name, the sum of that SQL metric over the plan's nodes, each
    * accumulator counted once. */
  private def sums(plan: SparkPlan, names: String*): Seq[Long] = {
    val seen = scala.collection.mutable.HashSet.empty[Long]
    val total = Array.fill(names.size)(0L)
    allNodes(plan).foreach { node =>
      node.metrics.foreach { case (key, m) =>
        val i = names.indexOf(key)
        // max(0): an unexecuted node's SQLMetric can sit at its -1
        // zero-sentinel; never let it subtract from the rollup
        if (i >= 0 && seen.add(m.id)) total(i) += math.max(0L, m.value)
      }
    }
    total.toSeq
  }
}
