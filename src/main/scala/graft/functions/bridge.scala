// Lives under org.apache.spark.sql so the private[sql] Column<->
// Expression converters (Spark 4 removed the public `new Column(expr)`
// constructor) are reachable — the standard pattern for third-party
// Catalyst extensions.
package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, ExpressionInfo, ExpressionSet}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Optimizer fence: an identity logical node that no Catalyst pushdown
  * rule sees through. `PushPredicateThroughNonJoin` only moves a Filter
  * past the unary nodes it knows, so a Filter written above a Fence
  * stays above it, and a Filter over an aliased projection below the
  * Fence can no longer be rewritten to recompute the alias. Column
  * pruning still passes: ColumnPruning's generic "project below a node
  * that forwards its child's output" case inserts the pruning Project
  * under the Fence. Constraints and maxRows forward unchanged, since
  * the rows do. [[FenceStrategy]] plans it as its child, so it costs no
  * physical operator, exchange or materialization. */
case class Fence(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected lazy val validConstraints: ExpressionSet = child.constraints
  override protected def withNewChildInternal(newChild: LogicalPlan): Fence =
    copy(child = newChild)
}

/** Plans a [[Fence]] as its child's physical plan. */
object FenceStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Fence(child) => planLater(child) :: Nil
    case _ => Nil
  }
}

object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `df` under a [[Fence]]. The strategy is registered on
    * `df.sparkSession` first unless the session's planner already has
    * it (GraftSession.builder injects it as an extension), so a frame
    * fenced on an externally built session still plans. */
  def fence(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!spark.sessionState.planner.strategies.contains(FenceStrategy)) {
      val experimental = spark.experimental
      experimental.synchronized {
        if (!experimental.extraStrategies.contains(FenceStrategy))
          experimental.extraStrategies = FenceStrategy +: experimental.extraStrategies
      }
    }
    org.apache.spark.sql.classic.Dataset.ofRows(spark, Fence(df.queryExecution.analyzed))
  }

  /** Drain the asynchronous listener bus (private[spark], reachable
    * here because org.apache.spark.sql.* is inside the spark access
    * scope) — an action's SparkListenerJobEnd arrives on the bus
    * thread AFTER the action returns, so instrumentation that reads
    * listener-fed counters right after an action (graft.Profile's
    * job/exec decomposition) must drain first or it undercounts the
    * rep and bleeds the late event into the next one. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Register a function on a LIVE session's registry (the extensions
    * path only applies at session construction). */
  def registerFunction(spark: SparkSession, name: String, info: ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(name), info, builder)

  /** Re-plan `df` on a CLONED session whose conf differs only by
    * `confs` — per-execution conf scoping WITHOUT mutating the
    * caller's shared session (the r17 caveat on CorpusCuration
    * .manifest's AQE toggle, and bloomFilterOf's sizing-limit raise:
    * a set/restore on the live session is mutable global state that a
    * concurrent query on the same session can observe mid-window).
    * `cloneSession` copies the session state (conf, temp views,
    * registered functions) and SHARES the SharedState — one
    * CacheManager, so plans persisted via the scoped registry still
    * hit from the clone. The clone is plan-scoped garbage afterwards:
    * nothing registers it, and it holds no state of its own. */
  def withSessionConfs(df: org.apache.spark.sql.DataFrame,
                       confs: Map[String, String]): org.apache.spark.sql.DataFrame = {
    val clone = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    confs.foreach { case (k, v) => clone.conf.set(k, v) }
    org.apache.spark.sql.classic.Dataset.ofRows(clone,
      df.queryExecution.analyzed)
  }
}
