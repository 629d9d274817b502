package graft.monitoring

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Operation timing tracker — Spark realization of
  * monitoring/performance.py (the reference wraps operations with a
  * timing decorator and keeps per-op duration stats).
  *
  * Spark-native form: a QueryExecutionListener records every action's
  * duration driver-side (zero executor overhead), and named manual
  * spans cover non-SQL work (model fits, registry IO). `summary`
  * aggregates count/total/mean/max per operation name.
  */
class PerformanceTracker extends QueryExecutionListener {

  final case class Op(name: String, durationMs: Double, failed: Boolean,
                      shuffle: PlanMetrics.ShuffleStats = PlanMetrics.zero)

  private val ops = new ConcurrentLinkedQueue[Op]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    // roll up the executed plan's shuffle/spill accumulators here: the
    // listener holds the QueryExecution the action ACTUALLY ran (for
    // df.count() a derived one — reading df.queryExecution afterwards
    // would see empty accumulators), and by action end the DAGScheduler
    // has merged them synchronously, so the values are final
    val shuffle =
      try PlanMetrics.shuffleStats(qe.executedPlan)
      catch { case NonFatal(e) =>
        System.err.println(s"[tracker] $funcName shuffle stats recorded as zero: $e")
        PlanMetrics.zero
      }
    ops.add(Op(funcName, durationNs / 1e6, failed = false, shuffle))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    ops.add(Op(funcName, 0.0, failed = true))

  /** Time a named non-SQL operation (model fit, file IO, ...). */
  def span[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try {
      val r = body
      ops.add(Op(name, (System.nanoTime() - t0) / 1e6, failed = false))
      r
    } catch {
      case e: Throwable =>
        ops.add(Op(name, (System.nanoTime() - t0) / 1e6, failed = true))
        throw e
    }
  }

  def recorded: Seq[Op] = ops.asScala.toSeq

  /** name -> (count, total ms, mean ms, max ms, failures). */
  def summary: Map[String, (Int, Double, Double, Double, Int)] =
    recorded.groupBy(_.name).map { case (name, os) =>
      val ok = os.filterNot(_.failed).map(_.durationMs)
      val total = ok.sum
      name -> (os.size, total,
        if (ok.nonEmpty) total / ok.size else 0.0,
        if (ok.nonEmpty) ok.max else 0.0,
        os.count(_.failed))
    }

  def reset(): Unit = ops.clear()
}

object PerformanceTracker {
  /** Attach a fresh tracker to the session's listener bus. */
  def install(spark: SparkSession): PerformanceTracker = {
    val t = new PerformanceTracker
    spark.listenerManager.register(t)
    t
  }
}
