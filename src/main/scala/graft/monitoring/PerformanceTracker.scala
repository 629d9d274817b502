package graft.monitoring

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Operation timing tracker — Spark realization of
  * monitoring/performance.py (the reference wraps operations with a
  * timing decorator and keeps per-op duration stats), and the one
  * recorder of a query run for Bench, Profile and the job-count locks.
  *
  * Spark-native form: as a QueryExecutionListener it records every
  * action's duration driver-side (zero executor overhead); as a
  * SparkListener it records every job (id, ms, task count, first stage
  * name); named manual spans cover non-SQL work (model fits, registry
  * IO). `summary` aggregates count/total/mean/max per operation name;
  * `measure` times one run and returns what the listeners saw of it.
  */
class PerformanceTracker extends SparkListener with QueryExecutionListener {
  import PerformanceTracker._

  final case class Op(name: String, durationMs: Double, failed: Boolean,
                      shuffle: PlanMetrics.ShuffleStats = PlanMetrics.zero)

  private val ops = new ConcurrentLinkedQueue[Op]()
  private val jobRows = new ConcurrentLinkedQueue[Job]()
  // jobId -> (start time ms, task count, first stage name)
  private val started = new ConcurrentHashMap[Int, (Long, Int, String)]()

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

  override def onJobStart(s: SparkListenerJobStart): Unit =
    started.put(s.jobId, (s.time, s.stageInfos.map(_.numTasks).sum,
      s.stageInfos.lastOption.fold("")(_.name.takeWhile(_ != '\n'))))

  // a job that started before this tracker was registered has no start
  // row and is not recorded
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach { case (t0, tasks, stage) =>
      jobRows.add(Job(e.jobId, (e.time - t0).toDouble, tasks, stage))
    }

  /** Time a named non-SQL operation (model fit, file IO, ...). */
  def span[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    var failed = true
    try { val r = body; failed = false; r }
    finally ops.add(Op(name, (System.nanoTime() - t0) / 1e6, failed))
  }

  def recorded: Seq[Op] = ops.asScala.toSeq

  /** Every job that ended since this tracker was registered. */
  def jobs: Seq[Job] = jobRows.asScala.toSeq

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

  /** Runs `body` once and returns its wall time (the clock covers
    * `body` and nothing else) with the actions and jobs it fired. A
    * non-fatal exception ends the run and is returned, not thrown. The
    * listener bus is drained after the clock stops, so every event of
    * the run is counted and none lands in the next run. */
  def measure(spark: SparkSession)(body: => Unit): Run = {
    val (ops0, jobs0) = (ops.size, jobRows.size)
    val t0 = System.nanoTime()
    val error = try { body; None } catch { case NonFatal(e) => Some(e) }
    val wallS = (System.nanoTime() - t0) / 1e9
    Bridge.drainListenerBus(spark)
    val runOps = recorded.drop(ops0).filterNot(_.failed)
    Run(wallS, runOps.map(_.durationMs).sum / 1e3, jobs.drop(jobs0).sortBy(_.id),
      runOps.map(_.shuffle).foldLeft(PlanMetrics.zero)(_ + _), error)
  }
}

object PerformanceTracker {
  final case class Job(id: Int, ms: Double, tasks: Int, stage: String)

  /** One measured run: wall seconds, the summed duration of its
    * successful actions (seconds), its jobs, the shuffle its actions
    * wrote, and the exception that ended it, if any. */
  final case class Run(wallS: Double, execS: Double, jobRows: Seq[Job],
                       shuffle: PlanMetrics.ShuffleStats, error: Option[Throwable]) {
    def jobs: Int = jobRows.size
    def ok: Boolean = error.isEmpty
  }

  /** Attach a fresh tracker to the session's listener buses. */
  def install(spark: SparkSession): PerformanceTracker = {
    val t = new PerformanceTracker
    spark.listenerManager.register(t)
    spark.sparkContext.addSparkListener(t)
    t
  }

  def uninstall(spark: SparkSession, t: PerformanceTracker): Unit = {
    spark.listenerManager.unregister(t)
    spark.sparkContext.removeSparkListener(t)
  }
}
