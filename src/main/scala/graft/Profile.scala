package graft

import scala.util.control.NonFatal

import graft.monitoring.PerformanceTracker

/** Scratch profiler: times a named query N times in one session to
  * separate fixed (planning/codegen) cost from marginal (data) cost.
  * Each rep prints its wall time, job count, summed job time and its
  * construct/plan split, then one row per job (id, ms, tasks, first
  * stage name).
  * Usage: runMain graft.Profile <sfDir> <name> [reps]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    // Bench's session, so profiled plans are the benched plans
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracker = PerformanceTracker.install(spark)
    try SparkEntry.entry(spark).count() catch { case NonFatal(e) =>
      System.err.println(s"[profile] warmup failed: $e")
    }
    (1 to reps).foreach { i =>
      // construct = the query function itself (includes any eager
      // training/dictionary jobs), plan = Catalyst analyze+optimize+
      // physical-plan of the query frame (the checksum wrapper re-plans
      // on top of it, so this is a lower bound on the action's
      // driver-side share), then the shared checksum action Bench times
      var constructS, planS = 0.0
      val run = tracker.measure(spark) {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val tC = System.nanoTime()
        df.queryExecution.executedPlan
        val tP = System.nanoTime()
        constructS = (tC - t0) / 1e9
        planS = (tP - tC) / 1e9
        Checksum.fullEval(df)
      }
      run.error.foreach(e => System.err.println(s"[profile] $name run $i failed: $e"))
      println(f"[profile] $name run $i: ${run.wallS}%.3f s " +
        f"(jobs=${run.jobs}, job_exec=${run.jobRows.map(_.ms).sum / 1e3}%.2f s, " +
        f"construct=$constructS%.3f, plan=$planS%.3f)")
      run.jobRows.foreach { j =>
        println(f"[profile]   job ${j.id}%3d ${j.ms}%8.1f ms tasks=${j.tasks}%4d  ${j.stage}")
      }
      // drain operator caches between reps, as Bench does — otherwise
      // warm reps read persistTracked frames and overstate vs Bench
      graft.operators.Caches.releaseAll()
    }
    spark.stop()
  }
}
