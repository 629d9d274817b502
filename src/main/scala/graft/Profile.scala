package graft

import scala.util.control.NonFatal

/** Scratch profiler: times a named query N times in one session to
  * separate fixed (planning/codegen) cost from marginal (data) cost.
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
    // job-count + summed-execution listener: the floor decomposition
    // (wall − Σ job execution = driver-side gaps: Catalyst analysis,
    // broadcast setup, scheduling) that motivated the r16 curation
    // plan-depth work reads straight off these counters
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val execNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    val jobStart =
      new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    // per-job breakdown for the floor decomposition: (jobId, ms,
    // n_tasks, first-stage name) rows printed per rep when
    // SPARK_GRAFT_PROFILE_JOBS=1 — answers "WHICH of the N jobs carry
    // the time" without the UI
    val jobDetail = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Double, Int, String)]())
    val jobInfo =
      new java.util.concurrent.ConcurrentHashMap[Int, (Int, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          jobStart.put(s.jobId, System.nanoTime())
          val nTasks = s.stageInfos.map(_.numTasks).sum
          val name = s.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n'))
            .getOrElse("")
          jobInfo.put(s.jobId, (nTasks, name))
        }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          // explicit absent-key handling: the boxed remove() returns
          // null for an unseen jobId (e.g. a job started before the
          // counters were reset) — don't rely on Scala's null→0L
          // unboxing plus a sentinel compare to encode that case
          Option(jobStart.remove(e.jobId)).foreach { t0 =>
            val dt = System.nanoTime() - t0
            execNanos.addAndGet(dt)
            val (nt, nm) = Option(jobInfo.remove(e.jobId)).getOrElse((0, ""))
            jobDetail.add((e.jobId, dt / 1e6, nt, nm))
          }
        }
      })
    try SparkEntry.entry(spark).count() catch { case NonFatal(e) =>
      System.err.println(s"[profile] warmup failed: $e")
    }
    (1 to reps).foreach { i =>
      jobs.set(0); execNanos.set(0L)
      val t0 = System.nanoTime()
      // the SHARED checksum action (graft.Checksum): count() would
      // let Catalyst prune projections/windows/agg functions and time
      // a bare row count; sharing the impl with Bench keeps the
      // MapType fallback and the bit_xor ANSI-overflow fix (r14) in
      // sync at both sites by construction
      //
      // floor decomposition (r20, BASELINE item): construct = the
      // query function itself (includes any eager training/dictionary
      // jobs), plan = Catalyst analyze+optimize+physical-plan of the
      // query frame (the checksum wrapper re-plans on top of it, so
      // this is a lower bound on the action's driver-side share),
      // action = the checksum job(s)
      val df = SparkEntry.queries(name)(spark, sfDir)
      val tC = System.nanoTime()
      df.queryExecution.executedPlan
      val tP = System.nanoTime()
      Checksum.fullEval(df)
      val wall = (System.nanoTime() - t0) / 1e9
      val constructS = (tC - t0) / 1e9
      val planS = (tP - tC) / 1e9
      // drain the async listener bus BEFORE reading the counters: the
      // last job's end event arrives after the action returns, and
      // without the drain it undercounts this rep and bleeds into the
      // next one's reset
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      println(f"[profile] $name run $i: $wall%.3f s " +
        f"(jobs=${jobs.get}, job_exec=${execNanos.get / 1e9}%.2f s, " +
        f"construct=$constructS%.3f, plan=$planS%.3f)")
      if (sys.env.get("SPARK_GRAFT_PROFILE_JOBS").contains("1")) {
        import scala.jdk.CollectionConverters._
        jobDetail.asScala.toList.sortBy(_._1).foreach { case (id, ms, nt, nm) =>
          println(f"[profile]   job $id%3d ${ms}%8.1f ms tasks=$nt%4d  $nm")
        }
        jobDetail.clear()
      } else jobDetail.clear()
      // drain operator caches between reps, as Bench does — otherwise
      // warm reps read persistTracked frames and overstate vs Bench
      graft.operators.Caches.releaseAll()
    }
    spark.stop()
  }
}
