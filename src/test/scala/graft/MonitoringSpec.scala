package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.monitoring.PerformanceTracker
import graft.sources.Tables

class MonitoringSpec extends AnyFunSuite {
  import TestSession._

  test("tracker records query actions and manual spans") {
    val t = PerformanceTracker.install(spark)
    try {
      Tables.events(spark, sfDir).count()
      Tables.nation(spark, sfDir).count()
      val x = t.span("manual_op") { Thread.sleep(5); 42 }
      assert(x == 42)
      // listener bus is async; poll until delivered
      eventually(t.recorded.count(_.name == "count") >= 2)
      val s = t.summary
      assert(s.contains("manual_op"))
      val (n, total, mean, maxMs, failures) = s("manual_op")
      assert(n == 1 && failures == 0 && total >= 5.0 && mean == total && maxMs == total)
    } finally PerformanceTracker.uninstall(spark, t)
  }

  test("tracker records failures from spans") {
    val t = new PerformanceTracker
    intercept[RuntimeException](t.span("boom") { throw new RuntimeException("x") })
    assert(t.summary("boom")._5 == 1)
  }

  test("tracker measure counts a run's jobs and returns its failure") {
    val t = PerformanceTracker.install(spark)
    try {
      val ran = t.measure(spark)(Tables.events(spark, sfDir).groupBy("user_id").count().collect())
      assert(ran.ok && ran.wallS > 0 && ran.execS > 0)
      assert(ran.jobs >= 1 && ran.jobRows.map(_.id) == ran.jobRows.map(_.id).sorted)
      assert(ran.jobRows.forall(j => j.tasks > 0 && j.ms >= 0), ran.jobRows)
      assert(ran.shuffle.bytesWritten > 0, ran.shuffle)
      val failed = t.measure(spark)(throw new IllegalStateException("boom"))
      assert(!failed.ok && failed.jobs == 0 && failed.error.exists(_.getMessage == "boom"))
    } finally PerformanceTracker.uninstall(spark, t)
  }

  test("PlanMetrics reads executed shuffle volume; projections shuffle zero") {
    import org.apache.spark.sql.functions._
    import graft.monitoring.PlanMetrics
    // a groupBy must write shuffle bytes and records. The action must
    // execute the frame's OWN plan: df.count() builds a derived
    // QueryExecution and would leave these accumulators at zero
    val agg = Tables.events(spark, sfDir).groupBy("user_id").count()
    agg.queryExecution.toRdd.count()
    val s = PlanMetrics.shuffleStats(agg)
    assert(s.bytesWritten > 0, s"aggregate wrote no shuffle bytes: $s")
    assert(s.recordsWritten > 0, s)
    // a pure projection must report exactly zero
    val proj = Tables.events(spark, sfDir).select(col("event_id"), col("value") * 2)
    proj.queryExecution.toRdd.count()
    val p = PlanMetrics.shuffleStats(proj)
    assert(p.bytesWritten == 0 && p.recordsWritten == 0, s"projection shuffled: $p")
    // before any action the rollup is all zeros, not an error
    val unrun = Tables.events(spark, sfDir).groupBy("user_id").count()
    assert(PlanMetrics.shuffleStats(unrun).bytesWritten == 0)
  }

  test("tracker attaches shuffle stats to whatever plan each action executed") {
    val t = PerformanceTracker.install(spark)
    try {
      // df.count() executes a DERIVED QueryExecution — exactly the case
      // where reading df.queryExecution would see nothing; the listener
      // sees the real one
      Tables.events(spark, sfDir).groupBy("user_id").count().count()
      eventually(t.recorded.exists(o => o.name == "count" && o.shuffle.bytesWritten > 0))
    } finally PerformanceTracker.uninstall(spark, t)
  }

  private def eventually(cond: => Boolean, tries: Int = 50): Unit = {
    var i = 0
    while (i < tries && !cond) { Thread.sleep(100); i += 1 }
    assert(cond)
  }

  test("bench load-evidence decision pins the r12 calibration populations") {
    import graft.Bench.loadEvidence
    // idle-box full-suite self-load must NOT convict: the r12
    // calibration run (box verified externally empty) read
    // median-sentinel drift 1.38-1.45, pre-suite 1m load 0.93-1.12,
    // and mid-run 1m load up to 9.39 — all bench-generated
    assert(!loadEvidence(drift = 1.45, pre1m = 0.93, mid1mMax = 9.39, cpus = 32))
    assert(!loadEvidence(drift = 1.38, pre1m = 1.12, mid1mMax = 3.32, cpus = 32))
    // both real incidents and the spinner calibration must convict
    assert(loadEvidence(drift = 22.4, pre1m = 0.0, mid1mMax = 20.4, cpus = 32))  // r10 driver box
    assert(loadEvidence(drift = 2.05, pre1m = 20.42, mid1mMax = 20.42, cpus = 32)) // 20-spinner run
    // a co-tenant present at launch convicts via the pre-suite arm
    // even when drift and mid-run stay under their ceilings
    assert(loadEvidence(drift = 1.4, pre1m = 6.0, mid1mMax = 8.0, cpus = 32))
    // small-box floors: pre arm floored at 2.0, mid arm at 4.0
    assert(!loadEvidence(drift = 1.4, pre1m = 1.9, mid1mMax = 3.9, cpus = 4))
    assert(loadEvidence(drift = 1.4, pre1m = 2.1, mid1mMax = 0.0, cpus = 4))
    // the -1.0 read-failure sentinel fails OPEN (arm disabled but
    // visible in the artifact), never convicts by itself
    assert(!loadEvidence(drift = 1.0, pre1m = -1.0, mid1mMax = 0.0, cpus = 32))
  }

  test("sentinel drift statistic reads sustained load, forgives the tail-residue spike") {
    import graft.Bench.sustainedDrift
    // the r14 honest-action calibration: BOTH consecutive idle-box
    // full-suite runs (pre_1m 0.70/0.77, totals within 2%) read a
    // deterministic single-point spike at the FINAL suite checkpoint
    // with quiet neighbors on both sides — bench tail residue, not
    // load. max/min read 2.33/2.50 and falsely convicted both runs;
    // second-max/min must NOT convict either.
    val run1 = Seq(0.215, 0.228, 0.202, 0.212, 0.181, 0.159, 0.170, 0.178, 0.370, 0.214)
    val run2 = Seq(0.225, 0.167, 0.218, 0.199, 0.246, 0.238, 0.235, 0.219, 0.418, 0.161)
    assert(sustainedDrift(run1) < 1.8, s"run1 ${sustainedDrift(run1)}")
    assert(sustainedDrift(run2) < 1.8, s"run2 ${sustainedDrift(run2)}")
    // sustained contention inflates EVERY sample (the r9/r12 failure
    // populations) — the second-max reads it exactly like the max did
    assert(sustainedDrift(run1.map(_ * 2.2)) < 1.8) // uniform scaling: still quiet (ratios unchanged)
    assert(sustainedDrift(Seq(0.16, 0.35, 0.41, 0.38, 0.36, 0.39)) > 1.8) // arrival after first sample, sustained
    assert(sustainedDrift(Seq(3.58, 3.7, 3.9, 3.4, 3.3, 0.16)) > 1.8)     // loaded run with one quiet window
    // degenerate sizes: <2 samples read 1.0; exactly 2 use max/min
    assert(sustainedDrift(Seq(0.2)) == 1.0)
    assert(math.abs(sustainedDrift(Seq(0.2, 0.5)) - 2.5) < 1e-9)
  }

  test("repass run allocation: 1-run floor by deviation rank, published cutoff (BENCH_r18 residual)") {
    import graft.Bench.{allocateRepasses, RepassRunBudget}
    val steady = (1 to 80).map(i => f"q$i%02d" -> i * 0.1).toMap
    val refine = steady.toSeq.sortBy(-_._2).map(_._1).take(16)
    // the r18 board, distilled then worsened: arms fill the base 16
    // AND 48 further mid-pack queries deviate at once — more than any
    // fixed reserve. The floor must fund them in deviation order and
    // publish the cutoff where the run budget ends.
    val armAB = (1 to 16).map(i => f"q$i%02d")
    val dev = steady.keys.map { k =>
      val i = k.drop(1).toInt
      k -> (if (i <= 16) 2.5
            else if (i <= 64) 1.3 + (65 - i) * 0.01
            else 1.0)
    }.toMap
    val (alloc, cutoff) = allocateRepasses(armAB = armAB, armC = Seq.empty,
      refine = refine, steadyOf = steady, deviationOf = dev)
    val runsOf = alloc.toMap
    // budget is exactly spent, never exceeded
    assert(alloc.map(_._2).sum <= RepassRunBudget)
    // the core (arm base + refinement tail) keeps its two runs
    assert(armAB.forall(runsOf.get(_).contains(2)),
      "arm-convicted queries must keep min-of-5")
    assert(refine.forall(runsOf.get(_).contains(2)),
      "refinement tail must keep min-of-5")
    // graceful degradation: funded tail deviators get >= 1 run, and
    // every UNFUNDED deviator sits at or below the published cutoff
    assert(cutoff.isDefined, "an overflowing board must publish its cutoff")
    val unfunded = dev.collect { case (k, d)
      if d > 1.3 && !runsOf.contains(k) => k }
    assert(unfunded.nonEmpty, "this board is built to overflow the floor")
    assert(unfunded.forall(k => dev(k) <= cutoff.get),
      s"every unrepassed suspect must be at or below the cutoff ${cutoff.get}")
    // funded tail members rank strictly above the unfunded ones
    val fundedTail = alloc.collect { case (k, 1) => k }
    assert(fundedTail.forall(k => dev(k) >= cutoff.get))
    // a calm board: every deviator funded at two runs, no cutoff
    val fewDev = steady.keys.map(k =>
      k -> (if (k == "q20" || k == "q30") 1.6 else 1.0)).toMap
    val (calm, calmCut) = allocateRepasses(armAB = Seq.empty, armC = Seq.empty,
      refine = refine, steadyOf = steady, deviationOf = fewDev)
    assert(calmCut.isEmpty)
    assert(calm.toMap.get("q20").contains(2) && calm.toMap.get("q30").contains(2),
      "leftover budget must upgrade a small tail back to min-of-5")
  }

  test("convicted slope windows rename their wall-ratio keys (_loaded)") {
    import graft.Bench.ratioKey
    // quiet window: the quotable name
    assert(ratioKey("slope3_step_ratios", convicted = false) == "slope3_step_ratios")
    // convicted window: a reader scanning for the quiet name finds
    // nothing — the load samples ship under the flagged name instead
    // (the r15 artifact published 10.7 under the quiet name with the
    // conviction one key away)
    assert(ratioKey("slope3_step_ratios", convicted = true) == "slope3_step_ratios_loaded")
    assert(ratioKey("slope2_ratios", convicted = true) == "slope2_ratios_loaded")
  }

  test("slope wall-anomaly decision pins the r12/r13 measured populations") {
    import graft.Bench.wallAnomaly
    // BENCH_r12's loaded-box slope3 block (the incident this arm was
    // built on): wall 123x / 26.5x against ~linear byte steps — repass
    assert(wallAnomaly(wallRatio = 123.0, byteRatio = 3.3, maxRatio = 20))
    assert(wallAnomaly(wallRatio = 26.5, byteRatio = 6.7, maxRatio = 20))
    // the r13 quiet re-measure: wall tracks bytes — no repass
    assert(!wallAnomaly(wallRatio = 3.24, byteRatio = 3.3, maxRatio = 20))
    assert(!wallAnomaly(wallRatio = 1.83, byteRatio = 6.7, maxRatio = 20))
    // minhash's documented one-time broadcast->SMJ byte jump: a
    // GENUINE byte blowup keeps its wall ratio untouched even when
    // wall exceeds the ceiling
    assert(!wallAnomaly(wallRatio = 25.0, byteRatio = 7952.0, maxRatio = 20))
  }
}
