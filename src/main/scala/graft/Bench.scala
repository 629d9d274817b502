package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.monitoring.{PerformanceTracker, PlanMetrics}
import graft.monitoring.PerformanceTracker.Run
import graft.operators.{Dedup, Similarity, TimeSeries}
import graft.sources.{ScaledCorpus, Tables}

/** Benchmark surface: times every SparkEntry query at the SF dir from
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. A warmup action runs
  * first, and every table of the SF dir is resolved, so JVM/codegen/
  * parquet-reader initialization is not billed to whichever query
  * happens to run first.
  *
  * Each query runs three times and reports the fastest run —
  * steady-state throughput, the TPC convention. The passes are
  * INTERLEAVED (the whole suite runs, then runs again), not
  * back-to-back repeats of each query: a transient stall on a shared
  * machine (co-tenant CPU burst, page-cache eviction) then lands in
  * one pass and the min recovers, where back-to-back samples would
  * both absorb it (an alphabetically contiguous window of queries once
  * reported 3-10× their reproducible times). The first execution of a
  * query additionally pays one-time Catalyst planning + whole-stage-
  * codegen javac compilation (~0.3–2 s, independent of data size —
  * profiled with graft.Profile); that cost is amortized away in any
  * real deployment and is excluded the same way the pandas baseline
  * excludes interpreter startup and imports. The sum of first-pass
  * runs is still reported as `cold_total`.
  *
  * Every run is measured by [[graft.monitoring.PerformanceTracker]]:
  * `exec_times` is the Spark-measured execution duration of a query's
  * actions (summed per run, min across passes) — the executed-plan
  * cost with this harness's plan-construction overhead excluded — and
  * `jobs` the number of Spark jobs its min-wall run fired.
  *
  * SCALING-SLOPE PROBE: after the primary passes the suite re-runs at
  * one SF step down (sf0.1 → sf0.01 → sf0.001) and the JSON line
  * carries per-query `slope_ratios` = t(primary)/t(small) of the
  * steady-state mins. The step is 10× the data, so a ratio near 1
  * means the query is still fixed-overhead-bound at this scale, a
  * ratio up to ~10 is at-most-linear marginal cost, and a ratio well
  * past the data ratio flags superlinear work. Two up-step windows
  * (`slope2_*`, `slope3_*`) time the heavy queries on 10× and 100×
  * synthetic corpora the same way.
  *
  * LOAD-IMMUNITY PROBE: `load` carries a /proc/loadavg timeline
  * sampled at every pass start/third boundary, `floor_sentinel` the
  * re-timed fixed cheap query whose drift reads ~1 on a quiet box and
  * the inflation factor under co-tenant load, and `repassed` the
  * queries that earned extra timing passes — the 16 slowest ALWAYS
  * (uniform min-of-5 refinement on the heavy tail), plus any query
  * flagged by a wall-vs-exec-floor gap, a 2x blowout vs the committed
  * quiet baseline (`bench_quiet.json`), or the run's OWN load evidence
  * (see [[loadEvidence]]), which repasses the slowest queries
  * unconditionally: a SUSTAINED uniform ~1.5x load inflates wall and
  * exec together and stays under every per-query 2x threshold. The
  * primary value is the min across passes AND repasses — so a
  * loaded-box artifact heals itself when a quieter window arrives,
  * and marks itself double-checked when it doesn't.
  *
  * SHUFFLE/SPILL PROBE: `shuffle_bytes` carries each query's measured
  * exchange write volume (executed-plan SQL metrics, see
  * [[graft.monitoring.PlanMetrics]]) and `spill_bytes_total` the
  * suite-wide sort/agg spill (expected 0 at bench scale). With the
  * slope probe this also emits `shuffle_ratios` = bytes(primary)/
  * bytes(small) — unlike wall-clock ratios these are
  * machine-independent, so the data-volume slope stays readable even
  * through a driver-machine stall. */
object Bench {

  type Query = (SparkSession, String) => DataFrame

  /** The load-evidence decision, pure so MonitoringSpec can pin the
    * idle-box calibration as executable facts:
    *  - sentinel drift > 1.8 (samples are per-checkpoint MEDIANS of 3,
    *    so quiet full-suite residue reads well under the loaded
    *    populations 2.05 / 22.4 while sustained contention still
    *    inflates every sample);
    *  - PRE-suite 1m loadavg > max(2, cpus/8): the co-tenant check,
    *    sampled before any Spark work so the bench cannot convict
    *    itself (floored at 2.0 — cpus/8 on a 4-cpu box is 0.5 and
    *    would fire on background noise);
    *  - mid-run 1m loadavg > max(4, cpus/2): catastrophic-arrival
    *    backstop, ~1.7x above the measured self-load ceiling (0.3x cpus:
    *    an idle 32-cpu box read 9.39 mid-run on its own burn) and under
    *    both observed co-tenant incidents (20.4, 20.42).
    * A false trigger costs only bounded extra mins, never a wrong value. */
  private[graft] def loadEvidence(drift: Double, pre1m: Double,
                                  mid1mMax: Double, cpus: Int): Boolean =
    drift > 1.8 ||
      pre1m > math.max(2.0, cpus / 8.0) ||
      mid1mMax > math.max(4.0, cpus / 2.0)

  /** Sentinel drift as a SUSTAINED-contention statistic: second-max /
    * min of the steady samples (max/min when only two exist). The arm
    * exists to catch load present across the whole suite (EVERY sample
    * inflated 2.05/22.4× in the loaded populations) — a co-tenant
    * sustained enough to poison the per-query minima inflates every
    * checkpoint, so the second-max reads it just as well as the max.
    * What the max reads and the second-max correctly forgives is the
    * bench's OWN tail residue: the FINAL suite checkpoint — fired right
    * after the third full pass — read 0.370/0.418 s against quiet
    * neighbors 0.16–0.25 on BOTH of two consecutive idle-box runs
    * (pre_1m 0.70/0.77, totals agreeing within 2%, and the post-repass
    * sample immediately after back at 0.16–0.21), a deterministic
    * single-point GC/JIT spike that max/min misread as drift 2.3–2.5.
    * A genuine single-checkpoint arrival is not lost: it inflates the
    * adjacent queries, which arms (a)/(b) flag per-query. */
  private[graft] def sustainedDrift(steady: Seq[Double]): Double =
    if (steady.size < 2) 1.0
    else {
      val sorted = steady.sorted
      val high = if (steady.size >= 3) sorted(sorted.size - 2) else sorted.last
      high / math.max(sorted.head, 1e-3)
    }

  /** The slope-probe wall-anomaly decision, pure so MonitoringSpec can
    * pin the measured populations: a wall step ratio past the data
    * step's ceiling while the BYTE step stays well under it is a
    * clock/bytes contradiction — the plan moved ~linear bytes but the
    * wall says superlinear — i.e. a measurement artifact to repass,
    * not a plan property (a loaded-box hash_embed read wall 123x on a
    * 3.3x byte step; the quiet re-measure read 3.24x). A genuine byte
    * blowup (minhash's one-time broadcast→SMJ jump: bytes 7952x) keeps
    * its wall ratio untouched. */
  private[graft] def wallAnomaly(wallRatio: Double, byteRatio: Double,
                                 maxRatio: Double): Boolean =
    wallRatio > maxRatio && byteRatio <= maxRatio * 0.6

  /** Repass selection, pure so MonitoringSpec can pin it. Arm-flagged
    * queries rank by quiet-baseline deviation (steady / committed
    * baseline; slowest first breaks ties): the per-query arms (a)/(b)
    * first, then arm (d) — queries past 1.3x their baseline — then the
    * load arm (c), which flags every ok query on a loaded run. The
    * first 16 form the arm base.
    *
    * Repass RUNS are a budget allocated by DEVIATION RANK with a 1-run
    * floor, so a burst-regime board degrades by rank instead of
    * truncating its tail at a fixed reserve. The core set — the 16-slot
    * arm base plus the whole refinement tail — keeps its TWO extra runs
    * (the min-of-5 warmth contract); every remaining arm-(d) deviator
    * then gets ONE run in deviation order while the run budget lasts,
    * and leftover budget upgrades the highest-deviation tail members
    * back to two. A board so flooded that even the 1-run floor
    * exhausts cuts the lowest deviators and publishes the LOWEST FUNDED
    * deviation as `suspect_cutoff` — every unrepassed suspect is then
    * provably at or below the published cutoff. Budget 96 runs covers
    * up to ~28 core + 40 floor suspects ≈ 68 — more than any observed
    * board — before cutting anything. */
  private[graft] val RepassRunBudget = 96
  private[graft] def allocateRepasses(armAB: Seq[String], armC: Seq[String],
                                      refine: Seq[String],
                                      steadyOf: Map[String, Double],
                                      deviationOf: Map[String, Double] = Map.empty,
                                      runBudget: Int = RepassRunBudget)
      : (Seq[(String, Int)], Option[Double]) = {
    def rank(ks: Seq[String]): Seq[String] =
      ks.distinct.sortBy(k => (-deviationOf.getOrElse(k, 0.0),
        -steadyOf.getOrElse(k, 0.0), k))
    val armD = deviationOf.collect { case (k, d) if d > 1.3 => k }.toSeq
    val base = (rank(armAB) ++ rank(armD) ++ rank(armC)).distinct.take(16)
    val core = (base ++ refine).distinct
    val tail = rank(armD).filterNot(core.toSet)
    val left = math.max(0, runBudget - 2 * core.size)
    val funded = tail.take(left)
    val upgrades = math.min(funded.size, left - funded.size)
    val alloc = core.map(_ -> 2) ++
      funded.zipWithIndex.map { case (k, i) => k -> (if (i < upgrades) 2 else 1) }
    val cutoff =
      if (funded.size < tail.size)
        // lowest FUNDED deviation, or — when the 1-run floor itself
        // funded nothing (reachable if core ever grows to runBudget/2)
        // — the HIGHEST tail deviation, so "every unrepassed suspect is
        // at or below the cutoff" stays true in both regimes instead of
        // silently publishing null
        funded.lastOption.orElse(tail.headOption)
          .map(k => deviationOf.getOrElse(k, 0.0))
      else None
    (alloc, cutoff)
  }

  /** `body`, or `default` when it fails — with the reason on stderr,
    * so a substituted value is never silent. */
  private def orWarn[T](what: String, default: T)(body: => T): T =
    try body catch { case NonFatal(e) =>
      System.err.println(s"[bench] $what: $e")
      default
    }

  /** The 1/5/15-minute load averages; empty when unreadable. */
  private def loadavg(): Seq[Double] =
    orWarn("/proc/loadavg unreadable", Seq.empty[Double]) {
      val f = scala.io.Source.fromFile("/proc/loadavg")
      try f.mkString.trim.split("\\s+").take(3).map(_.toDouble).toSeq finally f.close()
    }

  /** The 1-minute load average, or -1.0 when unreadable: a VISIBLE
    * sentinel — the co-tenant arm still fails open (-1.0 never exceeds
    * its threshold), but the artifact's load.pre_1m then distinguishes
    * "arm disabled" from "genuinely idle box". */
  private[graft] def load1m(): Double = loadavg().headOption.getOrElse(-1.0)

  /** Key under which a slope window's WALL-TIME maps publish (the
    * ratio maps AND the raw per-query seconds): a CONVICTED window
    * (sustained sentinel contention, or suite-level load) renames the
    * key with a `_loaded` suffix, so a reader scanning the artifact
    * for the quiet-name key cannot misquote load samples as
    * measurements (a self-convicted window once published a 10.7
    * dedup_minhash step ratio under the quiet name, its conviction one
    * key away). The samples still ship (under the flagged name) and
    * BYTE ratios are machine-independent, so they never rename. */
  private[graft] def ratioKey(base: String, convicted: Boolean): String =
    if (convicted) base + "_loaded" else base

  /** One SF step down from `sfDir` for the slope probe; None when
    * already at the smallest step (or an unrecognized layout). */
  private def slopeDirFor(sfDir: String): Option[String] =
    (sfDir.replaceAll("/+$", "") match {
      case d if d.endsWith("sf0.1")  => Some(d.stripSuffix("0.1") + "0.01")
      case d if d.endsWith("sf0.01") => Some(d.stripSuffix("0.01") + "0.001")
      case _ => None
    }).filter(d => new java.io.File(d).isDirectory)

  /** One query's measurement across its timed runs: the first run's
    * wall (`cold`), the min wall and the job count of that min-wall
    * run, the min exec time, whether every run succeeded, and the
    * shuffle volume. */
  private final case class Timed(name: String, cold: Double, wall: Double, jobs: Int,
                                 exec: Double, ok: Boolean, shuffle: PlanMetrics.ShuffleStats) {
    def bytes: Long = shuffle.bytesWritten

    /** The same measurement with `extra` runs folded into its mins. */
    def refine(extra: Seq[Run]): Timed = {
      val best = extra.minBy(_.wallS)
      val e = math.min(exec, extra.map(_.execS).min)
      if (best.wallS < wall) copy(wall = best.wallS, jobs = best.jobs, exec = e)
      else copy(exec = e)
    }
  }

  private object Timed {
    def of(name: String, runs: Seq[Run]): Timed = {
      val best = runs.minBy(_.wallS)
      // shuffle volume is a property of the data, not the run: take the
      // max so a run that short-circuits on an error cannot underreport.
      // Spill is transient memory pressure that can land in any run,
      // including one with fewer bytes, so its max is taken on its own
      val shuffle = runs.map(_.shuffle).maxBy(_.bytesWritten)
        .copy(spillBytes = runs.map(_.shuffle.spillBytes).max)
      Timed(name, runs.head.wallS, best.wallS, best.jobs, runs.map(_.execS).min,
        runs.forall(_.ok), shuffle)
    }
  }

  /** Add-one smoothed byte ratio: 0/0 reads 1.0 (flat), and bytes
    * appearing only at the larger scale read as the byte count itself
    * — still a flag, never a sentinel. */
  private def byteRatio(big: Long, small: Long): Double = (big + 1).toDouble / (small + 1)

  private def jobj(res: Seq[Timed])(f: Timed => JValue): JObject =
    JObject(res.map(r => r.name -> f(r)).toList)

  private def jstrs(ks: Seq[String]): JArray = JArray(ks.map(JString(_)).toList)

  private def jstats(n: Long, max: Long, candPairs: Long): JObject =
    JObject("n" -> JLong(n), "max" -> JLong(max), "cand_pairs" -> JLong(candPairs))

  // Composition-pin entries EXCLUDED from the timed suite (visible in
  // the JSON as `bench_excluded`, never silent): q_curate* re-run
  // operators this suite already times individually (~9 s/pass at
  // sf0.1) and are measured separately in BASELINE.md's end-to-end
  // table; q_corpus_ingest_check and q_neardup_store_check REPLAY
  // batches through a throwaway on-disk store (~16 s of store DDL at
  // sf0.1) — correctness contracts whose wall is temp-store writes,
  // not an operator. Timing them would double-count member stages.
  private val composedPins =
    Set("q_curate", "q_curate_manifest", "q_curate_semantic",
      "q_corpus_ingest_check", "q_neardup_store_check")

  // First up-step window (10x synthetic ScaledCorpus: token-bijective
  // document copies, user-offset event copies, sign-flip-decorrelated
  // embedding copies — linear by construction). Heavy queries of every
  // table family whose per-row work is independent of corpus size.
  // Deliberately absent, because their pair or benchmark space grows
  // quadratically BY SEMANTICS on a synthetic corpus that copies the
  // benchmark slice too: q_contamination_report and
  // q_semantic_decontaminate (corpus x benchmark = 100x per decade;
  // ScaleSpec measures their fixed-benchmark deployment shape), the
  // pair-forming LSH ops and q_semdedup (fixed plane/band params and
  // fixed k — production scales them with the corpus; see BUILD_NOTES
  // and the semDedup scaladoc). Wordcount-shaped and scan-local ops are
  // covered by the members below.
  private val slope2Keys = Set("q_ngram_jaccard", "q_dedup_minhash",
    "q_source_overlap", "q_bigram_logprob", "q_dedup_lines",
    "q_mix_quality", "q_dedup_clusters", "q_decontaminate_fuzzy",
    "q_dedup_spans", "q_hash_embed",
    "q_feature_pipeline", "q_sessionize", "q_dedup_key",
    "q_tfidf_topk", "q_shard_plan",
    "q_quality_classifier", "q_bloom_membership_check",
    "q_importance_weights", "q_importance_weights_ng",
    "q_dsir_select", "q_lang_id_model",
    "q_cluster_embed", "q_mix_cluster", "q_ann_pq",
    "q_ann_ivfpq", "q_lang_id_model_cn")

  // Second up-step window (100x): the heaviest representative of each
  // table family. q_semdedup stays out by the fixed-k caveat and is
  // represented by its 100x cluster-skew stats instead.
  private val slope3Keys = Set("q_source_overlap", "q_dedup_minhash",
    "q_feature_pipeline", "q_hash_embed", "q_mix_cluster",
    "q_dsir_select", "q_ann_pq")

  /** Times `queries` (composition pins excluded) at `sfDir` and returns
    * the compact `total` line and the `total_full` detail line. The
    * session stays open. `preLoad1m` is the 1-minute load average read
    * before the session was built (see [[loadEvidence]]). */
  def run(spark: SparkSession, sfDir: String, queries: Map[String, Query],
          preLoad1m: Double): (String, String) = {
    val tracker = PerformanceTracker.install(spark)
    try measureAll(spark, sfDir, queries, preLoad1m, tracker)
    finally PerformanceTracker.uninstall(spark, tracker)
  }

  private def measureAll(spark: SparkSession, sfDir: String, queries: Map[String, Query],
                         preLoad1m: Double, tracker: PerformanceTracker): (String, String) = {
    // warmup: JIT + codegen + shuffle machinery on the smallest SF, and
    // every primary table resolved (a table's first read in a JVM runs
    // a parquet schema job that pass 0 would charge to the first query
    // reading it); drained so no event of theirs reaches a query's run
    orWarn("warmup failed", 0L)(SparkEntry.entry(spark).count())
    orWarn("tables not resolved", ())(Tables.all(spark, sfDir))
    Bridge.drainListenerBus(spark)

    // One timed run: the clock covers the query function and the shared
    // CHECKSUM action (graft.Checksum.fullEval: xxhash64 over every
    // output column + a terminal BIT_XOR aggregate, so no column is
    // pruned); the cache drain is outside it.
    def time(name: String, fn: Query, dir: String): Run = {
      val run = tracker.measure(spark)(Checksum.fullEval(fn(spark, dir)))
      run.error.foreach(e => System.err.println(s"[bench] $name failed: $e"))
      // drop operator-internal caches so no query's footprint leaks
      // into the next measurement
      graft.operators.Caches.releaseAll()
      run
    }

    def suite(dir: String, passes: Int, keys: Set[String] = queries.keySet,
              checkpoint: () => Unit = () => ()): Seq[Timed] = {
      val ordered = queries.toSeq.sortBy(_._1)
        .filter { case (k, _) => keys.contains(k) && !composedPins.contains(k) }
      val n = ordered.size
      // pass-major order: pass 0 = cold, passes 1..n-1 = steady samples;
      // the load/floor checkpoint fires at each pass's start and third
      // boundaries plus once after the last pass, so a mid-suite load
      // arrival is visible in the artifact's own timeline
      val samples = (0 until passes).map(_ => ordered.zipWithIndex.map {
        case ((k, fn), i) =>
          if (i == 0 || i == n / 3 || i == 2 * n / 3) checkpoint()
          time(k, fn, dir)
      })
      checkpoint()
      ordered.indices.map(qi => Timed.of(ordered(qi)._1, samples.map(_(qi))))
    }

    // LOAD-IMMUNITY INSTRUMENTATION: a loaded driver box has
    // manufactured phantom regressions (+58% steady once), and the
    // interleaved-pass min cannot absorb a stall SUSTAINED across all
    // passes. Three defenses, all visible in the artifact so a loaded
    // run is identifiable from the JSON alone:
    //  1. /proc/loadavg sampled at every pass start/third boundary
    //     ("load" timeline) — co-tenant load is measured, not inferred;
    //  2. a fixed floor-sentinel query (a dedicated events aggregate,
    //     ~0.15 s quiet) re-timed at checkpoints; "floor_drift" reads ~1
    //     on a quiet run and the inflation factor on a loaded one;
    //  3. per-query auto-repass (below).
    val cpusAvail = Runtime.getRuntime.availableProcessors
    // the sentinel is deliberately NOT a suite member: re-timing a
    // suite query at every checkpoint would leave its pass-0 sample
    // warm and silently shrink cold_total
    val sentinelName = "sentinel_events_agg"
    val sentinel: Query = (s, d) => Tables.events(s, d).groupBy("user_id").count()
    val sentinelTimes = ArrayBuffer.empty[Double]
    val loadSamples = ArrayBuffer.empty[Seq[Double]]
    // median of 3 back-to-back runs, not a single sample: sampling
    // fires right after arbitrary suite queries, whose JIT/GC residue
    // inflates a lone sentinel run ~1.8-2x even on a verified-idle box.
    // The median kills the one-off residue spike but keeps SUSTAINED
    // co-tenant contention (which inflates all three) fully visible.
    // ONE sampler for the suite checkpoints and the slope-window pre/post
    // probes, which are compared against each other.
    def sentinelMedian3(): Double =
      (0 until 3).map(_ => time(sentinelName, sentinel, sfDir).wallS).sorted.apply(1)
    val checkpoint: () => Unit = () => {
      loadSamples += loadavg()
      sentinelTimes += sentinelMedian3()
    }
    // warm the sentinel TWICE so neither one-time codegen nor
    // second-run JIT residue is read as drift by the first checkpoint
    // (a single warm run still left the first sample ~3x the rest)
    time(sentinelName, sentinel, sfDir); time(sentinelName, sentinel, sfDir)

    // Per-query baseline for the repass arms: the COMMITTED quiet-box
    // record ({"sf":…,"queries":{k:sec}}), which cannot have inherited
    // a loaded run's inflation. The wall-vs-exec arm alone misses
    // sustained CPU contention: starved tasks run slowly rather than
    // wait, so Spark-measured exec inflates WITH wall.
    val quietPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_QUIET", "bench_quiet.json")
    val quietBase = orWarn(s"no per-query baseline from $quietPath", Map.empty[String, Double]) {
      val parsed = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(quietPath)), "UTF-8"))
      // only a baseline of the SAME SF is comparable (every larger-SF
      // query would "exceed 2x"); compare NORMALIZED paths, so a
      // trailing slash or ./-relative spelling cannot blind arm (b)
      def normPath(s: String): String =
        java.nio.file.Paths.get(s).normalize.toString.replaceAll("/+$", "")
      (parsed \ "sf", parsed \ "queries") match {
        case (JString(s), JObject(fs)) if normPath(s) == normPath(sfDir) => fs.collect {
          case (k, JDouble(v)) => k -> v
          case (k, JInt(v))    => k -> v.toDouble
        }.toMap
        case _ => Map.empty[String, Double]
      }
    }

    val results00 = suite(sfDir, passes = 3, checkpoint = checkpoint)

    // FAILURE RETRY ARM: every failed query gets ONE more timed attempt
    // (the repass arms consider ok queries only). A transient failure
    // (OOM under a co-tenant burst, a flaky temp dir) heals and the
    // retry's sample REPLACES the fast-fail ones — cold included, since
    // an honest warm number beats an exception-path one — with the
    // query named in `retried_ok`. A deterministic failure stays failed
    // and is surfaced at the HEAD of both JSON lines as `failed_count`.
    val retriedOk = ArrayBuffer.empty[String]
    val results0 = results00.map { r =>
      if (r.ok) r
      else {
        val retry = time(r.name, queries(r.name), sfDir)
        if (retry.ok) { retriedOk += r.name; Timed.of(r.name, Seq(retry)) } else r
      }
    }

    // Load evidence, available at decision time (the final checkpoint
    // fired at the end of suite()). Drift reads from the samples AFTER
    // the first checkpoint: the first sentinel run stays ~2-3x elevated
    // even double-warmed (JVM-wide JIT/GC residue from the warmup
    // itself), which would fake a drift of ~3 on a quiet box.
    def loadMax: Double = loadSamples.flatMap(_.headOption).foldLeft(0.0)(math.max)
    def sentinelDrift(): Double = sustainedDrift(sentinelTimes.drop(1).toSeq)
    val floorDriftSuite = sentinelDrift()
    val loadEvident = loadEvidence(floorDriftSuite, preLoad1m, loadMax, cpusAvail)

    // auto-repass arms: (a) wall min far above the Spark-measured
    // execution floor (the gap — scheduling, driver-side, co-tenant
    // steal — dominated every pass); (b) wall min far above the quiet
    // baseline (2x absorbs the ±25% cross-box variance BASELINE.md
    // records); (c) the run's OWN load evidence, which re-times the
    // slowest queries unconditionally; (d) quiet-baseline deviators
    // (see [[allocateRepasses]]). Repassing is harmless for a genuine
    // regression — it stays slow and its presence in `repassed` marks
    // it double-checked.
    val baselineFor = quietBase.get _
    val armAB = results0.filter { r =>
      r.ok && ((r.wall > 2 * r.exec && r.wall > r.exec + 0.5) ||
        baselineFor(r.name).exists(p => r.wall > 2 * p && r.wall > p + 0.3))
    }.map(_.name)
    val bySlowest = results0.filter(_.ok).sortBy(-_.wall).map(_.name)
    val armC = if (loadEvident) bySlowest else Seq.empty
    val steadyOf = results0.map(r => r.name -> r.wall).toMap
    // REFINEMENT PASSES, unconditional: the slowest 16 get two extra
    // timed runs whether or not any arm fired. The 4th/5th samples are
    // systematically warmer on the heavy tail (full-suite JIT tiering
    // on kernel-heavy queries: an idle-box A/B read the 16 heavy
    // primaries at median 1.51x their min-of-5 values under min-of-3,
    // every other query at 1.04x), so uniform min-of-5 on the tail
    // keeps every artifact comparable whether or not an arm fired.
    val refine = bySlowest.take(16)
    val deviationOf = results0.collect {
      case r if r.ok && baselineFor(r.name).isDefined =>
        r.name -> r.wall / math.max(baselineFor(r.name).get, 1e-3)
    }.toMap
    val (repassAlloc, suspectCutoff) =
      allocateRepasses(armAB, armC, refine, steadyOf, deviationOf)
    val repassed = repassAlloc.map { case (k, nRuns) =>
      k -> (0 until nRuns).map(_ => time(k, queries(k), sfDir))
    }.toMap
    // one post-repass checkpoint when arm (c) fired: the artifact then
    // records whether the repass window itself was quiet or still loaded
    if (loadEvident && repassed.nonEmpty) checkpoint()
    // residual-inflation marker, emitted UNCONDITIONALLY: ok queries
    // past 1.3x their quiet baseline (the arm-(d) predicate) that did
    // not earn a repass, so readers know which per-query comparisons
    // to route through bench_quiet.json instead
    val suspectUnrepassed = results0.filter(r =>
      r.ok && !repassed.contains(r.name) && deviationOf.get(r.name).exists(_ > 1.3))
      .map(_.name).sorted
    val results = results0.map(r => repassed.get(r.name).fold(r)(r.refine))
    val primary = results.map(r => r.name -> r).toMap

    val failedKeys = results.filterNot(_.ok).map(_.name)
    val failedCount = failedKeys.size
    if (failedCount > 0)
      System.err.println(s"[bench] WARNING: $failedCount quer" +
        (if (failedCount == 1) "y" else "ies") +
        s" FAILED the timing action even after retry: " +
        failedKeys.mkString(", ") +
        " — their published values are exception-path wall times, not measurements")
    val total = results.map(_.wall).sum

    // slope probe: one SF step down, AFTER the primary passes so
    // cold_total keeps measuring genuinely cold planning. Wall times
    // clamp to a 1 ms floor so every ratio is real.
    val slope: List[JField] = slopeDirFor(sfDir).toList.flatMap { smallDir =>
      val small = suite(smallDir, passes = 2).map(r => r.name -> r).toMap
      List("slope_sf" -> JString(smallDir),
        "slope_queries" -> jobj(results)(r => JDouble(small.get(r.name).fold(1e-3)(_.wall))),
        "slope_ratios" -> jobj(results)(r =>
          JDouble(r.wall / math.max(small.get(r.name).fold(0.0)(_.wall), 1e-3))),
        "shuffle_ratios" -> jobj(results)(r =>
          JDouble(byteRatio(r.bytes, small.get(r.name).fold(0L)(_.bytes)))))
    }

    // ---- up-step slope windows ------------------------------------
    // Each factor's window times its keys on the ScaledCorpus of that
    // factor (min of 2 passes) with three defenses, mirroring the main
    // suite's, against publishing unprotected wall times:
    //  1. min-of-2 passes;
    //  2. a median-of-3 floor-sentinel sample immediately BEFORE and
    //     AFTER the window; both past 1.8x the suite's quiet sentinel
    //     minimum (or the suite's own load evidence, since a co-tenant
    //     present for the ENTIRE run inflates the window and the
    //     minimum alike) sets `convicted` and renames its wall-time keys
    //     ([[ratioKey]]);
    //  3. wall-anomaly self-repair ([[wallAnomaly]]) against the
    //     previous window or the primary, with a ceiling of 2x the data
    //     step: a flagged query gets two extra timed runs, min taken,
    //     and is named in the window's `repassed`.
    // `<tag>_ratios` is t(window)/t(primary); `<tag>_step_ratios` the
    // single-decade t(window)/t(previous window). The JVM is warm and
    // the plan shapes repeat, so codegen caches hit; corpus generation
    // is one-time and marker-cached. SPARK_GRAFT_SLOPE2=0 /
    // SPARK_GRAFT_SLOPE3=0 disable a window.
    val sentinelQuietMin = sentinelTimes.drop(1).minOption.getOrElse(0.0)
    def slopeRepass(res: Seq[Timed], dir: String, base: Map[String, Timed],
                    maxRatio: Double): (Seq[Timed], Seq[String]) = {
      val flagged = res.filter(r => r.ok && base.get(r.name).exists(b =>
        wallAnomaly(r.wall / math.max(b.wall, 1e-3), byteRatio(r.bytes, b.bytes), maxRatio)))
        .map(_.name)
      (res.map(r => if (flagged.contains(r.name))
        r.refine((0 until 2).map(_ => time(r.name, queries(r.name), dir))) else r), flagged.sorted)
    }
    // q_semdedup's 100x datapoint, in lieu of a timed slope (the fixed-k
    // caveat): cluster-occupancy skew of the shared quantizer — max
    // cluster is the kernel's per-row memory and the quadratic-work hot
    // spot. Load-independent, so it never renames under conviction.
    def semdedupStats(dir: String): List[JField] =
      orWarn("slope3_semdedup_clusters omitted", List.empty[JField]) {
        val (n, mx, cp) = Similarity.semDedupClusterStats(Tables.embeddings(spark, dir))
        List("slope3_semdedup_clusters" -> jstats(n, mx, cp))
      }
    val windows = Seq(
      ("slope2", 10, slope2Keys, "SPARK_GRAFT_SLOPE2", (_: String) => List.empty[JField]),
      ("slope3", 100, slope3Keys, "SPARK_GRAFT_SLOPE3", semdedupStats _))
    val (_, upSteps) = windows.foldLeft(
        (Option.empty[(Int, Map[String, Timed])], List.empty[JField])) {
      case ((prev, out), (tag, factor, keys0, knob, extra)) =>
        val keys = keys0.intersect(primary.keySet)
        if (sys.env.get(knob).contains("0") || keys.isEmpty) (prev, out)
        else orWarn(s"$tag probe omitted", (prev, out)) {
          val dir = ScaledCorpus.dir(spark, sfDir, factor)
          val preS = sentinelMedian3()
          val res0 = suite(dir, passes = 2, keys)
          val (baseFactor, base) = prev.getOrElse((1, primary))
          val (res, repassedW) = slopeRepass(res0, dir, base, maxRatio = 2.0 * factor / baseFactor)
          val postS = sentinelMedian3()
          val drift = math.min(preS, postS) / math.max(sentinelQuietMin, 1e-3)
          val conv = drift > 1.8 || loadEvident
          val steps = prev.toList.flatMap { case (_, p) =>
            val stepped = res.filter(r => p.contains(r.name))
            List(ratioKey(s"${tag}_step_ratios", conv) ->
              jobj(stepped)(r => JDouble(r.wall / math.max(p(r.name).wall, 1e-3))),
              s"${tag}_step_shuffle_ratios" ->
                jobj(stepped)(r => JDouble(byteRatio(r.bytes, p(r.name).bytes))))
          }
          val load = JObject("sentinel_pre" -> JDouble(preS), "sentinel_post" -> JDouble(postS),
            "drift" -> JDouble(drift), "suite_load" -> JBool(loadEvident),
            "convicted" -> JBool(conv), "repassed" -> jstrs(repassedW))
          val fields = List(s"${tag}_sf" -> JString(dir), s"${tag}_factor" -> JInt(factor),
            ratioKey(s"${tag}_queries", conv) -> jobj(res)(r => JDouble(r.wall)),
            ratioKey(s"${tag}_ratios", conv) ->
              jobj(res)(r => JDouble(r.wall / math.max(primary(r.name).wall, 1e-3))),
            s"${tag}_shuffle_ratios" ->
              jobj(res)(r => JDouble(byteRatio(r.bytes, primary(r.name).bytes)))) ++
            steps ++ extra(dir) ++ List(s"${tag}_load" -> load)
          (Some((factor, res.map(r => r.name -> r).toMap)), out ++ fields)
        }
    }

    // LSH bucket-population probes: a skew regression in band/RHP
    // bucketing (one hot bucket -> quadratic candidate blowup) shows
    // up in these numbers long before a 100 TB straggler would. Each
    // probe fails independently, so one failure keeps the others.
    def probe(name: String)(f: => (Long, Long, Long)): List[JField] =
      orWarn(s"lsh_buckets.$name omitted", List.empty[JField]) {
        val (n, mx, cp) = f
        List(name -> jstats(n, mx, cp))
      }
    val lshBlocks =
      probe("minhash") {
        val m = Dedup.minhashBucketStats(Tables.documents(spark, sfDir)).collect()(0)
        (m.getLong(0), m.getLong(1), m.getLong(2))
      } ++ probe("rhp") {
        val r = Similarity.rhpBucketStats(Tables.embeddings(spark, sfDir)).collect()(0)
        (r.getLong(0), r.getLong(1), r.getLong(2))
      } ++ probe("semdedup_clusters") {
        Similarity.semDedupClusterStats(Tables.embeddings(spark, sfDir))
      }
    val lsh = if (lshBlocks.isEmpty) Nil else List("lsh_buckets" -> JObject(lshBlocks))
    // range-join fan-out probe: incidents, buckets touched, pre-filter
    // equi-join rows, hottest bucket — the candidate volume of the
    // range join, computed from the bucket histograms without running it
    val rjs = orWarn("range_join_stats omitted", List.empty[JField]) {
      val r = TimeSeries.rangeJoinStats(Tables.events(spark, sfDir)).collect()(0)
      List("range_join_stats" -> JObject("n_incidents" -> JLong(r.getLong(0)),
        "n_buckets" -> JLong(r.getLong(1)), "cand_rows" -> JLong(r.getLong(2)),
        "max_bucket_cand" -> JLong(r.getLong(3))))
    }

    // The output drift includes the post-repass sample (when arm (c)
    // fired), so the artifact shows whether the repass window itself
    // was quiet; `load_triggered` records whether arm (c) fired at
    // decision time, and the raw max/min keeps the forgiven
    // single-point spike visible.
    val floorDrift = sentinelDrift()
    val floorDriftRaw = {
      val st = sentinelTimes.drop(1)
      if (st.size < 2) 1.0 else st.max / math.max(st.min, 1e-3)
    }
    val queriesJ = jobj(results)(r => JDouble(r.wall))
    val failedJ = jstrs(failedKeys)
    val retriedJ = jstrs(retriedOk.toSeq.sorted)
    val excludedJ = jstrs(composedPins.toSeq.sorted)
    val spillTotal = JLong(results.map(_.shuffle.spillBytes).sum)
    val coldTotal = JDouble(results.map(_.cold).sum)
    // Full per-query detail line, under its OWN metric name: a parser
    // keying on metric=="total" must never race two candidates, one of
    // them a tens-of-KB line a bounded stdout capture can truncate.
    // Each unrepassed suspect carries its deviation ratio.
    val fullLine = JObject(List(
      "metric" -> JString("total_full"), "failed_count" -> JInt(failedCount),
      "value" -> JDouble(total), "unit" -> JString("sec"),
      "queries" -> queriesJ,
      "exec_times" -> jobj(results)(r => JDouble(r.exec)),
      "jobs" -> jobj(results)(r => JInt(r.jobs)),
      "shuffle_bytes" -> jobj(results)(r => JLong(r.bytes)),
      "spill_bytes_total" -> spillTotal, "cold_total" -> coldTotal,
      "failed" -> failedJ, "retried_ok" -> retriedJ, "bench_excluded" -> excludedJ) ++
      slope ++ upSteps ++ lsh ++ rjs ++ List(
      "load" -> JObject("cpus" -> JInt(cpusAvail), "pre_1m" -> JDouble(preLoad1m),
        "samples" -> JArray(loadSamples.map(s => JArray(s.map(JDouble(_)).toList)).toList)),
      "floor_sentinel" -> JObject("name" -> JString(sentinelName),
        "times" -> JArray(sentinelTimes.map(JDouble(_)).toList),
        "drift" -> JDouble(floorDrift), "drift_raw" -> JDouble(floorDriftRaw),
        "drift_suite" -> JDouble(floorDriftSuite)),
      "load_triggered" -> JBool(loadEvident),
      "quiet_baseline_n" -> JInt(quietBase.size),
      "repass_budget" -> JInt(RepassRunBudget), "repass_budget_unit" -> JString("runs"),
      "repass_runs" -> JObject(repassAlloc.sortBy(_._1).map { case (k, n) => k -> JInt(n) }.toList),
      "suspect_cutoff" -> suspectCutoff.fold[JValue](JNull)(JDouble(_)),
      "repassed" -> JObject(repassed.toList.sortBy(_._1).map { case (k, runs) =>
        k -> JDouble(runs.map(_.wallS).min) }),
      "suspect_unrepassed" -> JObject(suspectUnrepassed.map(k =>
        k -> JDouble(deviationOf.getOrElse(k, 0.0))).toList),
      "suspect_unrepassed_reason" -> JString(
        if (suspectUnrepassed.isEmpty) "" else "run_budget_exhausted_below_published_cutoff"),
      "sf" -> JString(sfDir)))
    // THE "total" metric line: compact, the official wall-clock record;
    // it carries the per-query seconds too (~5 KB), so it is
    // self-contained.
    val compactLine = JObject(
      "metric" -> JString("total"), "failed_count" -> JInt(failedCount),
      "value" -> JDouble(total), "unit" -> JString("sec"),
      "cold_total" -> coldTotal, "n_queries" -> JInt(results.size),
      "queries" -> queriesJ, "failed" -> failedJ, "retried_ok" -> retriedJ,
      "bench_excluded" -> excludedJ, "spill_bytes_total" -> spillTotal,
      "slowest5" -> JObject(results.sortBy(-_.wall).take(5)
        .map(r => r.name -> JDecimal(BigDecimal(r.wall).setScale(3, BigDecimal.RoundingMode.HALF_UP))).toList),
      "floor_drift" -> JDouble(floorDrift), "load_max_1m" -> JDouble(loadMax),
      "load_triggered" -> JBool(loadEvident), "n_repassed" -> JInt(repassed.size),
      "cpus" -> JInt(GraftSession.cpus), "sf" -> JString(sfDir))
    (JsonMethods.compact(compactLine), JsonMethods.compact(fullLine))
  }

  def main(args: Array[String]): Unit = {
    // pre-suite loadavg, read before ANY Spark work: the only loadavg
    // sample guaranteed free of the bench's own burn
    val preLoad1m = load1m()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // local-iteration escape hatch mirroring Verify's: time a subset
    // (the driver never sets it, so its artifacts stay exhaustive)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val spark = GraftSession.get()
    val queries = only.fold(SparkEntry.queries)(o => SparkEntry.queries.filter { case (k, _) => o(k) })
    val (compactLine, fullLine) = run(spark, sfDir, queries, preLoad1m)
    println(fullLine)
    // ALSO persist the lines to files: the driver's stdout capture is
    // tail-bounded and has truncated the tens-of-KB detail line.
    // Subset runs and runs on fewer or more cores than the host has
    // NEVER default to the repo-root files: those are the driver-owned
    // whole-suite, whole-host artifacts, and a subset run clobbering
    // them (then swept in by `git add -A`) has happened — such a run
    // without an explicit override lands in tmp instead. A failed write
    // leaves any earlier file in place, so it says so.
    val redirect = only.isDefined || GraftSession.cpus != Runtime.getRuntime.availableProcessors
    def writeArtifact(overrideEnv: String, name: String, line: String): Unit = {
      val path = sys.env.getOrElse(overrideEnv,
        if (redirect)
          java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
            s"${name}_subset.json").toString
        else s"$name.json")
      orWarn(s"$path not written (any earlier copy is stale)", ()) {
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path), line + "\n")
      }
    }
    writeArtifact("SPARK_GRAFT_BENCH_DETAIL", "bench_detail", fullLine)
    // the compact line is printed LAST so a bounded tail capture always
    // carries it whole, bare on stderr too (a logger prefix on stdout
    // has defeated parsers), and to a small fixed-size file
    println(compactLine)
    System.err.println(compactLine)
    writeArtifact("SPARK_GRAFT_BENCH_TOTAL", "bench_total", compactLine)
    spark.stop()
  }
}
