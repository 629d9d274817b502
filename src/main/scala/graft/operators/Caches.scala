package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer
import scala.util.DynamicVariable
import scala.util.control.NonFatal

/** Lifecycle registry for operator-internal persisted frames (and the
  * one-fit frames of [[materialize]]).
  *
  * Operators like [[Dedup.minhashPairs]] cache an intermediate (the
  * shingle-hash frame) because it feeds two plan branches; the returned
  * DataFrame is lazy, so the operator itself can never know when the
  * caller's terminal action has run and the cache can be dropped. In a
  * long-lived session (a bench loop, a notebook, a service) caches that
  * are never released accumulate executor storage and GC pressure.
  *
  * Registration is SCOPED to a unit of work: frames register under the
  * ambient [[Scope]] (the process-wide [[global]] scope unless the
  * caller wrapped construction in [[in]]), and [[release]] drains ONE
  * scope without touching frames another concurrent pipeline still
  * consumes — the round-2/3 interleaved-pipeline hazard. Entry points
  * that own the whole process ([[graft.Bench]], [[graft.Verify]])
  * still drain every scope with [[releaseAll]] after each query's
  * terminal action; library users compose pipelines under their own
  * scopes (`GraftApi.curatePlan` does) and release per scope.
  */
object Caches {

  /** A unit-of-work token: caches registered while a scope is ambient
    * are released together — and only together. Identity-based: two
    * scopes with the same name are distinct. */
  final class Scope private[Caches] (val name: String) {
    override def toString: String = s"Scope($name)"
  }

  /** The ambient scope when no [[in]] block is active. Process-wide:
    * suitable for single-pipeline sessions and the Bench/Verify entry
    * points, which drain everything between measurements anyway. */
  val global: Scope = new Scope("global")

  def newScope(name: String): Scope = new Scope(name)

  // ambient scope is per-thread: operator construction (where
  // persistTracked runs) happens on the caller's thread, so a
  // DynamicVariable scopes exactly the frames built inside `in`
  private val ambient = new DynamicVariable[Scope](global)

  /** Run `body` with `scope` ambient: every persistTracked/persistPinned
    * during construction inside `body` (on this thread) registers under
    * `scope`. Nesting replaces the ambient scope for the inner block. */
  def in[T](scope: Scope)(body: => T): T = ambient.withValue(scope)(body)

  // a registered frame; a materialized one also carries the local
  // checkpoint RDD that holds its rows
  private final case class Entry(scope: Scope, df: DataFrame,
                                 checkpoint: Option[RDD[_]] = None)

  private val live = ArrayBuffer.empty[Entry]
  private val pinnedFrames = ArrayBuffer.empty[Entry]

  /** Persist `df` at `level` and track it under the ambient scope. */
  def persistTracked(df: DataFrame,
                     level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    synchronized {
      df.persist(level)
      live += Entry(ambient.value, df)
      df
    }

  /** Compute `df` NOW, once, and return a frame that reads its rows
    * back; tracked under the ambient scope like [[persistTracked]].
    *
    * For a frame that several passes read in a row — each MLlib fit
    * pass (scaler stats, split sketch, forest metadata, bagging, the
    * holdout score) re-runs the input's lineage otherwise. Unlike a
    * `persist`, this is a `localCheckpoint(eager = true)`: the adaptive
    * plan runs to completion first, so the rows keep AQE's final
    * (coalesced) partitions and their row order. A cached
    * `InMemoryRelation` plans its query without that final-stage
    * coalescing, and a random forest bags per partition: on the
    * weather benchmark's labeled frame (seed 7) a persisted input gave
    * the fit 4 partitions instead of 1 and a different holdout RMSE
    * (53.55 against 53.80); the checkpoint gave 1 and 53.80.
    *
    * The returned frame's lineage is CUT: it reads the checkpoint
    * blocks and nothing else. Use it only inside the unit of work of
    * its scope (one model fit); [[release]] unpersists the checkpoint
    * RDD, after which the frame can no longer be read. */
  def materialize(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(eager = true)
    val rdd = cp.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    synchronized(live += Entry(ambient.value, cp, Some(rdd)))
    cp
  }

  /** Persist `df` and PIN it: [[releaseAll]] and [[release]] refuse to
    * drop pinned frames. For the rare frame whose consumers CANNOT
    * recompute from source once the cache is gone
    * ([[graft.sources.Formats.quarantine]]'s corrupt-rows branch —
    * Spark refuses corrupt-column-only scans), so an interleaved
    * pipeline's drain can't break it. Release explicitly with
    * [[releasePinned(scope:Caches\.Scope)*]] (the caller's handle)
    * after every branch has been consumed. */
  def persistPinned(df: DataFrame,
                    level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    synchronized {
      df.persist(level)
      pinnedFrames += Entry(ambient.value, df)
      df
    }

  private def drain(buf: ArrayBuffer[Entry], scope: Option[Scope]): Unit = {
    val (drop, keep) = scope match {
      case Some(s) => buf.partition(_.scope eq s)
      case None    => (buf.clone(), ArrayBuffer.empty[Entry])
    }
    // Spark's CacheManager keys cache entries by PLAN, not by Dataset
    // handle: if a surviving registration (either registry, any scope)
    // holds the same analyzed plan, unpersisting this handle would
    // evict the other pipeline's data mid-flight — exactly the hazard
    // scoping exists to prevent. Such shared entries stay cached until
    // their LAST registration drains.
    // the drained entries are already removed from both registries when
    // this runs, so ANY surviving registration with the same plan —
    // including the very same Dataset handle registered under another
    // scope — must block the unpersist (no identity exclusion: the
    // handle doesn't matter, the plan-keyed cache entry does)
    def sharedElsewhere(df: DataFrame): Boolean = {
      val plan = df.queryExecution.analyzed
      (live.iterator ++ pinnedFrames.iterator).exists(
        _.df.queryExecution.analyzed.sameResult(plan))
    }
    buf.clear()
    buf ++= keep
    drop.foreach {
      // a checkpoint RDD belongs to its one entry: nothing shares it
      case Entry(_, _, Some(rdd)) =>
        try rdd.unpersist(blocking = false) catch { case NonFatal(e) =>
          System.err.println(s"[caches] checkpoint unpersist failed, blocks may leak: $e")
        }
      case Entry(_, df, None) =>
        // the guard and the unpersist fail independently: a plan-analysis
        // failure in sharedElsewhere must default to "not shared" (still
        // unpersist — leaking the entry is the worse outcome); either
        // failure is reported and the drain continues
        val shared = try sharedElsewhere(df) catch { case NonFatal(e) =>
          System.err.println(s"[caches] sharing check failed, unpersisting anyway: $e")
          false
        }
        if (!shared)
          try df.unpersist(blocking = false) catch { case NonFatal(e) =>
            System.err.println(s"[caches] unpersist failed, entry may leak: $e")
          }
    }
  }

  /** Unpersist the tracked (non-pinned) frames of ONE scope. Frames
    * registered by other scopes — another pipeline interleaved in the
    * same session — are untouched. A plan that still references a
    * released cache recomputes from source. */
  def release(scope: Scope): Unit = synchronized(drain(live, Some(scope)))

  /** Unpersist every tracked (non-pinned) frame of EVERY scope and
    * clear the registry — the whole-process drain for entry points
    * that own the session (Bench, Verify) between units of work.
    * Pinned frames survive (see [[persistPinned]]). */
  def releaseAll(): Unit = synchronized(drain(live, None))

  /** Unpersist the pinned frames of ONE scope — the release handle for
    * a quarantine's caller. Call once every consumer of that scope's
    * pinned frames (e.g. both quarantine branches) has landed. */
  def releasePinned(scope: Scope): Unit = synchronized(drain(pinnedFrames, Some(scope)))

  /** Unpersist every pinned frame of every scope. */
  def releasePinned(): Unit = synchronized(drain(pinnedFrames, None))

  /** Number of currently tracked cached frames (for tests). */
  def trackedCount: Int = synchronized(live.size)

  /** Number of tracked frames registered under `scope` (for tests). */
  def trackedCount(scope: Scope): Int = synchronized(live.count(_.scope eq scope))

  /** Number of currently pinned cached frames (for tests). */
  def pinnedCount: Int = synchronized(pinnedFrames.size)

  /** Number of pinned frames registered under `scope` (for tests). */
  def pinnedCount(scope: Scope): Int = synchronized(pinnedFrames.count(_.scope eq scope))
}
