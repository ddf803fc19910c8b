package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Tracks the caches operators pin — persisted frames and
  * `localCheckpoint` RDDs — and releases them deterministically.
  * Without this, cached blocks accumulate across the 40+ queries a
  * single Verify JVM runs — evicting useful cache and leaking executor
  * disk in long-lived sessions.
  *
  * Lifetimes are lexical. A pin registered inside [[scoped]] belongs
  * to the innermost scope its thread has open, and is released when
  * that scope's body returns or throws: an operator scopes its own
  * intermediates, a streaming fold scopes one micro-batch. A pin
  * registered outside any scope goes to the root list, which a
  * harness (Verify, Bench, tests) releases with [[unpersistAll]] after
  * the consuming action; operator results live there. No scope ever
  * releases a pin it did not register, so a result held elsewhere in
  * the session stays readable.
  */
object CacheRegistry {
  /** The release actions of one scope's pins. Guarded by the registry
    * lock. A closed scope hands later registrations to the root list.
    */
  private final class Scope {
    val pins = ArrayBuffer.empty[Boolean => Unit]
    var closed = false
  }
  private val root = new Scope
  private val open = ThreadLocal.withInitial[Scope](() => root)

  private def register(release: Boolean => Unit): Unit = synchronized {
    val s = open.get
    (if (s.closed) root else s).pins += release
  }

  /** Close `s` (unless it is the root) and release its pins. */
  private def drain(s: Scope, blocking: Boolean): Unit = {
    val pins = synchronized {
      if (s ne root) s.closed = true
      val p = s.pins.toList
      s.pins.clear()
      p
    }
    pins.foreach(release =>
      try release(blocking) catch { case NonFatal(_) => () })
  }

  /** Persist at MEMORY_AND_DISK and remember the handle. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    register(p.unpersist(_))
    p
  }

  /** The guard-persist trade, size-thresholded (VERDICT r9 #4): the
    * statistical guards share one intermediate between an eager count
    * and the main plan. Persisting pays at production scale (one
    * cached scan beats three cold ones) but at gate scale the persist
    * MATERIALIZATION itself dominated (q_ks_binned 0.64 → 1.60 s).
    * Decide by the plan's LEAF input estimate — parquet relations
    * carry accurate file-size stats, and "is this a gate run or a
    * production run" is exactly "how big is the scan". Derived-plan
    * stats without CBO can be wild overestimates, so leaves only.
    * Below the threshold the frame is returned unpersisted and the
    * guard's count simply recomputes the (cheap) aggregate.
    */
  def persistIfLarge(df: DataFrame,
      minInputBytes: Long = 256L << 20): DataFrame = {
    val leafBytes = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    if (leafBytes >= minInputBytes) persist(df) else df
  }

  /** Register a `localCheckpoint`ed frame's pinned RDD for release with
    * its scope. `Dataset.unpersist` does not touch checkpoint
    * blocks and the async ContextCleaner only reclaims them after GC
    * notices the RDD is unreachable — in a long-lived session running
    * the dedup pipeline repeatedly that lag stacks storage pressure
    * into exactly the queries that need execution memory (VERDICT r4
    * #2). Registering gives a deterministic release point.
    */
  def registerCheckpoint(df: DataFrame): DataFrame = {
    org.apache.spark.sql.graftx.bridge.checkpointRdd(df)
      .foreach(r => register(r.unpersist(_)))
    df
  }

  /** Release a `localCheckpoint`ed frame's pinned blocks NOW (a no-op
    * for a frame that is not a checkpoint leaf). Checkpoint blocks are
    * released DETERMINISTICALLY, not left to the async ContextCleaner:
    * without this, five clustering queries per bench pass stack dead
    * blocks in the BlockManager and shrink unified execution memory for
    * every query after them (VERDICT r4 #2) — and a production session
    * running the pipeline repeatedly leaks the same way.
    */
  def releaseCheckpoint(df: DataFrame): Unit =
    org.apache.spark.sql.graftx.bridge.checkpointRdd(df).foreach { r =>
      try r.unpersist(false) catch { case NonFatal(_) => () }
    }

  /** Run `body` in a new scope: every pin this thread registers inside
    * it (and not inside a nested scope) is released when `body`
    * returns or throws. Pins registered before the scope, or by other
    * threads, are left alone.
    */
  def scoped[T](body: => T): T = {
    val outer = open.get
    val s = new Scope
    open.set(s)
    try body
    finally {
      open.set(outer)
      drain(s, blocking = false)
    }
  }

  /** `body` as a thunk that registers its pins in the scope open on
    * the calling thread NOW, whichever thread later runs it — how
    * [[graft.operators.DedupOps.inParallel]] keeps its second branch
    * in its caller's scope.
    */
  private[graft] def inCallerScope[T](body: => T): () => T = {
    val s = open.get
    () => {
      val outer = open.get
      open.set(s)
      try body finally open.set(outer)
    }
  }

  /** Release the root list: every pin registered outside any scope,
    * by any thread (the harness sweep between queries).
    */
  def unpersistAll(blocking: Boolean = false): Unit = drain(root, blocking)
}
