package graft.operators

import org.apache.spark.sql.Dataset
import scala.collection.mutable.ListBuffer

/** Registry for the MEMORY_AND_DISK intermediates the dedup/similarity
  * pipelines persist.
  *
  * Those operators RETURN lazy DataFrames, so intermediates that the
  * returned plan still references (the distinct-fingerprint table, the
  * member map, the candidate-pair list) cannot be unpersisted inside the
  * operator — they are consumed when the CALLER materializes the result,
  * and releasing them early would silently recompute the most expensive
  * stages up to three times (the shingle kernel feeds three joins).
  * Intermediates whose last consumer runs inside the operator (the raw
  * fingerprint table once the collapse chose representatives) ARE
  * released eagerly at that point.
  *
  * Two caching contracts:
  *
  *  - simple sessions: materialize the returned DataFrame(s), then call
  *    [[OpCaches.releaseAll]] — one call frees every pipeline cache the
  *    session accumulated in the shared registry.
  *  - concurrent pipelines in one JVM: wrap each pipeline build in
  *    [[OpCaches.scoped]] and release ITS handle — caches registered
  *    during the scoped build belong to that handle alone, so one
  *    caller's cleanup (or graft.Bench's between-query teardown) can no
  *    longer unpersist intermediates of a pipeline another thread is
  *    still building. Scopes are per-thread because cache registration
  *    happens during (eager) plan construction on the building thread.
  *
  * Unpersist is idempotent, so blocks already torn down externally (as
  * graft.Bench does between queries via `getPersistentRDDs`) are a no-op
  * here; the registry still drops its references so a long-lived session
  * doesn't accumulate plan objects either.
  */
object OpCaches {

  /** An independent cache registry: releasing one handle never touches
    * caches tracked by another (or by the shared session registry). */
  final class CacheHandle private[OpCaches] () {
    private val tracked = ListBuffer.empty[Dataset[_]]

    private[OpCaches] def add(ds: Dataset[_]): Unit =
      synchronized { tracked += ds }

    private[OpCaches] def drop(ds: Dataset[_]): Unit = synchronized {
      val i = tracked.indexWhere(_ eq ds)
      if (i >= 0) tracked.remove(i)
    }

    /** Unpersist every cache registered under this handle and clear it.
      * Safe at any time — early release only costs recomputation. */
    def release(): Unit = synchronized {
      tracked.foreach(_.unpersist(blocking = false))
      tracked.clear()
    }

    /** Number of currently registered (live) caches under this handle. */
    def count: Int = synchronized(tracked.size)
  }

  /** The shared registry used outside any [[scoped]] block. */
  private val session = new CacheHandle
  private val current = new ThreadLocal[CacheHandle]

  /** Build a pipeline under a private cache scope: every cache the build
    * registers (on this thread) lands in the returned handle instead of
    * the shared registry. Materialize the result, then `handle.release()`.
    * Scopes nest; the innermost wins. */
  def scoped[T](f: => T): (T, CacheHandle) = {
    val h = new CacheHandle
    val prev = current.get()
    current.set(h)
    try {
      // If the build throws mid-way, caches it already persisted live
      // only in `h`, which the caller never receives — release them here
      // or they leak for the session lifetime (releaseAll can't see them).
      val r = try f catch { case e: Throwable => h.release(); throw e }
      (r, h)
    } finally {
      if (prev == null) current.remove() else current.set(prev)
    }
  }

  private def active: CacheHandle = {
    val h = current.get()
    if (h == null) session else h
  }

  /** Register a persisted intermediate for deferred release. */
  private[graft] def track[T <: Dataset[_]](ds: T): T = {
    active.add(ds)
    ds
  }

  /** Drop ONE dataset from the registry after an in-operator unpersist —
    * keeps counts an exact mirror of live pipeline caches. */
  private[graft] def untrack(ds: Dataset[_]): Unit = active.drop(ds)

  /** Unpersist every cache in the SHARED registry and clear it (scoped
    * handles are their owners' responsibility). Call once the returned
    * DataFrames have been materialized (written, collected, counted). */
  def releaseAll(): Unit = session.release()

  /** Number of live caches in the shared registry. */
  def trackedCount: Int = session.count
}
