package graft.operators

/** Once-per-JVM build-time meter (r15, VERDICT ask 8).
  *
  * Cached-artifact lanes (DerivedCache parquet builds, driver-side
  * model trains like the IVF quantizers / PQ codebooks / BPE vocab /
  * quality-LR weights) pay their build exactly once per JVM, on
  * whichever query happens to touch them first — so a bench that
  * charges the whole cold time to that query is measuring the build,
  * not the query (r14: q_lr_calibration 11.7 s cold / 2.4 s warm was
  * ~80% model train). Every such build records its wall time here;
  * graft.Harness.runLane snapshots the counter around each run into the
  * lane record's `build_s` (Bench's `build_cold`/`build_warm` maps), so
  * cold numbers can be read as query + build split instead of a blur.
  *
  * Reentrancy: nested timed sections (a derived build that reads
  * another derived table, a model train inside a derived build) record
  * only at the OUTERMOST frame — inner frames are already inside the
  * outer wall time, so counting them again would double-charge.
  * Thread-safe: depth is per-thread, the total is atomic; concurrent
  * builds on different threads both record (their wall times overlap,
  * which is the honest reading — the meter answers "how much build
  * work", not "how much wall blocked").
  */
object BuildMeter {

  private val totalNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  private val depth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  /** Run `f`, recording its wall time iff this is the outermost timed
    * frame on the thread. */
  def time[T](f: => T): T = {
    val d: Int = depth.get()
    depth.set(d + 1)
    val t0 = System.nanoTime()
    try f
    finally {
      depth.set(d)
      if (d == 0) totalNanos.addAndGet(System.nanoTime() - t0)
    }
  }

  /** Cumulative build seconds recorded this JVM (monotonic). */
  def seconds: Double = totalNanos.get() / 1e9
}
