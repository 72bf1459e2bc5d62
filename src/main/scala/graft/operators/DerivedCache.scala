package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Write-once derived-table cache — the generalized form of the
  * machinery [[CoPurchase]] introduced: build a deterministic derived
  * table once per JVM, write it as parquet, hand every consumer a plain
  * scan. At 100 TB this is the production shape for any derivation
  * shared by multiple jobs (edge builds, duplicate-span indexes): the
  * expensive shuffle runs in one nightly writer, readers pay a scan
  * with normal pushdown/pruning, and nothing lives in executor memory
  * (cache teardown between queries can't touch it).
  *
  * Correctness contract: `build` must be DETERMINISTIC for the given
  * key and produce parquet-exact columns (longs/strings/etc.) — the
  * specs pin each registered derivation row-identical to its inline
  * form. INPUT VERSIONING: callers register through [[tableFor]], which
  * folds a fingerprint of the input file listing (path + size + mtime,
  * recursive) into the cache key — a JVM that rewrites an input table
  * (the CDC lanes write parquet) gets a REBUILD on next access instead
  * of a stale derivation; untouched inputs keep hitting the cache.
  * Concurrency: double-checked under one per-key lock, NEVER
  * ConcurrentHashMap.computeIfAbsent — a build that reads another
  * derived table would nest computes on the same map, which throws
  * "Recursive update" whenever the two keys share a hash bin (bin
  * placement depends on the key string, so it bites only on some data
  * dirs — found the hard way in round 11).
  * Reads: each entry keeps the schema of the frame it wrote, and every
  * read hands Spark that schema, so no read runs a footer-inference job
  * for a file this JVM wrote itself. */
object DerivedCache {

  /** A written derivation: its parquet path and the written frame's
    * schema, set together and dropped together. */
  private final case class Written(path: String, schema: StructType)

  private val written =
    new java.util.concurrent.ConcurrentHashMap[String, Written]()
  // birth order of cache entries (monotonic, no wall clock): eviction
  // spares any entry born after an evictor captured its view of the
  // input state — see evictSuperseded
  private val born =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val births = new java.util.concurrent.atomic.AtomicLong(0L)
  // PER-KEY build monitors (computeIfAbsent here is side-effect-free, so
  // the recursive-update hazard doesn't apply): builds of unrelated
  // derivations never serialize on each other — only same-key racers
  // wait. Nested builds (edges reading items) acquire child-key monitors
  // while holding the parent's; the registered derivations nest in one
  // direction only, so no cycle (a new derivation pair that nested BOTH
  // ways could deadlock — don't do that).
  private val keyLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private lazy val baseDir = {
    val d = java.nio.file.Files.createTempDirectory("graft-derived")
    // The derivations are GB-scale at sf10 and per-JVM: clear them on
    // exit or every bench/verify/test run leaks its full set to /tmp —
    // the same disk the shuffle already pressures. Registered with
    // Hadoop's ShutdownHookManager at priority 0 so it runs AFTER
    // Spark's own shutdown hooks (SparkContext stop is priority 40+ in
    // the same manager) — an executor task still scanning a derived
    // parquet during shutdown must not see its files vanish first; the
    // delete itself also tolerates concurrent-removal noise.
    try org.apache.hadoop.util.ShutdownHookManager.get()
      .addShutdownHook(new Runnable {
        def run(): Unit = try graft.Fs.deleteRec(d) catch { case _: Exception => () }
      }, 0)
    catch { case _: IllegalStateException => () } // already shutting down
    d.toString
  }

  /** Version fingerprint of input paths: every file's path, size,
    * mtime AND a hash of its final 4 KiB (directories walked
    * recursively, name-sorted), folded into a stable 64-bit hex hash.
    * The tail sample closes the metadata-only blind spot: an in-place
    * rewrite that preserves byte length within the filesystem's mtime
    * granularity still changes a parquet file's footer (row-group
    * offsets/stats live there), so it still re-fingerprints. Cost: one
    * bounded read per input file — input tables are a handful of
    * files, never the corpus. */
  def fingerprint(inputs: Seq[String]): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty)
          .sortBy(_.getName).toSeq.flatMap(walk)
      else if (f.isFile) Seq(f)
      else Seq.empty
    val sig = inputs.sorted.flatMap(p => walk(new java.io.File(p)))
      .map(f => s"${f.getPath}|${f.length}|${f.lastModified}|${tailHash(f)}")
      .mkString("\n")
    java.lang.Long.toHexString(
      sig.foldLeft(1125899906842597L)((h, c) => 31 * h + c))
  }

  private def tailHash(f: java.io.File): Long = {
    val len = f.length
    val n = math.min(4096L, len).toInt
    if (n <= 0) 0L
    else {
      val raf = new java.io.RandomAccessFile(f, "r")
      try {
        raf.seek(len - n)
        val buf = new Array[Byte](n)
        raf.readFully(buf)
        buf.foldLeft(1125899906842597L)((h, b) => 31 * h + b)
      } finally raf.close()
    }
  }

  /** The derived table for `key` over the given input paths: the inputs'
    * file-listing fingerprint joins the cache key (as `key@fp` — '@' is
    * reserved for this), so mutating an input triggers a rebuild
    * instead of serving the stale derivation. This is the registration
    * every derivation should use; [[table]] remains for keys whose
    * inputs are immutable by contract.
    *
    * Superseded versions are EVICTED (entry dropped, parquet deleted):
    * without eviction a long-lived JVM whose CDC lane rewrites an input
    * repeatedly strands one GB-scale derivation per rewrite on the disk
    * the shuffle already pressures. A query built against the old
    * version and still running fails loudly on the vanished files —
    * the right outcome, since its input was rewritten underneath it and
    * its result would be stale. */
  def tableFor(s: SparkSession, key: String, inputs: Seq[String])
              (build: => DataFrame): DataFrame =
    tableAt(s, key, inputs, fingerprint(inputs))(build)

  /** [[tableFor]] with a caller-supplied fingerprint — for derivation
    * CHAINS (edges built from a derived items table): fingerprint the
    * shared input ONCE and thread the same `fp` through every stage, so
    * a concurrent input rewrite can't key stage 2 to a newer snapshot
    * than the stage-1 table it was actually built from. */
  def tableAt(s: SparkSession, key: String, inputs: Seq[String], fp: String)
             (build: => DataFrame): DataFrame = {
    val fullKey = s"$key@$fp"
    val df = table(s, fullKey)(build)
    evictSuperseded(key, fullKey, inputs)
    df
  }

  /** Drop '@'-versioned siblings of `keep` that are stale relative to
    * the input state NOW: the fingerprint is re-computed at eviction
    * time and matching keys are spared, so a caller that fingerprinted
    * BEFORE a concurrent rewrite finished cannot delete the fresher
    * fingerprint's just-built parquet — it only ever removes versions
    * current neither to itself nor to the present input state (its own
    * stale entry is then evicted by the next fresh caller).
    *
    * The r14 TOCTOU is CLOSED by a birth-order cutoff (r15; was an
    * accepted-risk note): the former hazard was an input rewritten
    * AGAIN between this method's fingerprint() recomputation and the
    * delete — an entry a concurrent fresh caller just built against
    * the newest input state was neither `keep` nor `current` and got
    * deleted while current. Now the evictor captures the monotonic
    * birth counter BEFORE recomputing the fingerprint and only evicts
    * entries born up to that cutoff: any entry that could possibly
    * describe an input state newer than the evictor's view was born
    * after the cutoff and is spared (the next fresh caller, whose
    * cutoff postdates its birth, collects it if it is genuinely
    * stale). No clocks, no extra locks, no lock-ordering hazard.
    * Evicting a genuinely superseded version while some straggler
    * still reads it remains correct by contract: a reader whose input
    * was rewritten underneath it must fail loudly, not serve stale
    * rows (DerivedCacheSpec pins both directions). */
  private def evictSuperseded(baseKey: String, keep: String,
                              inputs: Seq[String]): Unit = {
    import scala.jdk.CollectionConverters._
    val stale = written.keySet.asScala.toSeq
      .filter(k => k != keep && k.startsWith(baseKey + "@"))
    if (stale.nonEmpty) {
      val cutoff = births.get() // BEFORE the refingerprint, see above
      val current = s"$baseKey@${fingerprint(inputs)}"
      evictStaleSiblings(stale, keep, current, cutoff)
    }
  }

  /** Eviction core, factored so the race spec can drive the exact
    * interleaving (a stale view + a concurrently-born fresh entry)
    * deterministically. Removes every `stale` key that is neither
    * `keep` nor `current` and was born at or before `cutoff`. */
  private[graft] def evictStaleSiblings(stale: Seq[String], keep: String,
                                        current: String,
                                        cutoff: Long): Unit =
    stale.filter(k => k != keep && k != current &&
        born.getOrDefault(k, 0L) <= cutoff)
      .foreach { k =>
        keyLocks.computeIfAbsent(k, _ => new Object).synchronized {
          val w = written.remove(k)
          born.remove(k)
          if (w != null)
            try graft.Fs.deleteRec(java.nio.file.Paths.get(w.path))
            catch { case _: Exception => () }
        }
      }

  /** Current value of the birth counter (monotonic; for the race
    * spec's deterministic cutoffs). */
  private[graft] def birthSeq: Long = births.get()

  /** The derived table for `key` (any stable string naming the data dir
    * + derivation variant), building and writing it on first call.
    * The caller asserts the inputs behind `key` never change within the
    * JVM's lifetime — prefer [[tableFor]], which checks instead of
    * trusting. */
  def table(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val existing = written.get(key)
    val w = if (existing != null) existing
    else keyLocks.computeIfAbsent(key, _ => new Object).synchronized {
      val again = written.get(key)
      if (again != null) again
      else {
        val out = s"$baseDir/${Integer.toHexString(key.hashCode)}_" +
          key.replaceAll("[^A-Za-z0-9_.-]", "_").takeRight(40)
        // build time is once-per-JVM amortized work, metered separately
        // so bench cold numbers can split query from build (BuildMeter)
        val w = Written(out, BuildMeter.time {
          val df = build
          df.write.mode("overwrite").parquet(out)
          df.schema
        })
        born.put(key, births.incrementAndGet())
        written.put(key, w)
        w
      }
    }
    s.read.schema(w.schema).parquet(w.path)
  }
}
