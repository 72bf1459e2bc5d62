package graft.operators

import org.apache.spark.sql.DataFrame

/** Reliable (disk-file-backed) lineage truncation for iterative lanes
  * — r15's replacement for `localCheckpoint(true)` in the CC / BFS /
  * k-core / label-prop loops and the audit ground-truth pins.
  *
  * Why not localCheckpoint: its blocks live in the block manager with
  * the lineage TRUNCATED, so once evicted they are unrecomputable —
  * under memory pressure the executor churns ("locally checkpointed …
  * cannot be recomputed" WARNs) or the job dies. The r14 driver gate
  * showed exactly that failure mode (q_allpairs/q_allpairs_compact
  * warm>cold inversions under box pressure), and a 1000-executor
  * cluster at 100 TB is under permanent pressure — lineage-free state
  * there must be on reliable storage, not in evictable cache.
  *
  * Shape: a parquet round-trip ([[viaParquet]]): one job computes the
  * frame and writes it; the returned Dataset reads the FILES
  * (recomputable never needed, evictable never), so per-iteration plans
  * stay two nodes deep.
  *
  * The checkpoint dir is one per JVM under java.io.tmpdir, registered
  * with Hadoop's ShutdownHookManager at priority 0 (after Spark's own
  * hooks — the DerivedCache convention) so no run leaks files. On a
  * real cluster, point spark.checkpoint.dir at HDFS/S3 instead — same
  * code path.
  */
object Ckpt {

  private val lock = new Object

  private def ensureDir(df: DataFrame): Unit = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty) lock.synchronized {
      if (sc.getCheckpointDir.isEmpty) {
        val d = java.nio.file.Files.createTempDirectory("graft-ckpt")
        try org.apache.hadoop.util.ShutdownHookManager.get()
          .addShutdownHook(new Runnable {
            def run(): Unit =
              try graft.Fs.deleteRec(d) catch { case _: Exception => () }
          }, 0)
        catch { case _: IllegalStateException => () }
        sc.setCheckpointDir(d.toString)
      }
    }
  }

  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Reliable lineage truncation via a parquet round-trip — the
    * standard production substitute for RDD checkpointing: ONE job
    * computes the frame and writes it columnar; the returned Dataset is
    * a plain file scan (reliable storage, full pushdown/pruning, nothing
    * in the block manager to evict). Spark's own Dataset.checkpoint
    * costs either a second materialize job or a cache round-trip on top
    * of the same write.
    *
    * Exactness: loop frames here are longs/doubles/strings — parquet
    * round-trips them bit-exactly (the DerivedCache contract). Files
    * live under the JVM's checkpoint dir and are reclaimed by the same
    * shutdown hook. The read-back takes the written frame's schema, so
    * the round-trip is the write job alone: no footer-inference job. */
  def viaParquet(df: DataFrame, parts: Int = 0): DataFrame =
    viaParquetPath(df, parts)._1

  /** [[viaParquet]] plus the written path — for [[Rotation]], which
    * deletes superseded loop generations. */
  private[operators] def viaParquetPath(df: DataFrame,
                                        parts: Int): (DataFrame, String) = {
    ensureDir(df)
    val s = df.sparkSession
    val p = s.sparkContext.getCheckpointDir.get + "/pq" + seq.incrementAndGet()
    val w = if (parts > 0) df.coalesce(parts) else df
    w.write.mode("overwrite").parquet(p)
    (s.read.schema(w.schema).parquet(p), p)
  }

  /** Delete EVERYTHING under the JVM's checkpoint dir — both Spark's
    * own rdd-* reliable-checkpoint dirs and the [[viaParquet]] files.
    *
    * Caller contract: no Dataset produced before this call will be
    * read or recomputed again. That is exactly a bench/verify
    * harness's between-queries teardown — r15's sf1 record run showed
    * why it matters: 480 query runs in one JVM each leave their loop
    * checkpoints on the same local disk the shuffle pressures, nothing
    * reclaims them until JVM exit, and the warm run of a late lane
    * pays for the entire catalog's accumulated files (q_pagerank warm
    * 93 s vs cold 35 s — VERDICT r15 suspect #1, closed by this).
    * A long-lived SERVICE should instead scope loop frames with
    * [[Rotation]] and leave this to session teardown. */
  def clearAll(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.getCheckpointDir.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try {
        if (fs.exists(p))
          fs.listStatus(p).foreach { st =>
            try fs.delete(st.getPath, true) catch { case _: Exception => () }
          }
      } catch { case _: Exception => () }
    }

  /** Bounded-retention [[viaParquet]] for LOOP frames — r16, closing
    * VERDICT r15's checkpoint-accumulation suspect: an iterative lane
    * that truncates every round onto new files strands one
    * generation's parquet per round, and across a 480-run catalog (or
    * a week of a long-lived service) the dead generations share disk
    * and page cache with the live shuffles. A Rotation keeps the last
    * `keep` generations and deletes older ones as new ones land.
    *
    * `keep = 2` is the floor for the standard loop shape, and why it
    * is the default: round i's WRITE job reads generation i−1's files,
    * and convergence checks may re-read the caller's still-held
    * previous frame after the new one lands — so the newest TWO
    * generations must exist; generation i−2 is unreachable (every
    * [[viaParquet]] frame is a plain file scan with no lineage into
    * older files). Callers that union MULTIPLE past generations into
    * the result (Bfs's settled set, Triangles' slice parts) must NOT
    * rotate — use plain [[viaParquet]] there.
    *
    * One instance per loop; not thread-safe, like the loops it
    * serves. The final generation's files are left for session
    * teardown ([[clearAll]] / the shutdown hook) — the caller is
    * still holding that frame. */
  final class Rotation(keep: Int = 2) {
    require(keep >= 2, s"keep must be >= 2 (write reads gen-1), got $keep")
    private val paths = scala.collection.mutable.Queue.empty[String]

    /** [[viaParquet]] `df`, then delete generations older than the
      * newest `keep`. */
    def next(df: DataFrame, parts: Int = 0): DataFrame = {
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      val (out, p) = viaParquetPath(df, parts)
      paths.enqueue(p)
      while (paths.size > keep) {
        // Hadoop fs handles the scheme (checkpoint dirs are file: URIs
        // locally, HDFS/S3 on a cluster — same code path as clearAll)
        val old = new org.apache.hadoop.fs.Path(paths.dequeue())
        try old.getFileSystem(conf).delete(old, true)
        catch { case _: Exception => () }
      }
      out
    }
  }

  /** Write-partition count for a loop frame of ~`rows` rows (~2M rows
    * per file, at least 1): loop frames at bench scale are a handful of
    * tasks' worth of data spread over every shuffle partition, and the
    * per-file commit overhead dominates the write (measured: 32-file
    * round-trips 2× the cost of sized ones on 30k-row frames). Callers
    * pass the PREVIOUS round's row count — loop frames change size
    * slowly, and coalesce never increases partitioning, so a stale
    * hint only costs parallelism, never correctness. */
  def partsFor(rows: Long): Int =
    math.min(math.max(1L, rows / 2000000L + 1L), 100000L).toInt
}
