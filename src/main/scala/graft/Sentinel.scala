package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Fixed-work box-state probes shared by Bench and Verify (r17).
  *
  * r16's self-diagnosing gate bounded JVM/box drift with one CPU-shaped
  * sentinel (a 200k-row range aggregate) — and its first record run
  * immediately demonstrated the blind spot: the sentinels read flat
  * (0.89/0.29/0.33 s) while the box's DEGRADED DISK-WRITE PATH took
  * q_minhash_recall to 118 s (517 s of summed shuffle-write time at
  * zero spill in the kept trace). The one pathology r16 actually
  * identified is exactly the one a no-IO sentinel cannot see.
  *
  * So the probe set is now three fixed-work shapes, each isolating one
  * resource, all run at (early, mid, late):
  *  - [[cpuRun]]   — the r16 generic-engine shape (agg, window, explode,
  *                   broadcast + shuffle join on synthetic rows; no table
  *                   data, no disk);
  *  - [[shuffleRun]] — a ~256 MB incompressible repartition: pays shuffle
  *                   WRITE + fetch on the local disk Spark shuffles on;
  *  - [[writeRun]] — a ~128 MB incompressible parquet write (no shuffle),
  *                   deleted immediately: pays the sink write path.
  * A degraded disk now reads as flat cpu + elevated shuffle/write — the
  * r16 gate's "box moved vs lane regressed" separation, made
  * self-classifying for the IO axis too. [[point]] runs all three and
  * reads the code cache: the one sentinel record Bench and Verify write.
  *
  * Also here: the JVM-state snapshots the lane meter
  * ([[Harness.runLane]]) takes around every run —
  * JIT code-cache occupancy (the r15 degradation mechanism), HotSpot
  * total compilation time, and Spark's whole-stage-codegen (Janino)
  * compilation count/size (CodegenMetrics — a compile is a codegen-cache
  * MISS, so a warm run that recompiles names itself in one delta).
  */
object Sentinel {

  /** Generic engine shape on fixed synthetic rows — CPU/scheduler probe.
    * Returns seconds. */
  def cpuRun(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    val r = spark.range(200000).toDF("id")
      .withColumn("g", col("id") % 7)
      .withColumn("arr", array(col("id"), col("id") + 1))
    val exploded = r.select(col("g"), explode(col("arr")).as("x"))
    val windowed = exploded.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("x"))))
    windowed.join(broadcast(r.limit(5).select(col("id").as("x"))), Seq("x"))
      .join(r.select(col("id").as("x")), Seq("x"))
      .agg(count(lit(1))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed ~256 MB shuffle (xxhash64 payload is incompressible, so the
    * bytes really hit the shuffle files): disk shuffle-write/fetch probe.
    * Returns seconds. */
  def shuffleRun(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    // max, not sum: xxhash64 values are full-range longs and an ANSI
    // sum overflows
    spark.range(16000000).select(col("id"), xxhash64(col("id")).as("h"))
      .repartition(64, col("h"))
      .agg(count(lit(1)), max(col("h"))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed ~128 MB parquet write (no shuffle), deleted afterwards: sink
    * write-path probe. Writes under java.io.tmpdir, never the repo.
    * Returns seconds (delete time excluded — only the write is timed). */
  def writeRun(spark: SparkSession): Double = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sentinel-io").toString
    val t0 = System.nanoTime()
    spark.range(16000000).select(col("id"), xxhash64(col("id")).as("h"))
      .write.mode("overwrite").parquet(s"$dir/probe")
    val s = (System.nanoTime() - t0) / 1e9
    try Fs.deleteRec(new java.io.File(dir))
    catch { case _: Throwable => () }
    s
  }

  /** One (cpu, shuffle, write, code-cache) box-state reading. */
  final case class Point(cpu: Double, shuffle: Double, write: Double,
                         codeCacheUsedMb: Double, codeCacheMaxMb: Double) {
    def json: String =
      s"""{"cpu":${Json.num(cpu)},"shuffle":${Json.num(shuffle)},""" +
      s""""write":${Json.num(write)},"code_cache_mb":[""" +
      s"""${Json.num(codeCacheUsedMb)},${Json.num(codeCacheMaxMb)}]}"""
  }

  /** Run the three fixed-work probes, then read the code cache. */
  def point(spark: SparkSession): Point = {
    val (c, sh, wr) = (cpuRun(spark), shuffleRun(spark), writeRun(spark))
    val (used, max) = codeCacheMb()
    Point(c, sh, wr, used, max)
  }

  /** (used MB, max MB) across the JIT code-heap pools — the r15
    * degradation mechanism. */
  def codeCacheMb(): (Double, Double) = {
    import scala.jdk.CollectionConverters._
    val pools = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") ||
        p.getName.contains("Code Cache"))
    (pools.map(_.getUsage.getUsed).sum / 1048576.0,
     pools.map(p => math.max(0L, p.getUsage.getMax)).sum / 1048576.0)
  }

  /** Cumulative HotSpot JIT compilation milliseconds (monotonic;
    * per-run delta = JIT work done DURING that run — the direct test of
    * the "first-execution JIT warmup" story the r16 traces could only
    * infer from CPU shape). Returns -1 when the JVM does not support
    * compilation-time monitoring — callers MUST pass the sentinel
    * through (the lane record's jit_ms is null), never fold it into a
    * zero delta: "no JIT meter" and "no JIT work" are different facts
    * (r18, ADVICE). */
  def jitMs(): Long = {
    val b = java.lang.management.ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported)
      b.getTotalCompilationTime
    else -1L
  }

  /** Cumulative whole-stage-codegen compile COUNT from Spark's
    * CodegenMetrics. A compile is a codegen-cache MISS — a warm run
    * whose delta is nonzero is recompiling its plans (the r17
    * q_minhash_recall mechanism). r18 (ADVICE): the old second element
    * (generated-source bytes as snapshot-mean × count) was dropped —
    * Codahale's exponentially-decaying reservoir makes that product a
    * recent-values estimate, not the running sum its doc claimed, and
    * no caller ever consumed it. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
}
