package graft.tools

import graft.{Harness, Sentinel, SparkEntry}
import graft.operators.BuildMeter

/** Ad-hoc multi-query timer: runs the named SparkEntry queries in order,
  * in one JVM, through the Bench noop-sink methodology — construction
  * inside the timed window (several operators do real work eagerly while
  * the DataFrame is built), Harness.teardown between runs. For A/B-ing a
  * shared-derivation change across the queries that share it, or timing
  * one lane's repeats, without a full Bench run. A name listed N times
  * runs N times (`q_wand,q_wand,q_wand`: one first execution, two
  * settled repeats).
  *
  * Each run prints its seconds and the once-per-JVM build seconds
  * charged inside it (BuildMeter), its compilation deltas — HotSpot JIT
  * ms and whole-stage-codegen compiles (codegen-cache misses), the
  * direct test of "is a repeat execution recompiling its plans?" — and
  * driver GC and code-cache occupancy.
  *
  * Args: <q1,q2,...> [dir]
  */
object QuerySeq {
  def main(args: Array[String]): Unit = {
    val qs = args(0).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Harness.session("graft-queryseq")
    // SPARK_GRAFT_STAGES=1: per-stage wall + executor CPU/GC telemetry
    // for stages over 1 s — the in-bench degradation debugger (r15)
    if (sys.env.contains("SPARK_GRAFT_STAGES"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val i = sc.stageInfo
            val ms = (for {
              a <- i.completionTime; b <- i.submissionTime
            } yield a - b).getOrElse(0L)
            if (ms > 1000) {
              val m = i.taskMetrics
              println(f"  [stage ${i.stageId}%4d] ${ms / 1000.0}%7.1f s wall  " +
                f"cpu ${m.executorCpuTime / 1e9}%7.1f  run ${m.executorRunTime / 1e3}%7.1f  " +
                f"gc ${m.jvmGCTime / 1e3}%6.1f  tasks=${i.numTasks}")
            }
          }
        })
    val gcBeans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans
    def gcMs: Long = {
      var s = 0L
      gcBeans.forEach(b => s += b.getCollectionTime)
      s
    }
    val runs = scala.collection.mutable.Map.empty[String, Int]
    var total = 0.0
    qs.foreach { q =>
      val run = runs.getOrElse(q, 0) + 1
      runs(q) = run
      val g0 = gcMs
      val jit0 = Sentinel.jitMs()
      val cg0 = Sentinel.codegenCompiles()
      val b0 = BuildMeter.seconds
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      total += s
      // jit_ms reads "null" on a JVM without compilation-time
      // monitoring (a silent 0 would read as "no JIT work")
      val jitD = Sentinel.jitDeltaJson(jit0, Sentinel.jitMs())
      val cgD = Sentinel.codegenCompiles() - cg0
      val bD = BuildMeter.seconds - b0
      val (ccUsed, ccMax) = Sentinel.codeCacheMb()
      println(f"[queryseq] $q%-24s run$run $s%8.3f s  (build $bD%.3f s; " +
        s"jit_ms=$jitD codegen_compiles=$cgD; " +
        f"driver gc ${(gcMs - g0) / 1000.0}%.1f s; code cache $ccUsed%.0f/$ccMax%.0f MB)")
      // r18: the first sf10 watchlist sweep ran 14 heavy queries in one
      // JVM with only unpersist+releaseAll — checkpoint generations and
      // dead broadcast/shuffle debris accumulated until the tail lanes
      // measured the debris, not themselves
      Harness.teardown(spark)
    }
    println(f"[queryseq] TOTAL ${total}%.2f s")
    spark.stop()
  }
}
