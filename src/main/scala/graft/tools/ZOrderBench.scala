package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Measures what z-ordering actually buys at scan time. Writes the events
  * table in three physical layouts —
  *
  *   zorder:   ZOrder.cluster on (user_id, tsec), 64 files
  *   byuser:   range-partition + sort by user_id alone, 64 files
  *   shuffled: round-robin 64 files (no clustering at all)
  *
  * — then times a ~1% single-dimension slice on each dimension against
  * each layout, reporting parquet records actually READ (task input
  * metrics: rows the reader materialized after row-group min/max pruning)
  * next to wall time. The 100 TB claim being tested: a user-sorted layout
  * prunes user slices only; the z-ordered layout prunes BOTH dimensions
  * at a modest constant factor each.
  *
  * Args: [sfDir] [outBase]. Results go to SCALE.md by hand.
  */
object ZOrderBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/repo/tmp/sf10"
    val out = if (args.length > 1) args(1) else "/root/repo/tmp/zorder_bench"
    val spark = graft.Harness.session("graft-zorder-bench")

    val recordsRead = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recordsRead.add(t.taskMetrics.inputMetrics.recordsRead)
    })

    val e = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        col("ts").cast(LongType).as("tsec"), col("event_type"), col("value"))

    val stats = e.agg(min(col("user_id")), max(col("user_id")),
      min(col("tsec")), max(col("tsec")), count(lit(1))).head()
    val (uMin, uMax) = (stats.getLong(0), stats.getLong(1))
    val (tMin, tMax) = (stats.getLong(2), stats.getLong(3))
    println(s"events rows=${stats.getLong(4)} user=[$uMin,$uMax] tsec=[$tMin,$tMax]")

    graft.operators.ZOrder.cluster(e, "user_id", "tsec", bits = 16, numPartitions = 64)
      .write.mode("overwrite").parquet(s"$out/zorder")
    e.repartitionByRange(64, col("user_id")).sortWithinPartitions(col("user_id"))
      .write.mode("overwrite").parquet(s"$out/byuser")
    e.repartition(64)
      .write.mode("overwrite").parquet(s"$out/shuffled")

    // middle ~1% slice of each dimension
    def mid(lo: Long, hi: Long): (Long, Long) = {
      val w = math.max((hi - lo) / 100, 1L)
      (lo + (hi - lo) / 2, lo + (hi - lo) / 2 + w)
    }
    val (u0, u1) = mid(uMin, uMax)
    val (t0, t1) = mid(tMin, tMax)
    val preds = Seq(
      "user-slice" -> s"user_id BETWEEN $u0 AND $u1",
      "time-slice" -> s"tsec BETWEEN $t0 AND $t1")

    for (layout <- Seq("zorder", "byuser", "shuffled"); (pname, pred) <- preds) {
      // second run reported: file listing cached, JIT warm — the
      // steady-state scan cost a cluster would see
      var line = ""
      for (run <- 1 to 2) {
        recordsRead.reset()
        val start = System.nanoTime()
        val n = spark.read.parquet(s"$out/$layout").where(pred).count()
        val sec = (System.nanoTime() - start) / 1e9
        Thread.sleep(500) // listener bus drains async; settle before reading
        line = f"zbench: $layout%-8s $pname%-10s run$run rows=$n%-7d " +
          f"recordsRead=${recordsRead.sum}%-9d ${sec}%.3f s"
        println(line)
      }
    }
    spark.stop()
  }
}
