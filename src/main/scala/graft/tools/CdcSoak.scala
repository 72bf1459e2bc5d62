package graft.tools

import org.apache.spark.sql.functions._

/** Streaming-CDC scale soak: drive the partition-scoped upsert sink
  * (StreamOps.mergeBatchPartitioned) with a synthetic changelog over a
  * scaled snapshot and report per-batch latency, to demonstrate on real
  * data that upsert cost scales with the BATCH's partition footprint,
  * not the snapshot size.
  *
  * Shape: the snapshot is the orders table partitioned by order month
  * (~80 partitions at any sf). Batch 0 is the bulk seed (every partition
  * — the one legitimately O(snapshot) batch); each soak batch then
  * updates a bounded key set inside ONE month, the typical changelog
  * locality. For contrast the same batches replay against the same
  * machinery degraded to a single all-rows partition (`pall`), which is
  * exactly the old full-snapshot rewrite path — same merge, same swap,
  * no pruning.
  *
  * Usage: runMain graft.tools.CdcSoak [sfDir] [workDir] [nBatches]
  *          [keysPerBatch] [replicate]
  * `replicate` scales the orders snapshot in-flight (ScaleGen.replicate,
  * same FK-preserving key stride) so one invocation can probe a snapshot
  * an order of magnitude past the largest on-disk sf dir.
  */
object CdcSoak {

  private def deleteRec(f: java.io.File): Unit = graft.Fs.deleteRec(f)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "tmp/sf10"
    val work = if (args.length > 1) args(1) else "tmp/cdc_soak"
    val nBatches = if (args.length > 2) args(2).toInt else 8
    val keysPerBatch = if (args.length > 3) args(3).toInt else 20000
    val replicate = if (args.length > 4) args(4).toInt else 1
    val spark = graft.Harness.session("graft-cdc-soak")
    import spark.implicits._

    val orders0 = spark.read.parquet(s"$sfDir/orders.parquet")
    val orders = (if (replicate > 1) {
        // stride derived from the DATA: a ScaleGen'd sfDir already has
        // keys up to (n-1)·KEY_STRIDE, and re-replicating with the fixed
        // stride would collide key spaces (measured: 150M intended rows
        // collapsed to 16.35M distinct keys through the merge)
        val stride = ScaleGen.strideFor(
          orders0.agg(max($"o_orderkey".cast("long"))).head.getLong(0))
        ScaleGen.replicate(orders0, ScaleGen.keyCols("orders"), replicate, stride)
      } else orders0)
      .withColumn("pmonth",
        (year($"o_orderdate") * 100 + month($"o_orderdate")).cast("int"))
    val months = orders.select($"pmonth").distinct()
      .orderBy($"pmonth").as[Int].collect()
    val nRows = orders.count()
    println(s"soak: snapshot source $nRows rows over ${months.length} month partitions")

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    /** One soak sequence against `dir` with partition column `pcol`:
      * seed, then nBatches single-month update batches. Returns
      * per-batch (seconds, bytes of the partition REWRITTEN by that
      * batch — measured inside the loop right after the merge, so it is
      * that batch's true write footprint, not the end-state size after
      * later batches grew the partition). Seed excluded. */
    def run(dir: String, pcol: String, label: String): Seq[(Double, Long)] = {
      deleteRec(new java.io.File(dir))
      val base = orders.withColumn("pall", lit(0))
      val (_, seedS) = timed {
        graft.streaming.StreamOps.mergeBatchPartitioned(
          base.withColumn("op", lit("U")).withColumn("ver", lit(0L)),
          dir, keys = Seq("o_orderkey"), opCol = "op", version = Seq("ver"),
          partitionKey = pcol)
      }
      println(f"soak[$label]: seed (all partitions) $seedS%.1f s")
      // batches come from the UNREPLICATED source (replica 0's keys are
      // the original keys, so they hit the snapshot either way) — batch
      // construction cost must not scale with `replicate`, only the
      // merge under test may
      val batchSource = orders0
        .withColumn("pmonth",
          (year($"o_orderdate") * 100 + month($"o_orderdate")).cast("int"))
        .withColumn("pall", lit(0))
      (1 to nBatches).map { i =>
        val m = months(i % months.length)
        val batch = batchSource.filter($"pmonth" === m).limit(keysPerBatch)
          .withColumn("o_totalprice", $"o_totalprice" + i)
          .withColumn("op", lit("U")).withColumn("ver", lit(i.toLong))
        val (_, s) = timed {
          graft.streaming.StreamOps.mergeBatchPartitioned(
            batch, dir, keys = Seq("o_orderkey"), opCol = "op",
            version = Seq("ver"), partitionKey = pcol)
        }
        val pval = if (pcol == "pmonth") m else 0
        val bytes = dirBytes(new java.io.File(dir, s"$pcol=$pval"))
        println(f"soak[$label]: batch $i month $m keys<=$keysPerBatch $s%.1f s " +
          f"${bytes / 1024}%d KiB rewritten")
        (s, bytes)
      }
    }

    /** The merge-on-read lane: same seed + batches, but each batch only
      * APPENDS its delta log (StreamOps.appendDeltaBatch). Per-batch
      * bytes written = that delta dir's size — the write-amplification
      * number the copy-on-write lanes pay per-partition (scoped) or
      * per-snapshot (full). The final reconciled READ is timed too: MOR
      * shifts cost from the write path to the read path, and both sides
      * of the trade must be on the table. */
    def runMor(dir: String): (Seq[Double], Seq[Long], Double) = {
      deleteRec(new java.io.File(dir))
      val base = orders.withColumn("pall", lit(0))
      val (_, seedS) = timed {
        graft.streaming.StreamOps.appendDeltaBatch(
          base.withColumn("op", lit("U")).withColumn("ver", lit(0L)),
          dir, 0L)
      }
      println(f"soak[merge-on-read]: seed (append) $seedS%.1f s")
      val batchSource = orders0
        .withColumn("pmonth",
          (year($"o_orderdate") * 100 + month($"o_orderdate")).cast("int"))
        .withColumn("pall", lit(0))
      val perBatch = (1 to nBatches).map { i =>
        val m = months(i % months.length)
        val batch = batchSource.filter($"pmonth" === m).limit(keysPerBatch)
          .withColumn("o_totalprice", $"o_totalprice" + i)
          .withColumn("op", lit("U")).withColumn("ver", lit(i.toLong))
        val (_, s) = timed {
          graft.streaming.StreamOps.appendDeltaBatch(batch, dir, i.toLong)
        }
        val bytes = dirBytes(new java.io.File(dir, f"delta_$i%012d"))
        println(f"soak[merge-on-read]: batch $i month $m $s%.1f s ${bytes / 1024}%d KiB written")
        (s, bytes)
      }
      val readS = timed {
        graft.streaming.StreamOps.readMergeOnRead(spark, dir,
          Seq("o_orderkey"), "op", Seq("ver")).write.format("noop")
          .mode("overwrite").save()
      }._2
      println(f"soak[merge-on-read]: reconciled read $readS%.1f s")
      (perBatch.map(_._1), perBatch.map(_._2), readS)
    }

    val scopedRes = run(s"$work/scoped", "pmonth", "partition-scoped")
    val scoped = scopedRes.map(_._1)
    val scopedBytes = scopedRes.map(_._2)
    val fullRes = run(s"$work/full", "pall", "full-rewrite")
    val full = fullRes.map(_._1)
    val fullBytes = fullRes.map(_._2)
    val (morTimes, morBytes, morRead) = runMor(s"$work/mor")
    // all three snapshots must carry identical content
    // decimal-width hash sum: ANSI mode overflows a raw long sum
    def sigDf(df: org.apache.spark.sql.DataFrame) = df
      .agg(count(lit(1)), sum(xxhash64($"o_orderkey", $"o_totalprice")
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head
    def sig(path: String) = sigDf(spark.read.parquet(path))
    val a = sig(s"$work/scoped")
    val b = sig(s"$work/full")
    val c = sigDf(graft.streaming.StreamOps.readMergeOnRead(spark,
      s"$work/mor", Seq("o_orderkey"), "op", Seq("ver")))
    println(s"soak: content check scoped=$a full=$b mor=$c " +
      s"match=${a == b && b == c}")
    println(f"soak: median scoped ${median(scoped)}%.1f s vs full ${median(full)}%.1f s " +
      f"(x${median(full) / median(scoped)}%.1f)")
    println(f"soak: merge-on-read median append ${median(morTimes)}%.2f s, " +
      f"median delta ${median(morBytes.map(_.toDouble)) / 1024}%.0f KiB/batch vs " +
      f"scoped rewrite ${median(scopedBytes.map(_.toDouble)) / 1024}%.0f KiB/batch " +
      f"(write-amp x${median(scopedBytes.map(_.toDouble)) / median(morBytes.map(_.toDouble))}%.1f), " +
      f"full rewrite ${median(fullBytes.map(_.toDouble)) / 1024}%.0f KiB/batch; " +
      f"reconciled read $morRead%.1f s")
    spark.stop()
  }

  private def dirBytes(f: java.io.File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }
}
