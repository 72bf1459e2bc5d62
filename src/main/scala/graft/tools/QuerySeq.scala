package graft.tools

import graft.{Harness, SparkEntry}

/** Ad-hoc multi-query timer: runs the named SparkEntry queries in order,
  * in one JVM, through [[Harness.runLane]] — the meter Bench uses —
  * with Harness.teardown between runs. For A/B-ing a shared-derivation
  * change across the queries that share it, or timing one lane's
  * repeats, without a full Bench run. A name listed N times runs N
  * times (`q_wand,q_wand,q_wand`: one first execution, two settled
  * repeats).
  *
  * Each run prints Bench's per-run record ([[graft.LaneRun]]): seconds,
  * error, the once-per-JVM build seconds charged inside it, HotSpot JIT
  * ms and whole-stage-codegen compiles (codegen-cache misses — the
  * direct test of "is a repeat execution recompiling its plans?"), the
  * stage count and wall, and every stage over 0.5 s.
  *
  * Args: <q1,q2,...> [dir]
  */
object QuerySeq {
  def main(args: Array[String]): Unit = {
    val qs = args(0).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Harness.session("graft-queryseq")
    val runs = scala.collection.mutable.Map.empty[String, Int]
    var total = 0.0
    qs.foreach { q =>
      val run = runs.getOrElse(q, 0) + 1
      runs(q) = run
      val r = Harness.runLane(spark, SparkEntry.queries(q), dir)
      total += r.seconds
      println(f"[queryseq] $q%-24s run$run ${r.json}")
      // r18: the first sf10 heavy-lane sweep ran 14 heavy queries in one
      // JVM with only unpersist+releaseAll — checkpoint generations and
      // dead broadcast/shuffle debris accumulated until the tail lanes
      // measured the debris, not themselves
      Harness.teardown(spark)
    }
    println(f"[queryseq] TOTAL ${total}%.2f s")
    spark.stop()
  }
}
