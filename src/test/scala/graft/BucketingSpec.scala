package graft

import graft.etl.Bucketing
import org.scalatest.funsuite.AnyFunSuite

class BucketingSpec extends AnyFunSuite with SparkSpec {

  test("bucketed fact-fact join runs without a shuffle on either side") {
    import spark.implicits._
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    // the in-memory catalog forgets tables between JVMs but warehouse files
    // persist — clear both before writing
    Seq("li_bucketed", "ord_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      Fs.deleteRec(new java.io.File(s"target/test-warehouse/$t"))
    }
    Bucketing.writeBucketed(
      Tables.lineitem(spark, sf).select($"l_orderkey", $"l_quantity"),
      "li_bucketed", "l_orderkey", buckets = 8)
    Bucketing.writeBucketed(
      Tables.orders(spark, sf).select($"o_orderkey".as("l_orderkey"), $"o_totalprice"),
      "ord_bucketed", "l_orderkey", buckets = 8)
    // disable auto-broadcast so the planner must use SMJ — the property
    // under test is that bucketing satisfies its partitioning requirement
    // (at 100 TB neither fact side is broadcastable anyway)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.coLocatedJoin(spark, "li_bucketed", "ord_bucketed", "l_orderkey")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ in:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("graph iteration over a bucketed-by-src edge table pays no edge-side exchange") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.sql("DROP TABLE IF EXISTS edges_bucketed")
    Fs.deleteRec(new java.io.File("target/test-warehouse/edges_bucketed"))
    val edges = operators.PageRank.coOccurrenceEdges(
      Tables.lineitem(spark, sf).filter($"l_orderkey" % 10 === 0),
      $"l_orderkey", $"l_partkey", maxBasket = 8)
    // bucket count == shuffle.partitions (4 in tests) so the scan's
    // HashPartitioning(src) satisfies the join requirement outright
    Bucketing.writeBucketed(edges, "edges_bucketed", "src", buckets = 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      // the transition build (degree aggregate + edge⋈degree join) that
      // feeds the PageRank iteration rides the bucket layout: no
      // exchange over the bucketed adjacency, while the unbucketed one
      // shuffles for both
      def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect()
        df.queryExecution.executedPlan.toString.linesIterator
          .count(_.contains("Exchange hashpartitioning"))
      }
      val bucketed = operators.PageRank.transitionsOf(spark.table("edges_bucketed"))
      val plain = operators.PageRank.transitionsOf(edges.localCheckpoint(true))
      val exB = exchanges(bucketed)
      val exP = exchanges(plain)
      assert(exB == 0, s"bucketed transition build shuffles the edge side ($exB):\n" +
        bucketed.queryExecution.executedPlan)
      assert(exP > exB,
        s"unbucketed plan should pay extra exchanges (plain=$exP bucketed=$exB)")
      // layout must never change values (integer arithmetic)
      def rankBag(trans: org.apache.spark.sql.DataFrame) = bag(
        operators.PageRank.ranksFromTransitions(trans, iterations = 1).collect()
          .map(r => (r.getLong(0), r.getLong(1))))
      assert(rankBag(bucketed) == rankBag(plain))
      operators.OpCaches.releaseAll()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
  }
}
