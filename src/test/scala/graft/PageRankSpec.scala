package graft

import graft.operators.PageRank
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PageRankSpec extends AnyFunSuite with SparkSpec {

  private def baskets(rows: (Long, Long)*) = {
    import spark.implicits._
    rows.toDF("g", "i")
  }

  private def globalRanks(edges: DataFrame, iterations: Int): Map[Long, Long] =
    collectRanks(PageRank.ranksFromTransitions(PageRank.transitionsOf(edges),
      iterations))

  private def pprRanks(edges: DataFrame, seedMod: Long,
                           iterations: Int): Map[Long, Long] =
    collectRanks(PageRank.personalizedFromTransitions(
      PageRank.transitionsOf(edges), seedMod, iterations))

  private def collectRanks(r: DataFrame): Map[Long, Long] = {
    val out = r.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    graft.operators.OpCaches.releaseAll()
    out
  }

  /** Brute-force integer PageRank in plain Scala: the same micro-unit
    * mass, floor divisions and (15·base + 85·Σ)/100 damping, written
    * over a plain edge list. `seedMod` = None is the global form. */
  private def bruteForce(edges: Seq[(Long, Long)], iterations: Int,
                         seedMod: Option[Long]): Map[Long, Long] = {
    val outdeg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    def isSeed(n: Long) = seedMod.forall(n % _ == 0)
    val nInit = outdeg.keys.count(isSeed).toLong
    val init = PageRank.TotalMass / nInit
    val base = 15L * (PageRank.TotalMass / nInit) / 100L
    var r = outdeg.keys.map(n => n -> (if (isSeed(n)) init else 0L)).toMap
    for (_ <- 1 to iterations) {
      r = edges.groupBy(_._2).map { case (dst, in) =>
        val s = in.map { case (src, _) => r(src) / outdeg(src) }.sum
        dst -> ((if (isSeed(dst)) base else 0L) + 85L * s / 100L)
      }
    }
    r
  }

  test("star graph: hub outranks leaves, leaves tie exactly") {
    import spark.implicits._
    // baskets {1,2} {1,3} {1,4}: symmetric star around node 1
    val e = PageRank.coOccurrenceEdges(
      baskets((10L, 1L), (10L, 2L), (20L, 1L), (20L, 3L), (30L, 1L), (30L, 4L)),
      $"g", $"i", maxBasket = 64)
    val r = globalRanks(e, iterations = 5)
    assert(r.keySet == Set(1L, 2L, 3L, 4L))
    assert(r(2L) == r(3L) && r(3L) == r(4L), s"leaves must tie: $r")
    assert(r(1L) > r(2L), s"hub must outrank leaves: $r")
  }

  test("mass is approximately conserved (floor losses only)") {
    import spark.implicits._
    val e = PageRank.coOccurrenceEdges(
      Tables.lineitem(spark, sf), $"l_orderkey", $"l_partkey", maxBasket = 64)
    val total = globalRanks(e, iterations = 3).values.sum
    // each node loses < 1 micro-unit per floor division; with ~2k nodes
    // and 3 iterations the loss is parts-per-billion of the 1e12 mass
    assert(total > PageRank.TotalMass * 999L / 1000L &&
      total <= PageRank.TotalMass, s"total mass drifted: $total")
    graft.operators.OpCaches.releaseAll()
  }

  test("deterministic under repartitioning") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_partkey")
    def run(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      globalRanks(PageRank.coOccurrenceEdges(df, $"l_orderkey", $"l_partkey", 64),
        iterations = 2)
    }
    assert(run(li) == run(li.repartition(17, $"l_partkey")))
  }

  test("oversized baskets contribute no edges") {
    import spark.implicits._
    val big = (1L to 10L).map(i => (99L, i))
    val small = Seq((1L, 100L), (1L, 101L))
    val e = PageRank.coOccurrenceEdges(
      baskets((big ++ small): _*), $"g", $"i", maxBasket = 5)
    val nodes = e.select($"src").distinct().collect().map(_.getLong(0)).toSet
    assert(nodes == Set(100L, 101L), s"capped basket leaked edges: $nodes")
  }

  test("personalized: mass concentrates at seeds, far components get none") {
    import spark.implicits._
    // two disconnected triangles; seeds (mod 97) hit only {0, 97}'s
    // component: nodes 0,1,2 triangle; 1000,1001,1002 triangle
    val e = baskets(
      (1L, 0L), (1L, 1L), (1L, 2L),
      (2L, 1000L), (2L, 1001L), (2L, 1002L))
    val edges = PageRank.coOccurrenceEdges(e, $"g", $"i", maxBasket = 8)
    val r = pprRanks(edges, seedMod = 97, iterations = 3)
    // only node 0 is a seed: its component carries ALL the mass
    assert(r(0L) > 0 && r(1L) > 0 && r(2L) > 0)
    assert(r(1000L) == 0 && r(1001L) == 0 && r(1002L) == 0,
      s"mass leaked to the unseeded component: $r")
    // the seed outranks its non-seed peers (teleport returns to it)
    assert(r(0L) > r(1L) && r(0L) > r(2L))
    // symmetric non-seed peers tie exactly (integer arithmetic)
    assert(r(1L) == r(2L))
  }

  test("transition-table forms equal a brute-force integer PageRank") {
    import spark.implicits._
    // the lanes' entries over transitionsOf(edges) must reproduce a
    // plain-Scala replay's EXACT integer ranks — same floor divisions on
    // the same out-degrees — for both the global and the personalized
    // lane
    val e = PageRank.coOccurrenceEdges(
      Tables.lineitem(spark, sf), $"l_orderkey", $"l_partkey", maxBasket = 64)
    val edges = e.select($"src", $"dst").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    assert(globalRanks(e, iterations = 3) == bruteForce(edges, 3, None))
    assert(pprRanks(e, seedMod = 97, iterations = 3) ==
      bruteForce(edges, 3, Some(97L)))
  }

  test("personalized is deterministic under repartitioning") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_partkey")
    def run(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      pprRanks(
        PageRank.coOccurrenceEdges(df, $"l_orderkey", $"l_partkey", 64),
        seedMod = 97, iterations = 2)
    }
    assert(run(li) == run(li.repartition(17, $"l_partkey")))
  }
}
