package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The write-once materialized co-purchase derivations must be
  * ROW-IDENTICAL to the inline derivations the graph queries used
  * before — parquet round-trip of (long, long) rows is exact, and the
  * build functions are literally the same code, so any divergence here
  * means the materialization itself is broken. */
class CoPurchaseSpec extends AnyFunSuite with SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("materialized full edges equal the inline derivation") {
    val inline = operators.PageRank.coOccurrenceEdges(
      Tables.lineitem(spark, sf), col("l_orderkey"), col("l_partkey"),
      maxBasket = operators.CoPurchase.FullCap)
    val mat = operators.CoPurchase.fullEdges(spark, sf)
    assert(pairs(mat) == pairs(inline))
    assert(pairs(mat).nonEmpty)
  }

  test("materialized sampled edges equal the inline derivation") {
    val li = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") % operators.CoPurchase.SampleMod === 0)
    val inline = operators.PageRank.coOccurrenceEdges(
      li, col("l_orderkey"), col("l_partkey"),
      maxBasket = operators.CoPurchase.SampleCap)
    val mat = operators.CoPurchase.sampledEdges(spark, sf)
    assert(pairs(mat) == pairs(inline))
    assert(pairs(mat).nonEmpty)
  }

  test("materialized capped items equal the inline derivation") {
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("g"), col("l_partkey").as("i")).distinct()
    val ok = items.groupBy(col("g")).count()
      .filter(col("count") <= operators.CoPurchase.FullCap).select(col("g"))
    val inline = items.join(ok, "g")
    val mat = operators.CoPurchase.items(spark, sf)
    assert(pairs(mat) == pairs(inline))
    assert(pairs(mat).nonEmpty)
  }

  test("materialized transition table equals the inline derivation") {
    // (src, dst, outdeg) rows — longs round-trip parquet exactly, so
    // the materialized form must be SET-identical to transitionsOf over
    // the inline edge derivation (r17)
    val inline = operators.PageRank.transitionsOf(
      operators.PageRank.coOccurrenceEdges(
        Tables.lineitem(spark, sf), col("l_orderkey"), col("l_partkey"),
        maxBasket = operators.CoPurchase.FullCap))
    val mat = operators.CoPurchase.transitionFull(spark, sf)
    def t3(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(t3(mat) == t3(inline))
    assert(t3(mat).nonEmpty)
  }

  test("incremental edge refresh equals the full rebuild (merged == recomputed)") {
    // Split the fact by ORDER KEY so the delta carries complete new
    // baskets — the append-only fact-delta contract. The refreshed
    // table must be set-identical to a from-scratch rebuild over the
    // whole fact, and the delta's own edge contribution must be
    // disjoint from the existing set (add-only under appends).
    val li = Tables.lineitem(spark, sf)
    val base = li.filter(col("l_orderkey") % 10 =!= 0)
    val delta = li.filter(col("l_orderkey") % 10 === 0)
    val existing = operators.PageRank.edgesFromItems(
      operators.CoPurchase.itemsOf(base))
    val fresh = operators.CoPurchase.edgeDelta(existing, delta)
    assert(pairs(fresh).nonEmpty, "delta must contribute edges")
    assert(pairs(fresh).intersect(pairs(existing)).isEmpty,
      "edgeDelta must exclude already-present pairs")
    val merged = operators.CoPurchase.refreshedEdges(existing, delta)
    val rebuilt = operators.PageRank.edgesFromItems(
      operators.CoPurchase.itemsOf(li))
    assert(pairs(merged) == pairs(rebuilt))
  }

  test("incremental items refresh equals the full rebuild") {
    val li = Tables.lineitem(spark, sf)
    val base = li.filter(col("l_orderkey") % 10 =!= 0)
    val delta = li.filter(col("l_orderkey") % 10 === 0)
    // new baskets only, so existing ∪ the delta's capped items is a
    // plain union: the multiset pin fails on any row both sides hold
    def rows(df: org.apache.spark.sql.DataFrame) =
      bag(df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))))
    val merged = operators.CoPurchase.itemsOf(base)
      .unionByName(operators.CoPurchase.itemsOf(delta))
    assert(rows(merged) == rows(operators.CoPurchase.itemsOf(li)))
  }

  test("consumers read a plain parquet scan (no re-derivation in the plan)") {
    val p = operators.CoPurchase.fullEdges(spark, sf)
      .queryExecution.executedPlan.toString
    // a single file scan, no joins/aggregates — the derivation happened
    // at write time, consumers pay only the derived-table read
    assert(p.contains("FileScan parquet"))
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"consumer plan re-derives the edges:\n$p")
  }
}
