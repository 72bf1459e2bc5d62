package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q_ann_rank_metrics: the DuckDB oracle pins exact values; this pins
  * the metric ARITHMETIC against a driver-side reimplementation from
  * the lanes' own outputs, plus the boundary laws (a lane identical to
  * the truth scores 1.0 / 1.0). */
class RankMetricsSpec extends AnyFunSuite with SparkSpec {

  private val discMicro = Map(1L -> 1000000L, 2L -> 630930L, 3L -> 500000L,
    4L -> 430677L, 5L -> 386853L)
  private val idcgMicro = 5L * 1000000L + 4L * 630930L + 3L * 500000L +
    2L * 430677L + 1L * 386853L

  test("lane metrics equal a driver-side recomputation from the ranked lists") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 10)
    val brute = Similarity.bruteForceTopK(q, e, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"),
        6L - r.getAs[Long]("rank")))
    val rel = brute.map(t => (t._1, t._2) -> t._3).toMap
    assert(bag(brute.map(t => (t._1, t._2))).values.forall(_ == 1),
      "a duplicated truth pair would be hidden by the lookup")
    val nq = brute.map(_._1).distinct.length.toLong
    val got = SparkEntry.queries("q_ann_rank_metrics")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toMap
    // recompute the ivf lane by hand from its production definition
    val coarse = graft.operators.IvfAnn.train(e, "vec_id", "embedding", k = 16)
    val lane = graft.operators.IvfAnn.topK(q, e, k = 5, coarse, nProbe = 4,
        spill = 1)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("cand_id"), r.getAs[Long]("rank")))
    val hits = lane.flatMap { case (qid, cid, rk) =>
      rel.get((qid, cid)).map(rv => (qid, rk, rv)) }
    val perQ = hits.groupBy(_._1).values.map { rows =>
      (rows.map(r => r._3 * discMicro(r._2)).sum,
        1000000L / rows.map(_._2).min)
    }
    val dcgSum = perQ.map(_._1).sum
    val mrrSum = perQ.map(_._2).sum
    val (gnq, gmrr, gmeanMrr, gndcg) = got("ivf")
    assert(gnq == nq)
    assert(gmrr == mrrSum, s"sum_mrr_micro $gmrr != recomputed $mrrSum")
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(gmeanMrr == r6(mrrSum.toDouble / (nq * 1000000L)))
    assert(gndcg == r6(dcgSum.toDouble / (nq * idcgMicro)))
  }

  test("a lane identical to the truth scores mean_mrr = mean_ndcg = 1.0 (by the grid)") {
    // pure arithmetic pin on the literals: a list equal to the ranked
    // truth has rel = 6 - rank at every rank, so dcg_micro == idcg and
    // min rank == 1 for every query
    val dcg = (1L to 5L).map(rk => (6L - rk) * discMicro(rk)).sum
    assert(dcg == idcgMicro)
    assert(1000000L / 1L == 1000000L)
  }

  test("every lane's metrics are within [0, 1] and ordered sanely at this sf") {
    val rows = SparkEntry.queries("q_ann_rank_metrics")(spark, sf).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      val (mrr, ndcg) = (r.getDouble(3), r.getDouble(4))
      assert(mrr >= 0.0 && mrr <= 1.0, s"${r.getString(0)} mrr $mrr")
      assert(ndcg >= 0.0 && ndcg <= 1.0, s"${r.getString(0)} ndcg $ndcg")
      // NDCG@5 with full graded credit cannot exceed MRR-style top-credit
      // by construction on identical lists; no cross-lane order is
      // guaranteed, so only the per-lane bounds are pinned
    }
  }
}
