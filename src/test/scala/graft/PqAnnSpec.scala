package graft

import graft.operators.{IvfAnn, PqAnn}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PqAnnSpec extends AnyFunSuite with SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf)
  private lazy val pq = PqAnn.train(emb, "vec_id", "embedding", m = 4, ksub = 16)
  private lazy val coarse = IvfAnn.train(emb, "vec_id", "embedding", k = 16)

  test("training is deterministic and shapes are m x ksub x d/m") {
    val again = PqAnn.train(emb, "vec_id", "embedding", m = 4, ksub = 16)
    assert(pq.m == 4 && pq.ksub <= 16 && pq.dsub == 16)
    assert(pq.codebooks.flatten.flatten.toSeq == again.codebooks.flatten.flatten.toSeq)
  }

  test("kernel codes agree with a driver-side argmin-L2 encode") {
    import spark.implicits._
    val got = emb.select($"vec_id", PqAnn.codes($"embedding", pq).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val rows = emb.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    rows.foreach { case (id, v) =>
      val expect = (0 until pq.m).map { sub =>
        val off = sub * pq.dsub
        pq.codebooks(sub).zipWithIndex.map { case (c, code) =>
          var d2 = 0.0
          var j = 0
          while (j < pq.dsub) { val t = v(off + j) - c(j); d2 += t * t; j += 1 }
          (d2, code)
        }.minBy(x => (x._1, x._2))._2
      }
      assert(got(id) == expect, s"vec $id")
    }
  }

  test("ADC distance equals the table-free PQ distance, and approximates L2") {
    import spark.implicits._
    val res = PqAnn.adcTopK(emb.filter($"vec_id" < 5), emb, k = 5, coarse,
      pq, nProbe = 4).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val adc = r.getAs[Double]("adc_dist")
      val exact = r.getAs[Double]("exact_dist")
      // quantization only ever loses within-cell detail; for top
      // neighbors the ADC estimate must be in the right ballpark
      assert(adc > 0 && exact > 0)
      assert(adc < exact * 3 + 1.0 && exact < adc * 3 + 1.0,
        s"adc $adc vs exact $exact implausibly far apart")
    }
    // ranks are 1..k per query, no gaps
    val byQ = res.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.sameElements(1L to rs.length))
    }
  }

  test("rerank with a full shortlist is row-identical to exact IVF topK") {
    // With shortlist >= the whole candidate pool, the ADC stage keeps
    // everything and the exact-cosine rerank IS IvfAnn.topK over the
    // same probed cells — the two lanes must agree bit-for-bit, and both
    // equal the exact reference over those cells (as multisets).
    import spark.implicits._
    val q = emb.filter($"vec_id" < 5)
    val n = emb.count().toInt
    val rerank = bag(AnnReference.rows(PqAnn.adcRerankTopK(q, emb, k = 5,
      shortlist = n, coarse, pq, nProbe = 4)))
    assert(rerank == bag(AnnReference.rows(
      IvfAnn.topK(q, emb, k = 5, coarse, nProbe = 4, spill = 1))))
    val probed = q.select($"vec_id", IvfAnn.probeCells($"embedding", coarse, 4))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
    val cell = emb.select($"vec_id", IvfAnn.assignCell($"embedding", coarse))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rerank == bag(AnnReference.topK(AnnReference.vectors(q),
      AnnReference.vectors(emb), k = 5)((a, b) => probed(a)(cell(b)))))
  }

  test("rerank recall against bruteforce is monotone in the shortlist") {
    // S(r1) ⊆ S(r2) for r1 <= r2, and any global-top-5 member present in
    // a shortlist always survives its exact-cosine top-5 (only other
    // global-top-5 members can outrank it) — so hits = |S ∩ top5| is
    // monotone in the shortlist size. This is the property that makes
    // the shortlist a pure recall/cost knob.
    import spark.implicits._
    val q = emb.filter($"vec_id" < 10)
    val brute = operators.Similarity.bruteForceTopK(q, emb, k = 5)
      .select($"query_id", $"cand_id")
    def hits(shortlist: Int): Long =
      PqAnn.adcRerankTopK(q, emb, k = 5, shortlist, coarse, pq, nProbe = 4)
        .select($"query_id", $"cand_id")
        .join(brute, Seq("query_id", "cand_id")).count()
    val h = Seq(5, 20, 100).map(hits)
    assert(h == h.sorted, s"recall not monotone in shortlist: $h")
  }

  test("ADC error is bounded by the candidate's reconstruction error") {
    // The exact PQ guarantee (data-independent): adc = ‖q − recon(x)‖²,
    // so by the triangle inequality |√adc − √exact| ≤ ‖x − recon(x)‖.
    // (The synthetic embeddings are geometric noise — label and L2
    // neighborhoods are unrelated — so recall-style metrics are
    // meaningless here; the distance-estimate bound is the property.)
    import spark.implicits._
    val res = PqAnn.adcTopK(emb.filter($"vec_id" < 20), emb, k = 5, coarse,
      pq, nProbe = 4).collect()
    assert(res.nonEmpty)
    val vecs = emb.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    val codesOf = emb.select($"vec_id", PqAnn.codes($"embedding", pq).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    res.foreach { r =>
      val cand = r.getAs[Long]("cand_id")
      val v = vecs(cand)
      var reconSq = 0.0
      (0 until pq.m).foreach { sub =>
        val c = pq.codebooks(sub)(codesOf(cand)(sub))
        var j = 0
        while (j < pq.dsub) {
          val t = v(sub * pq.dsub + j) - c(j); reconSq += t * t; j += 1
        }
      }
      val gap = math.abs(math.sqrt(r.getAs[Double]("adc_dist")) -
        math.sqrt(r.getAs[Double]("exact_dist")))
      assert(gap <= math.sqrt(reconSq) + 1e-4,
        s"cand $cand: |sqrt-adc − sqrt-exact| $gap exceeds recon error " +
          s"${math.sqrt(reconSq)}")
    }
  }
}
