package graft

import graft.operators.{Similarity, SqAnn}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQ8 flat ANN: code algebra on closed-form corpora, recall vs the
  * exact brute-force lane, and degenerate-dimension safety. */
class SqAnnSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def vecs(rows: Seq[(Long, Array[Float])]) =
    rows.toDF("vec_id", "embedding")

  test("codes hit the rail values: min->0, max->255, midpoint->127") {
    val corpus = vecs(Seq(
      (1L, Array.fill(64)(0.0f)),
      (2L, Array.fill(64)(1.0f)),
      (3L, Array.fill(64)(0.5f))))
    val stats = SqAnn.dimStats(corpus)
    val codes = corpus.crossJoin(broadcast(stats))
      .select($"vec_id", $"embedding".as("c_emb"), $"mn_arr", $"mx_arr")
      .select($"vec_id", expr(
        """transform(sequence(1, 64), j ->
          |  CASE WHEN element_at(mx_arr, j) = element_at(mn_arr, j)
          |    THEN CAST(0 AS BIGINT)
          |    ELSE least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),
          |      CAST(floor((CAST(element_at(c_emb, j) AS DOUBLE)
          |          - element_at(mn_arr, j)) * 255.0
          |        / (element_at(mx_arr, j) - element_at(mn_arr, j)))
          |        AS BIGINT))) END)""".stripMargin).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes(1L).forall(_ == 0L))
    assert(codes(2L).forall(_ == 255L))
    assert(codes(3L).forall(_ == 127L)) // floor(0.5 * 255)
  }

  test("constant dimensions take the guarded zero-code branch") {
    // dim 0 constant across the corpus, others vary
    val corpus = vecs(Seq(
      (1L, (Array(7.0f) ++ Array.fill(63)(0.0f))),
      (2L, (Array(7.0f) ++ Array.fill(63)(1.0f))),
      (3L, (Array(7.0f) ++ Array.fill(63)(0.25f)))))
    // must not divide by zero; top-k still well-defined
    val got = SqAnn.topK(corpus.filter($"vec_id" === 1L), corpus,
      shortlist = 2, k = 1).collect()
    assert(got.length == 1 && got.head.getAs[Long]("cand_id") != 1L)
  }

  test("sq8 top-5 recalls the brute-force top-5 through a 20-shortlist") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" % 100 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) = bag(df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))))
    val truth = pairs(Similarity.bruteForceTopK(q, e, k = 5))
    val got = pairs(SqAnn.topK(q, e, shortlist = 20, k = 5))
    val recall = got.map { case (pair, c) => c * truth.getOrElse(pair, 0) }
      .sum.toDouble / truth.values.sum
    assert(recall >= 0.8, s"sq8 recall@5 $recall vs exact")
  }

  test("spilled SQ8 lane == plain spilled lane when the shortlist covers every candidate") {
    // r15 frontier combo: the SQ8 code scan inside the spilled index
    // changes bandwidth, not candidates — with shortlist >= corpus the
    // exact rerank sees every visited pair, so (query, cand, cosine,
    // rank) must equal the spilled IvfAnn.topK's exactly, and both the
    // exact reference over the probed cells (as multisets: a pair met
    // in two shared cells must surface once)
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 10)
    val model = graft.operators.IvfAnn.train(e, "vec_id", "embedding", k = 32)
    val plain = bag(AnnReference.rows(graft.operators.IvfAnn.topK(q, e, k = 5,
      model, nProbe = 6, spill = 2)))
    val sq8 = bag(AnnReference.rows(SqAnn.topKSpillSq8(q, e, k = 5, model,
      nProbe = 6, spill = 2, shortlist = Int.MaxValue)))
    assert(sq8 == plain,
      s"missing=${(plain.toSet -- sq8.toSet).take(3)} extra=${(sq8.toSet -- plain.toSet).take(3)}")
    def cells(df: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column) =
      df.select($"vec_id", c).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
    val probed = cells(q, graft.operators.IvfAnn.probeCells($"embedding", model, 6))
    val held = cells(e, graft.operators.IvfAnn.assignCells($"embedding", model, 2))
    assert(sq8 == bag(AnnReference.topK(AnnReference.vectors(q),
      AnnReference.vectors(e), k = 5)((a, b) => (probed(a) & held(b)).nonEmpty)))
  }

  test("flat SQ8 with a full shortlist equals the exact reference") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" % 50 === 0)
    val got = SqAnn.topK(q, e, shortlist = Int.MaxValue, k = 5)
    assert(bag(AnnReference.rows(got)) == bag(AnnReference.topK(
      AnnReference.vectors(q), AnnReference.vectors(e), k = 5)((_, _) => true)))
  }

  test("approx scores order like true scores at the top (rank-1 agreement)") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" % 100 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) = bag(df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))))
    assert(pairs(SqAnn.topK(q, e, shortlist = 20, k = 1)) ==
      pairs(Similarity.bruteForceTopK(q, e, k = 1)),
      "exact rerank over the shortlist must pin rank 1")
  }
}
