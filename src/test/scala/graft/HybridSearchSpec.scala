package graft

import graft.operators.{HybridSearch, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class HybridSearchSpec extends AnyFunSuite with SparkSpec {

  private lazy val lex = {
    import spark.implicits._
    HybridSearch.bm25Retrieve(
      Tables.documents(spark, sf), $"text", $"doc_id", $"doc_id" < 8, k = 10)
  }

  private lazy val vec = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    Similarity.bruteForceTopK(e.filter($"vec_id" < 8), e, k = 10)
      .select($"query_id", $"cand_id".as("doc_id"), $"rank".as("vec_rank"))
  }

  test("bm25Retrieve: never returns the query doc itself, ranks are dense from 1") {
    import spark.implicits._
    val rows = lex.collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(r => r.getAs[Long]("query_id") == r.getAs[Long]("doc_id")))
    val perQ = rows.groupBy(_.getAs[Long]("query_id"))
    perQ.foreach { case (q, rs) =>
      val ranks = rs.map(_.getAs[Long]("lex_rank")).sorted
      assert(ranks.toSeq == (1L to ranks.length).toSeq, s"gap in ranks for query $q")
      assert(ranks.length <= 10)
    }
  }

  test("rrfFuse: rrf_ppm is exactly the integer formula over the lane ranks") {
    val fused = HybridSearch.rrfFuse(lex, vec, k = 5).collect()
    assert(fused.nonEmpty)
    fused.foreach { r =>
      val l = r.getAs[Long]("lex_rank")
      val v = r.getAs[Long]("vec_rank")
      val expected = (if (l > 0) 1000000L / (60L + l) else 0L) +
        (if (v > 0) 1000000L / (60L + v) else 0L)
      assert(r.getAs[Long]("rrf_ppm") == expected)
    }
  }

  test("rrfFuse: output is ordered by rrf desc with doc-id tiebreak, top-5 per query") {
    val fused = HybridSearch.rrfFuse(lex, vec, k = 5).collect()
      .groupBy(_.getAs[Long]("query_id"))
    fused.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.length <= 5)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val (pa, pb) = (a.getAs[Long]("rrf_ppm"), b.getAs[Long]("rrf_ppm"))
          assert(pa > pb ||
            (pa == pb && a.getAs[Long]("doc_id") < b.getAs[Long]("doc_id")))
        case _ =>
      }
    }
  }

  test("rrfFuse: every fused doc came from at least one lane's top-k") {
    val laneDocs = (lex.select(col("query_id"), col("doc_id")) unionAll
      vec.select(col("query_id"), col("doc_id"))).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fused = HybridSearch.rrfFuse(lex, vec, k = 5).collect()
    fused.foreach { r =>
      assert(laneDocs.contains(
        (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"))))
    }
  }

  test("a doc present in BOTH lanes outranks one with only a strictly worse single lane") {
    // rrf(l, v) with both lanes > rrf from a single lane at any rank ≥
    // the better of the two: 1/(60+l)+1/(60+v) > 1/(60+min(l,v))… not in
    // general — so pin the concrete dominance RRF does guarantee:
    // same lex rank, better vec rank ⇒ strictly higher rrf_ppm.
    val fused = HybridSearch.rrfFuse(lex, vec, k = 1000)
      .collect().groupBy(_.getAs[Long]("query_id"))
    fused.foreach { case (_, rs) =>
      for {
        a <- rs; b <- rs
        if a.getAs[Long]("lex_rank") == b.getAs[Long]("lex_rank")
        if a.getAs[Long]("lex_rank") > 0
        if a.getAs[Long]("vec_rank") > 0 && b.getAs[Long]("vec_rank") > 0
        if a.getAs[Long]("vec_rank") < b.getAs[Long]("vec_rank")
      } assert(a.getAs[Long]("rrf_ppm") > b.getAs[Long]("rrf_ppm"))
    }
  }

  test("impact certificate: a rare dominant term certifies a CUT index non-vacuously") {
    import spark.implicits._
    // query 0 carries 'zzz' (rare, high idf) and 'common' (everywhere);
    // docs 1-3 hold zzz at descending tf, docs 4-20 only 'common'. At
    // m=5 the common list is CUT (df=18 > 5) yet the zzz top-2 towers
    // over every bound, so the certificate must fire non-vacuously.
    val tf = (Seq(
      (0L, "zzz", 1L, 2L, true), (0L, "common", 1L, 2L, true),
      (1L, "zzz", 5L, 5L, false), (2L, "zzz", 3L, 5L, false),
      (3L, "zzz", 1L, 5L, false)) ++
      (4L to 20L).map(i => (i, "common", 1L, 5L, false)))
      .toDF("doc_id", "term", "tf", "dl", "is_q")
    val cert = HybridSearch.impactCertificates(tf, k = 2, m = 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(cert(0L), s"dominant-term top-2 not certified: $cert")
    // vacuity check: the common list IS cut at m=5, so ub_total > 0 —
    // certification came from the bound argument, not a complete index
    val full = HybridSearch.bm25RetrieveFromTf(tf, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = HybridSearch.bm25RetrieveImpactFromTf(tf, k = 2, m = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == full, "certified top-k set differs from the full index")
  }

  test("shared-ranked (persisted) forms are row-identical to the per-call forms") {
    import spark.implicits._
    // r17: q_bm25_pruned serves all sub-lanes from ONE persisted
    // champion derivation (impactAuditParts) — every FromRanked form
    // must reproduce its per-call counterpart exactly
    val dt = graft.operators.DocTerms.table(spark, sf)
      .withColumn("is_q", $"doc_id" < 8)
    val (ranked, qT) = HybridSearch.impactAuditParts(dt)
    // multisets (row -> count): a duplicated or dropped row must fail
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    assert(rows(HybridSearch.bm25RetrieveFromRanked(ranked, qT, k = 10)) ==
      rows(HybridSearch.bm25RetrieveFromTf(dt, k = 10)))
    Seq(32, 600).foreach { m =>
      assert(rows(HybridSearch.bm25RetrieveImpactFromRanked(ranked, qT, 10, m)) ==
        rows(HybridSearch.bm25RetrieveImpactFromTf(dt, 10, m)), s"impact m=$m")
      assert(rows(HybridSearch.impactCertificatesFromRanked(ranked, qT, 10, m)) ==
        rows(HybridSearch.impactCertificates(dt, 10, m)), s"cert m=$m")
    }
    graft.operators.OpCaches.releaseAll()
  }

  test("materialized champions table serves every retrieval lane row-identically") {
    import spark.implicits._
    // r19: q_bm25_pruned/q_wand/q_bmw serve their index side from ONE
    // DerivedCache parquet table (HybridSearch.rankedTable). Pin (a)
    // the table itself row-identical to the inline champion derivation
    // (decimal weights and ranks survive the parquet round-trip), and
    // (b) each audit's FromRanked form over the materialized table
    // identical to its inline-tf counterpart.
    val dt = graft.operators.DocTerms.table(spark, sf)
      .withColumn("is_q", $"doc_id" < 8)
    val mat = HybridSearch.rankedTable(spark, sf)
    val (inlineRanked, qT) = HybridSearch.impactAuditParts(dt)
    // multisets (row -> count): a duplicated or dropped row must fail
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    assert(rows(mat) == rows(inlineRanked), "materialized != inline champions")
    assert(rows(HybridSearch.bm25RetrieveFromRanked(mat, qT, k = 10)) ==
      rows(HybridSearch.bm25RetrieveFromRanked(inlineRanked, qT, k = 10)))
    assert(rows(HybridSearch.maxScoreAuditFromRanked(mat, dt, k = 10, mSeed = 64)) ==
      rows(HybridSearch.maxScoreAudit(dt, k = 10, mSeed = 64)), "maxScore")
    assert(rows(HybridSearch.blockMaxAuditFromRanked(mat, dt, k = 10,
        mSeed = 64, blockSize = 64)) ==
      rows(HybridSearch.blockMaxAudit(dt, k = 10, mSeed = 64,
        blockSize = 64)), "blockMax")
    graft.operators.OpCaches.releaseAll()
  }

  test("impact certificate: complete champion lists certify every query vacuously") {
    import spark.implicits._
    val dt = graft.operators.DocTerms.table(spark, sf)
      .withColumn("is_q", $"doc_id" < 8)
    // m >= corpus size: every list is complete, ub_total = 0 everywhere
    val cert = HybridSearch.impactCertificates(dt, k = 10, m = 100000)
      .collect()
    assert(cert.nonEmpty && cert.forall(_.getBoolean(2)),
      s"vacuous pruning not certified: ${cert.filterNot(_.getBoolean(2)).take(3).toSeq}")
  }

  test("impact certificate is SOUND on real data: certified => pruned set equals full set") {
    import spark.implicits._
    val dt = graft.operators.DocTerms.table(spark, sf)
      .withColumn("is_q", $"doc_id" < 8)
    val full = HybridSearch.bm25RetrieveFromTf(dt, k = 10)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    Seq(32, 128, 600).foreach { m =>
      val pruned = HybridSearch.bm25RetrieveImpactFromTf(dt, k = 10, m = m)
        .collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
      HybridSearch.impactCertificates(dt, k = 10, m = m).collect()
        .filter(_.getBoolean(2)).foreach { r =>
          val q = r.getLong(0)
          assert(pruned.get(q) == full.get(q),
            s"m=$m certified query $q but sets differ")
        }
    }
  }
}
