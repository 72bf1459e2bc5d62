package graft

import graft.operators.{DocTerms, HybridSearch, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class HybridSearchSpec extends AnyFunSuite with SparkSpec {

  /** The doc-term table of `dir` with the probe docs (doc_id < nQ). */
  private def probed(dir: String, nQ: Int): DataFrame =
    DocTerms.table(spark, dir).withColumn("is_q", col("doc_id") < nQ)

  private lazy val lex = HybridSearch.bm25RetrieveFromTf(probed(sf, 8), k = 10)

  private def rows(df: DataFrame): Map[Seq[Any], Int] =
    bag(df.collect().toSeq.map(_.toSeq))

  /** The brute-force weights of `sf` and its probe doc ids. */
  private lazy val reference = {
    val ps = Bm25Reference.postingsOf(DocTerms.table(spark, sf))
    (Bm25Reference.weights(ps), ps.map(_.doc).distinct.filter(_ < 8).sorted)
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
    // docs 1-3 hold zzz at descending tf, docs 4-20 only 'common' (every
    // doc but the query is padded to 5 tokens with its own filler). At
    // m=5 the common list is CUT (df=18 > 5) yet the zzz top-2 towers
    // over every bound, so the certificate must fire non-vacuously.
    def pad(i: Long, n: Int) = (1 to n).map(j => s"pad${i}x$j")
    val docs = (Seq(
      (0L, "zzz common"),
      (1L, Seq.fill(5)("zzz").mkString(" ")),
      (2L, (Seq.fill(3)("zzz") ++ pad(2, 2)).mkString(" ")),
      (3L, ("zzz" +: pad(3, 4)).mkString(" "))) ++
      (4L to 20L).map(i => (i, ("common" +: pad(i, 4)).mkString(" "))))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val dir = java.nio.file.Files.createTempDirectory("impact-cert").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val ranked = HybridSearch.rankedTable(spark, dir)
    val qT = HybridSearch.queryTerms(probed(dir, 1))
    val cert = HybridSearch.impactCertificatesFromRanked(ranked, qT, k = 2, m = 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(cert(0L), s"dominant-term top-2 not certified: $cert")
    // vacuity check: the common list IS cut at m=5, so ub_total > 0 —
    // certification came from the bound argument, not a complete index
    val full = HybridSearch.bm25RetrieveFromRanked(ranked, qT, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = HybridSearch.bm25RetrieveImpactFromRanked(ranked, qT, k = 2, m = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == full, "certified top-k set differs from the full index")
    assert(full == Set((0L, 1L), (0L, 2L)), s"unexpected top-2: $full")
  }

  test("every BM25 scorer entry equals a brute-force top-k") {
    // the inline-weight lane (q_hybrid_search), the full scorer over the
    // materialized champions table, and its champion depths — one
    // scorer, pinned to a plain-Scala reference rather than to itself
    val (w, queries) = reference
    val ranks = Bm25Reference.impactRanks(w)
    def expect(keep: ((String, Long)) => Boolean) =
      bag(Bm25Reference.topK(w, queries, 10, keep).map(t => Seq(t._1, t._2, t._3)))
    val ranked = HybridSearch.rankedTable(spark, sf)
    val qT = HybridSearch.queryTerms(probed(sf, 8))
    assert(expect(_ => true).nonEmpty)
    assert(rows(lex) == expect(_ => true), "inline weights")
    assert(rows(HybridSearch.bm25RetrieveFromRanked(ranked, qT, k = 10)) ==
      expect(_ => true), "ranked table")
    Seq(2, 32, 600).foreach { m =>
      assert(rows(HybridSearch.bm25RetrieveImpactFromRanked(ranked, qT, 10, m)) ==
        expect(key => ranks(key) <= m), s"champion depth m=$m")
    }
  }

  test("materialized champions table serves every retrieval lane row-identically") {
    // the champions table (q_bm25_pruned/q_wand/q_bmw's one index
    // build) equals the brute-force weights and impact ranks — decimal
    // weights and ranks survive the parquet round-trip — and both
    // dynamic-pruning audits served from it reach the full top-k in
    // every slot
    val (w, queries) = reference
    val ranks = Bm25Reference.impactRanks(w)
    val mat = HybridSearch.rankedTable(spark, sf)
    assert(rows(mat) == bag(w.toSeq.map { case ((t, d), v) =>
      Seq(t, d, v.bigDecimal, ranks((t, d)).toInt) }))
    val fullSize = Bm25Reference.topK(w, queries, 10, _ => true)
      .groupBy(_._1).map { case (q, xs) => q -> xs.size.toLong }
    val dt = probed(sf, 8)
    def exact(audit: DataFrame) = audit.collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("n_topk_match")).toMap
    assert(exact(HybridSearch.maxScoreAuditFromRanked(mat, dt, k = 10, mSeed = 64)) ==
      fullSize, "maxScore")
    assert(exact(HybridSearch.blockMaxAuditFromRanked(mat, dt, k = 10,
      mSeed = 64, blockSize = 64)) == fullSize, "blockMax")
    graft.operators.OpCaches.releaseAll()
  }

  test("impact certificate: complete champion lists certify every query vacuously") {
    // m >= corpus size: every list is complete, ub_total = 0 everywhere
    val cert = HybridSearch.impactCertificatesFromRanked(
        HybridSearch.rankedTable(spark, sf), HybridSearch.queryTerms(probed(sf, 8)),
        k = 10, m = 100000)
      .collect()
    assert(cert.nonEmpty && cert.forall(_.getBoolean(2)),
      s"vacuous pruning not certified: ${cert.filterNot(_.getBoolean(2)).take(3).toSeq}")
  }

  test("impact certificate is SOUND on real data: certified => pruned set equals full set") {
    val ranked = HybridSearch.rankedTable(spark, sf)
    val qT = HybridSearch.queryTerms(probed(sf, 8))
    def sets(df: DataFrame) = df.collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val full = sets(HybridSearch.bm25RetrieveFromRanked(ranked, qT, k = 10))
    Seq(32, 128, 600).foreach { m =>
      val pruned = sets(HybridSearch.bm25RetrieveImpactFromRanked(ranked, qT, 10, m))
      HybridSearch.impactCertificatesFromRanked(ranked, qT, k = 10, m = m).collect()
        .filter(_.getBoolean(2)).foreach { r =>
          val q = r.getLong(0)
          assert(pruned.get(q) == full.get(q),
            s"m=$m certified query $q but sets differ")
        }
    }
  }
}
