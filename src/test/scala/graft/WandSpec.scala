package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MaxScore dynamic pruning (HybridSearch.maxScoreAuditFromRanked): the batch
  * formulation must return the EXACT full-index top-k (the τ lower
  * bound + essential-split invariant), while genuinely pruning on a
  * skewed corpus. The driver's q_wand hash-checks the full derivation
  * against DuckDB; these tests pin the invariant on corpora built to
  * stress it. */
class WandSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // skewed synthetic corpus: a handful of hot terms in every doc (long
  // posting lists, low idf) + rare discriminative terms — the geometry
  // where MaxScore's essential split actually cuts work
  private def corpus(nDocs: Int) = {
    val docs = (0 until nDocs).map { i =>
      val hot = "alpha beta gamma"
      val rare = s"tok${i % 37} tok${(i * 7) % 37} uniq${i % 113}"
      (i.toLong, "en", s"$hot $rare $hot")
    }
    docs.toDF("doc_id", "lang", "text")
  }

  /** `docs` written as a data dir: its materialized champions table
    * (the lanes' index) and its doc-term table with probes doc_id < 4. */
  private def indexOf(docs: org.apache.spark.sql.DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("wand-spec").toString
    docs.write.parquet(s"$dir/documents.parquet")
    (operators.HybridSearch.rankedTable(spark, dir),
      operators.DocTerms.table(spark, dir).withColumn("is_q", $"doc_id" < 4))
  }

  private def maxScore(docs: org.apache.spark.sql.DataFrame) = {
    val (ranked, tf) = indexOf(docs)
    operators.HybridSearch.maxScoreAuditFromRanked(ranked, tf, k = 10, mSeed = 16)
      .collect()
  }

  test("pruned top-k equals the unpruned lane, slot for slot") {
    val audit = maxScore(corpus(300))
    assert(audit.length === 4)
    audit.foreach { r =>
      assert(r.getAs[Long]("n_topk_match") === 10L,
        s"query ${r.getAs[Long]("query_id")} diverged from the full lane")
    }
  }

  test("the essential split prunes: fewer candidates than corpus, fewer postings than full") {
    val audit = maxScore(corpus(300))
    // τ must exist (>= 10 seed candidates) and at least one query must
    // classify some term non-essential on this skewed geometry
    assert(audit.forall(_.getAs[Double]("tau") > 0.0))
    assert(audit.exists(r =>
      r.getAs[Long]("n_essential") < r.getAs[Long]("n_terms")),
      "no term was ever non-essential — the split is vacuous here")
    assert(audit.exists(_.getAs[Long]("postings_ppm") < 1000000L),
      "no query touched fewer postings than full evaluation")
  }

  test("block-max refinement: still exact, and strictly tighter than MaxScore candidates") {
    // the geometry BMW exists for: τ must land BETWEEN the tail blocks'
    // bound and ub(mid), so "mid" stays essential (MaxScore keeps its
    // whole list as candidates) while its LONG TAIL of tf-1 postings in
    // long docs (100..160, separate docid blocks from the strong docs)
    // carries block-bounds strictly below τ — BMW's refinement, not
    // MaxScore's split, is what drops them. The medium band (14..40,
    // rare-only, mid-strength scores) pins the 10th seed score low
    // enough that mid's prefix clears it.
    val docs = (
      (0L to 3L).map(i => (i, "en", "mid rare")) ++
      (4L to 8L).map(i => (i, "en", "mid mid mid rare rare rare")) ++
      (14L to 40L).map(i => (i, "en",
        "rare " + (0 until 19).map(j => s"junk${(i + j) % 40}").mkString(" "))) ++
      (100L to 160L).map(i => (i, "en",
        "mid " + (0 until 50).map(j => s"junk${(i + j) % 40}").mkString(" "))) ++
      (200L to 299L).map(i => (i, "en",
        (0 until 8).map(j => s"junk${(i + j) % 40}").mkString(" ")))
    ).toDF("doc_id", "lang", "text")
    val (ranked, tf) = indexOf(docs)
    val audit = operators.HybridSearch
      .blockMaxAuditFromRanked(ranked, tf, k = 10, mSeed = 16, blockSize = 16)
      .collect()
    assert(audit.length === 4)
    audit.foreach { r =>
      // dropping strictly-below-τ block-bounds is SAFE: the top-k must
      // still match the unpruned lane slot for slot
      assert(r.getAs[Long]("n_topk_match") === 10L,
        s"query ${r.getAs[Long]("query_id")} lost exactness to block pruning")
      assert(r.getAs[Long]("n_after_blockmax") <= r.getAs[Long]("n_candidates"))
    }
    // on this skewed geometry at small blocks, the per-block bounds must
    // actually prune somewhere — otherwise the refinement is vacuous
    assert(audit.exists(r =>
      r.getAs[Long]("n_after_blockmax") < r.getAs[Long]("n_candidates")),
      "block-max never pruned a candidate — refinement is vacuous here")
  }

  test("the exactness join is not vacuous: a shifted-rank lane matches 0 slots") {
    // Reproduces the shared-lineage hazard HybridSearch.topkMatch's
    // rename-projection guards against: both sides descend from ONE
    // frame, so a df("c") === df2("c") condition would resolve to the
    // same attribute and become trivially true (Spark warns; every slot
    // "matches"). The count must genuinely compare rows — a doctored
    // full lane whose ranks are shifted by one matches NOTHING.
    val base = (1L to 20L).toDF("doc_id")
      .withColumn("query_id", $"doc_id" % 4)
    // one posting per (query, doc), weight falling with doc_id: the
    // rescore ranks each query's docs in doc_id order
    val rescore = base.select($"query_id", $"doc_id",
      (lit(100L) - $"doc_id").cast("decimal(18,6)").as("w"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"doc_id")
    val full = base.select($"query_id", $"doc_id",
      row_number().over(byDoc).cast("long").as("lex_rank"))
    def matched(f: org.apache.spark.sql.DataFrame): Long =
      operators.HybridSearch.topkMatch(rescore, f, k = 10)
        .agg(coalesce(sum($"n_topk_match"), lit(0L))).head().getLong(0)
    assert(matched(full.withColumn("lex_rank", $"lex_rank" + 1)) === 0L,
      "shifted ranks must not match — the join compares rows, not lineage")
    assert(matched(full) === 20L)
  }

  test("degenerate corpus (fewer docs than k): no τ, no pruning, still exact") {
    val audit = maxScore(corpus(8))
    audit.foreach { r =>
      assert(r.getAs[Double]("tau") === 0.0)
      assert(r.getAs[Long]("n_essential") === r.getAs[Long]("n_terms"))
      // every non-query doc scores on some shared term -> full recall
      assert(r.getAs[Long]("n_topk_match") ===
        math.min(10L, r.getAs[Long]("n_candidates")))
    }
  }
}
