package graft

import graft.operators.{DerivedCache, Dedup, DedupClusters, MinhashTables}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** The derived MinHash-LSH tables equal the inline operators at the lanes'
  * operating point, as multisets, in both clique regimes — the pairs the
  * inline LSH pairs, the clusters the CC over those pairs — and they are
  * built once per documents.parquet fingerprint. */
class MinhashTablesSpec extends AnyFunSuite with SparkSpec {

  private val p = MinhashTables.point

  private def rows(df: DataFrame): Map[Row, Int] = bag(df.collect().toSeq)

  private def inlinePairs(docs: DataFrame): DataFrame = {
    import spark.implicits._
    Dedup.minhashLshPairs(docs, $"text", $"doc_id",
      p.shingleK, p.numHashes, p.bands, p.threshold)
  }

  private def inlineClusters(docs: DataFrame): DataFrame = {
    import spark.implicits._
    DedupClusters.clusters(inlinePairs(docs), $"id_a", $"id_b").labels
  }

  /** The clique corpus of DedupClustersSpec: 6 copies each of 5 texts
    * (two of them near-dups of each other), one token-less doc and one
    * unique doc — the collapsed regime. `extra` appends one more doc. */
  private def cliqueCorpus(extra: Boolean): DataFrame = {
    import spark.implicits._
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta eta theta",
      "alpha beta gamma delta epsilon zeta eta iota",
      "one two three four five six seven eight nine ten",
      "lorem ipsum dolor sit amet consectetur adipiscing elit",
      "completely different content about distributed shuffles")
    val docs = for {
      (t, ti) <- texts.zipWithIndex; c <- 0 until 6
    } yield ((ti * 100 + c).toLong, t)
    val more = if (extra) Seq((9200L, "alpha beta gamma delta epsilon zeta eta kappa"))
      else Seq.empty
    (docs ++ Seq((9000L, "!!! ??? ..."),
      (9100L, "a single unique document with its own words entirely")) ++ more)
      .toDF("doc_id", "text")
  }

  private def withCorpusDir(f: String => Unit): Unit = {
    val d = java.nio.file.Files.createTempDirectory("minhash-tables-spec")
    try f(d.toString) finally Fs.deleteRec(d)
  }

  private def assertDerivedEqualsInline(dir: String): Unit = {
    val docs = Tables.documents(spark, dir)
    val pairs = rows(inlinePairs(docs))
    assert(pairs.nonEmpty, "corpus must contain near-dup pairs")
    assert(rows(MinhashTables.pairs(spark, dir)) == pairs)
    val clusters = rows(inlineClusters(docs))
    assert(rows(MinhashTables.clusters(spark, dir)) == clusters)
  }

  test("direct side (sf0.001): derived pairs and clusters equal the inline operators") {
    assertDerivedEqualsInline(sf)
  }

  test("collapsed side (clique corpus): derived pairs and clusters equal the inline operators") {
    withCorpusDir { dir =>
      cliqueCorpus(extra = false).write.parquet(s"$dir/documents.parquet")
      assertDerivedEqualsInline(dir)
    }
  }

  test("one build per fingerprint: a rewrite rebuilds once, a second read builds nothing") {
    withCorpusDir { dir =>
      val docs = s"$dir/documents.parquet"
      def builds(f: => Unit): Long = {
        val b0 = DerivedCache.birthSeq
        f
        DerivedCache.birthSeq - b0
      }
      def readBoth(): Unit = {
        MinhashTables.pairs(spark, dir).collect()
        MinhashTables.clusters(spark, dir).collect()
      }
      cliqueCorpus(extra = false).write.parquet(docs)
      // verified + members (one LSH core), pairs, clusters
      assert(builds(readBoth()) == 4)
      assert(builds(readBoth()) == 0)
      cliqueCorpus(extra = true).write.mode("overwrite").parquet(docs)
      assert(builds(readBoth()) == 4)
      assert(builds(readBoth()) == 0)
      assertDerivedEqualsInline(dir)
    }
  }
}
