package graft

import graft.operators.DocTerms
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The materialized doc-term table must be row-identical to the inline
  * derivation (parquet round-trips long/string exactly), and the FromTf
  * consumer paths must equal their raw-text forms. */
class DocTermsSpec extends AnyFunSuite with SparkSpec {

  private def key(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), col("lang"), col("term"), col("tf"), col("dl"))
      .collect().map(_.toSeq).toSet

  test("materialized doc-term table equals the inline derivation") {
    val inline = DocTerms.of(Tables.documents(spark, sf))
    val mat = DocTerms.table(spark, sf)
    assert(key(mat) == key(inline))
  }

  test("BM25 from the derived table equals BM25 from raw text") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val a = operators.Bm25.topTerms(docs, $"text", $"doc_id", k = 3)
      .collect().map(_.toSeq).toSet
    val b = operators.Bm25.topTermsFromTf(DocTerms.table(spark, sf), k = 3)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("TF-IDF from the derived table equals TF-IDF from raw text") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val a = operators.TfIdf.topTerms(docs, $"text", $"doc_id", k = 3)
      .collect().map(_.toSeq).toSet
    val b = operators.TfIdf.topTermsFromTf(DocTerms.table(spark, sf),
        docs.select(count(lit(1)).as("n_docs")), k = 3)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("incremental refresh equals a full rebuild for an append-only doc delta") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val base = docs.filter($"doc_id" % 20 =!= 0)
    val delta = docs.filter($"doc_id" % 20 === 0)
    val refreshed = DocTerms.refreshed(DocTerms.of(base), delta)
    assert(key(refreshed) == key(DocTerms.of(docs)))
  }

  test("BM25 retrieval from the derived table equals the raw-text lane") {
    import spark.implicits._
    // the raw-text side is a plain-Scala tokenize + brute-force BM25
    // (Bm25Reference), independent of the doc-term build
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq
    val ps = Bm25Reference.postingsOfText(docs)
    val queries = ps.map(_.doc).distinct.filter(_ < 8).sorted
    val expected = bag(Bm25Reference.topK(Bm25Reference.weights(ps), queries, 10,
      _ => true).map(t => Seq(t._1, t._2, t._3)))
    val got = bag(operators.HybridSearch.bm25RetrieveFromTf(
        DocTerms.table(spark, sf).withColumn("is_q", $"doc_id" < 8), k = 10)
      .collect().toSeq.map(_.toSeq))
    assert(expected.nonEmpty && got == expected)
  }
}
