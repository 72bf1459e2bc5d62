package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r15 audit lanes — q_burstiness (Fano factor), q_uplift (segmented
  * treatment effect), q_ngram_novelty (split gram overlap): the DuckDB
  * oracle pins exact values on the real tables; these pin the
  * DEFINITIONS on fixtures where the expected numbers are computable
  * by hand. */
class CorpusAuditsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("burstiness: even token has vmr 0, bursty token has vmr (N·ΣC²−ΣC²)/(N·ΣC)") {
    // 4 docs: "even" once per doc → counts [1,1,1,1], variance 0;
    // "bursty" 4 times in one doc → counts [4,0,0,0]:
    // vmr = (4·16 − 16) / (4·4) = 3.0
    val dir = tmpDir("burst_")
    // the real documents columns: the lane reads the doc-term table,
    // whose build carries lang through
    Seq(
      (1L, "even bursty bursty bursty bursty"),
      (2L, "even"), (3L, "even"), (4L, "even"))
      .map { case (id, text) => (id, text, "en", "src0", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_burstiness")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(rows("even") == ((4L, 4L, 0.0)))
    assert(rows("bursty") == ((1L, 4L, 3.0)))
    graft.Fs.deleteRec(java.nio.file.Paths.get(dir))
  }

  test("uplift: exact arm counts, rates, and uplift on a planted assignment") {
    // assignment is md5(custkey) % 100 < 50 — recompute it here and
    // plant conversions so each arm's rate is known exactly
    val dir = tmpDir("uplift_")
    val keys = (1L to 400L).toDF("c_custkey")
      .withColumn("treated", graft.operators.Sampling.hashBucket($"c_custkey") < 50)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1))
    val treated = keys.filter(_._2).map(_._1)
    val control = keys.filterNot(_._2).map(_._1)
    keys.toSeq.map { case (k, _) => (k, "SEG") }
      .toDF("c_custkey", "c_mktsegment")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // convert the first half of the treated arm and the first quarter
    // of control, all inside the 1997H1 window; one extra order outside
    // the window must NOT count
    val convT = treated.sorted.take(treated.length / 2)
    val convC = control.sorted.take(control.length / 4)
    val inWin = java.sql.Timestamp.valueOf("1997-03-01 00:00:00")
    val outWin = java.sql.Timestamp.valueOf("1998-03-01 00:00:00")
    ((convT ++ convC).zipWithIndex.map { case (c, i) => (i.toLong, c, inWin) } :+
      ((convT.length + convC.length).toLong, control.max, outWin))
      .toSeq
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
      .withColumn("o_orderstatus", lit("O"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q_uplift")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(1) == treated.length && row.getLong(2) == control.length)
    assert(row.getLong(3) == convT.length && row.getLong(4) == convC.length)
    val rt = 1000000L * convT.length / treated.length
    val rc = 1000000L * convC.length / control.length
    assert(row.getLong(5) == rt && row.getLong(6) == rc)
    assert(row.getLong(7) == rt - rc)
    graft.Fs.deleteRec(java.nio.file.Paths.get(dir))
  }

  test("ngram novelty: a copied test doc is fully seen, a unique one fully novel") {
    // pick real bucket membership from the production hash so the
    // fixture plants docs into known splits
    val dir = tmpDir("novel_")
    val buckets = (1L to 500L).toDF("id")
      .select($"id", graft.operators.Sampling.hashBucket($"id").as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val testIds = buckets.filter(_._2 < 10).map(_._1).take(2)
    val trainIds = buckets.filter(_._2 >= 20).map(_._1).take(1)
    assert(testIds.length == 2 && trainIds.length == 1)
    val shared = "alpha beta gamma delta epsilon zeta eta" // 3 distinct 5-grams
    val unique = "one two three four five six"             // 2 distinct 5-grams
    Seq(
      (trainIds(0), shared),
      (testIds(0), shared),  // every gram seen in train
      (testIds(1), unique))  // every gram novel
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_ngram_novelty")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // test split: 3 shared + 2 unique distinct grams, 3 overlap train
    assert(rows("test") == ((5L, 3L, 1000000L * 2 / 5)))
    assert(!rows.contains("val")) // no val docs planted
    graft.Fs.deleteRec(java.nio.file.Paths.get(dir))
  }
}
