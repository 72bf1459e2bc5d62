package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The learned quality classifier (QualityLr): deterministic training,
  * separation on the real corpus, and the empty-doc/bias edge. */
class QualityLrSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // the teacher signal: TextFns.qualityKeep's band rule — quadratic in
  // the length moments, so it exercises the polynomial-feature lift
  private def keepLabel(asLong: Boolean) = {
    val toks = functions.TextFns.tokens(col("text"))
    val keep = functions.TextFns.qualityKeep(
      length(col("text")).cast("long"), size(toks).cast("long"),
      functions.TextFns.meanWordLen(toks))
    if (asLong) when(keep, 1L).otherwise(0L)
    else when(keep, 1.0).otherwise(0.0)
  }

  test("training is deterministic: two runs, identical model") {
    val docs = Tables.documents(spark, sf)
    val m1 = operators.QualityLr.train(docs, $"text", $"doc_id",
      keepLabel(false), numBuckets = 64, iters = 50)
    val m2 = operators.QualityLr.train(docs, $"text", $"doc_id",
      keepLabel(false), numBuckets = 64, iters = 50)
    assert(m1.bias === m2.bias)
    assert(m1.weights.sameElements(m2.weights))
  }

  test("the distilled classifier tracks the keep rule well above the majority class") {
    val docs = Tables.documents(spark, sf)
    val m = operators.QualityLr.train(docs, $"text", $"doc_id",
      keepLabel(false))
    val scored = operators.QualityLr.score(docs, $"text", $"doc_id",
      keepLabel(true), m).collect()
    val n = scored.length
    val acc = scored.count(r => r.getAs[Long]("pred") == r.getAs[Long]("y"))
      .toDouble / n
    val base = math.max(
      scored.count(_.getAs[Long]("y") == 1L),
      scored.count(_.getAs[Long]("y") == 0L)).toDouble / n
    assert(acc >= 0.9, s"train-set accuracy $acc below 0.9")
    assert(acc > base, s"accuracy $acc does not beat majority class $base")
  }

  test("zero weights score exactly the bias for every doc") {
    val docs = Seq((1L, "en", "alpha beta alpha"), (2L, "de", ""),
      (3L, "en", "beta beta")).toDF("doc_id", "lang", "text")
    val m = operators.QualityLr.Model(0.25,
      new Array[Double](16 + operators.QualityLr.NumMoments), 16)
    val out = operators.QualityLr.score(docs, $"text", $"doc_id",
      when($"lang" === "en", 1L).otherwise(0L), m).collect()
    out.foreach { r =>
      assert(r.getAs[Double]("logit") === 0.25)
      assert(r.getAs[Long]("pred") === 1L)
    }
  }

  test("scoring equals a plain-Scala linear model over the collected features") {
    // the row-local scorer (run-length fold over the doc's sorted
    // buckets, moments inline) must equal the linear model summed over
    // the sparse feature rows, as a multiset, on the real corpus —
    // including repeated-token run-lengths, empty docs, and moments
    val docs = Tables.documents(spark, sf)
    val m = operators.QualityLr.train(docs, $"text", $"doc_id",
      when($"lang" === "en", 1.0).otherwise(0.0), numBuckets = 64,
      iters = 50)
    val lbl = when($"lang" === "en", 1L).otherwise(0L)
    val got = operators.QualityLr.score(docs, $"text", $"doc_id", lbl, m)
      .collect().toSeq
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("y"),
        r.getAs[Double]("logit"), r.getAs[Long]("pred")))
    val labels = docs.select($"doc_id", lbl).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = QualityLrReference.score(
      operators.QualityLr.features(docs, $"text", $"doc_id", m.numBuckets),
      labels, m)
    assert(bag(got) == bag(want),
      s"scorer diverges: onlySpark=${(got.toSet -- want).take(3)} " +
        s"onlyReference=${(want.toSet -- got).take(3)}")
  }

  test("row-local scorer plan is one stateless projection: no join, no shuffle") {
    val docs = Tables.documents(spark, sf)
    val m = operators.QualityLr.Model(0.1,
      Array.fill(64 + operators.QualityLr.NumMoments)(0.01), 64)
    val plan = operators.QualityLr.score(
        docs, $"text", $"doc_id", lit(1L), m)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"deployed scorer must not shuffle or join:\n$plan")
  }
}
