package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Learned quality classifier — the fasttext-style discriminative
  * filter of the GPT-3/CCNet pipelines (Brown et al. 2020 §2.2 train a
  * logistic classifier against a high-quality reference and keep
  * documents by its score). [[Dsir]] is the GENERATIVE side of data
  * selection (importance weights from two hashed-ngram distributions);
  * this is the DISCRIMINATIVE side: logistic regression over hashed
  * bag-of-words counts PLUS first/second length-moment features
  * (n_chars, n_tokens, mean word length and their squares — band-shaped
  * keep rules like [[graft.functions.TextFns.qualityKeep]]'s
  * min≤x≤max are not linearly separable in raw counts but are exactly
  * linear in (x, x²), the standard polynomial-feature lift).
  *
  * Training follows the repo's bounded-sample discipline ([[IvfAnn]]'s
  * scaladoc: quantizer training is the part that does not distribute;
  * FAISS trains the same way — and production quality classifiers train
  * on a bounded labeled sample, then score the corpus): a deterministic
  * id-ordered sample of ≤ `maxSample` docs' SPARSE features is
  * collected, standardized, and fit by full-batch GD on the driver
  * (fixed iteration count, fixed doc order — bit-deterministic).
  * Standardization then FOLDS exactly into the model
  * (w′_f = w_f/σ_f, b′ = b − Σ_f w_f·μ_f/σ_f, using x·0 terms
  * vanishing), so the deployed scorer is a plain linear function of
  * raw features.
  *
  * SCORING is distributed and engine-exact (the kmeansOracle recipe:
  * trained weights as SQL literals): logit = round-8 DECIMAL sum of
  * w′_f·x_f plus b′, rounded to 6 — order-independent, replayed
  * bit-identically by DuckDB. Scale shape: [[score]] is one row-local
  * projection with the model as a literal — one corpus pass, no
  * shuffle. */
object QualityLr {

  /** Number of engineered moment features appended after the B hashed
    * buckets: n_chars/100, (n_chars/100)², n_tokens/10, (n_tokens/10)²,
    * mean word length, mwl². */
  val NumMoments = 6

  /** A trained classifier in FOLDED form: effective weight per raw
    * feature (buckets 0..B-1 hashed counts, B..B+5 moments) + bias. */
  final case class Model(bias: Double, weights: Array[Double],
                         numBuckets: Int)

  /** Sparse raw features: (doc_id, bucket, x). Buckets < numBuckets are
    * md5-hashed unigram counts; numBuckets..+5 the moment features
    * (each rounded at 8 so both engines carry identical doubles). Every
    * doc emits its 6 moment rows. */
  def features(docs: DataFrame, text: Column, id: Column,
               numBuckets: Int): DataFrame = {
    val toks = docs.select(id.as("doc_id"), text.as("text"),
      graft.functions.TextFns.tokens(text).as("toks"))
    val counts = toks
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .select(col("doc_id"),
        Dsir.bucketOf(col("term"), numBuckets).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).cast(DoubleType).as("x"))
    val m = toks.select(col("doc_id"),
      (length(col("text")).cast(DoubleType) / 100.0).as("m0"),
      graft.functions.TextFns.meanWordLen(col("toks")).as("mwl"),
      (size(col("toks")).cast(DoubleType) / 10.0).as("m2"))
    val moments = m.select(col("doc_id"),
      array(round(col("m0"), 8), round(col("m0") * col("m0"), 8),
        round(col("m2"), 8), round(col("m2") * col("m2"), 8),
        round(col("mwl"), 8), round(col("mwl") * col("mwl"), 8)).as("ms"))
      .select(col("doc_id"), posexplode(col("ms")).as(Seq("j", "x")))
      .select(col("doc_id"),
        (col("j") + numBuckets).cast(LongType).as("bucket"), col("x"))
    counts.unionByName(moments)
  }

  /** Bounded-sample driver-side training; `label` must be 0/1. The
    * sample is the `maxSample` LOWEST doc ids (deterministic — the
    * IvfAnn sampling rule), features standardized over the sample,
    * full-batch GD with a fixed iteration count, then the
    * standardization folded into the returned raw-feature model. */
  def train(docs: DataFrame, text: Column, id: Column, label: Column,
            numBuckets: Int = 256, iters: Int = 2000, lr: Double = 1.0,
            maxSample: Int = 4096): Model = {
    val f = numBuckets + NumMoments
    val sampleIds = docs.select(id.cast(LongType).as("doc_id"),
        label.cast(DoubleType).as("y"))
      .orderBy(col("doc_id")).limit(maxSample).collect()
    val ids = sampleIds.map(_.getLong(0))
    val idSet = ids.toSet
    val idx = ids.zipWithIndex.toMap
    val y = sampleIds.map(_.getDouble(1))
    val n = ids.length
    require(n > 0, "quality-classifier training sample is empty")
    val idsDf = {
      val ss = docs.sparkSession
      import ss.implicits._
      ids.toSeq.toDF("doc_id")
    }
    // only the bounded sample's sparse rows ever reach the driver
    val feats = features(docs, text, id, numBuckets)
      .join(broadcast(idsDf), Seq("doc_id"), "left_semi")
      .collect()
    val x = Array.fill(n)(new Array[Double](f))
    feats.foreach { r =>
      val d = r.getLong(0)
      if (idSet.contains(d)) x(idx(d))(r.getLong(1).toInt) = r.getDouble(2)
    }
    // standardize over the sample (σ floored so constant features no-op)
    val mu = new Array[Double](f); val sd = new Array[Double](f)
    var j = 0
    while (j < f) {
      var s = 0.0; var i = 0
      while (i < n) { s += x(i)(j); i += 1 }
      mu(j) = s / n
      var v = 0.0; i = 0
      while (i < n) { val d = x(i)(j) - mu(j); v += d * d; i += 1 }
      sd(j) = math.max(math.sqrt(v / n), 1e-6)
      j += 1
    }
    val w = new Array[Double](f)
    var bias = 0.0
    var it = 0
    while (it < iters) {
      val g = new Array[Double](f)
      var gb = 0.0
      var i = 0
      while (i < n) {
        var z = bias
        var k = 0
        while (k < f) { z += w(k) * (x(i)(k) - mu(k)) / sd(k); k += 1 }
        val p = 1.0 / (1.0 + math.exp(-math.max(-30.0, math.min(30.0, z))))
        val r = y(i) - p
        k = 0
        while (k < f) { g(k) += r * (x(i)(k) - mu(k)) / sd(k); k += 1 }
        gb += r
        i += 1
      }
      j = 0
      while (j < f) { w(j) += lr * g(j) / n; j += 1 }
      bias += lr * gb / n
      it += 1
    }
    // fold standardization into raw-feature weights:
    // z = b + Σ w_j (x_j − μ_j)/σ_j  =  b′ + Σ (w_j/σ_j)·x_j
    val folded = Array.tabulate(f)(j => w(j) / sd(j))
    val foldedBias = bias - (0 until f).map(j => w(j) * mu(j) / sd(j)).sum
    Model(foldedBias, folded, numBuckets)
  }

  /** Score a corpus with a trained model: (doc_id, y, logit, pred) —
    * y is the evaluation label carried through for the confusion
    * audits, pred = logit > 0 on the round-6 value (engine-exact).
    *
    * Row-LOCAL: the whole logit is computed inside one stateless
    * projection — no explode, no join, no aggregation. The weight
    * vector rides along as a map literal (B+6 entries — model-sized,
    * not corpus-sized), and the hashed-BoW counts come from a
    * run-length fold over the doc's own sorted bucket array. Per
    * [[features]] row (bucket b, value x) the term is round(w_b · x, 8)
    * as DECIMAL(18,8), summed exactly, so the result is the linear
    * model over [[features]] (QualityLrSpec pins it to a plain-Scala
    * sum over the collected rows). The batch lanes and the streaming
    * scorer share it: zero state (append-mode safe), and at 100 TB a
    * scoring pass that never shuffles the corpus. */
  def score(docs: DataFrame, text: Column, id: Column, label: Column,
            m: Model): DataFrame = {
    val wMap = typedLit(m.weights.zipWithIndex
      .map { case (w, b) => b.toLong -> w }.toMap)
    val dec18 = DecimalType(18, 8)
    val dec28 = DecimalType(28, 8)
    val toks = graft.functions.TextFns.tokens(text)
    val bks = array_sort(transform(toks,
      t => Dsir.bucketOf(t, m.numBuckets)))
    // run-length fold over the sorted buckets: flush round(w_b·run, 8)
    // on every bucket change, plus a final flush
    def term(b: Column, run: Column): Column =
      when(b.isNull || run === 0L, lit(0).cast(dec18))
        .otherwise(round(element_at(wMap, b) * run.cast(DoubleType), 8)
          .cast(dec18))
    val init = struct(lit(null).cast(LongType).as("prev"),
      lit(0L).as("run"), lit(0).cast(dec28).as("s"))
    val folded = aggregate(bks, init,
      (acc, b) =>
        when(acc("prev").isNotNull && acc("prev") === b,
          struct(b.as("prev"), (acc("run") + 1L).as("run"),
            acc("s").as("s")))
          .otherwise(struct(b.as("prev"), lit(1L).as("run"),
            (acc("s") + term(acc("prev"), acc("run"))).cast(dec28).as("s"))),
      acc => (acc("s") + term(acc("prev"), acc("run"))).cast(dec28))
    // moment terms mirror features(): x_j = round(m_j, 8), term =
    // round(w_{B+j} · x_j, 8); null moments contribute nothing
    val m0 = round(length(text).cast(DoubleType) / 100.0, 8)
    val m2 = round(size(toks).cast(DoubleType) / 10.0, 8)
    val mwlRaw = graft.functions.TextFns.meanWordLen(toks)
    val mwl = round(mwlRaw, 8)
    val m0sq = round(
      (length(text).cast(DoubleType) / 100.0)
        * (length(text).cast(DoubleType) / 100.0), 8)
    val m2sq = round(
      (size(toks).cast(DoubleType) / 10.0)
        * (size(toks).cast(DoubleType) / 10.0), 8)
    val mwlSq = round(mwlRaw * mwlRaw, 8)
    def mterm(j: Int, x: Column): Column =
      when(x.isNull, lit(0).cast(dec18))
        .otherwise(round(element_at(wMap,
          lit((m.numBuckets + j).toLong)) * x, 8).cast(dec18))
    val sAll = folded +
      mterm(0, m0) + mterm(1, m0sq) + mterm(2, m2) +
      mterm(3, m2sq) + mterm(4, mwl) + mterm(5, mwlSq)
    docs.select(id.as("doc_id"), label.cast(LongType).as("y"),
        round(sAll.cast(DoubleType) + m.bias, 6).as("logit"))
      .withColumn("pred", when(col("logit") > 0.0, 1L).otherwise(0L))
  }
}
