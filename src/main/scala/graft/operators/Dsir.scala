package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Data Selection via Importance Resampling (DSIR — Xie et al., NeurIPS
  * 2023): score every raw-corpus document by how target-like its hashed
  * n-gram profile is, so a web-scale crawl can be resampled toward a
  * small high-quality target domain without training a classifier.
  *
  * The model is two bag-of-hashed-ngrams unigram distributions — one
  * over the target slice, one over the full raw corpus — on B buckets
  * with add-one smoothing. A document's log importance weight is
  *
  *   log w(d) = Σ_f  log p_target[h(f)] − log p_raw[h(f)]
  *
  * summed over its feature OCCURRENCES f (word unigrams + bigrams).
  *
  * Engine-exact arithmetic (the q_lm_score convention): the per-bucket
  * log-ratio λ[b] is rounded at 8 decimals and carried as DECIMAL(18,8),
  * so the per-doc sum is order-independent and replayable bit-identically
  * by any engine; only the final per-doc mean rounds to a double.
  *
  * Scale shape (the 100 TB path):
  *  - feature extraction is row-local (explode never shuffles a doc's
  *    features as a set) and runs once into a persisted table;
  *  - both histograms come from one map-side partial aggregation down
  *    to at most B rows — the ONLY corpus-wide state, independent of
  *    corpus size;
  *  - the λ table (≤ B rows) is BROADCAST by intent, so scoring is one
  *    map-side join + a per-doc aggregation: nothing quadratic, and
  *    nothing corpus-sized is collected.
  */
object Dsir {

  /** Hashed-ngram feature buckets: md5-derived (both engines replay the
    * hash), first 8 hex digits as an unsigned 32-bit int, mod B. */
  def bucketOf(feature: Column, numBuckets: Int): Column =
    conv(substring(md5(feature), 1, 8), 16, 10)
      .cast(org.apache.spark.sql.types.LongType) % numBuckets

  /** (doc_id, feature) rows — one per word unigram AND word bigram
    * occurrence (with multiplicity; DSIR counts occurrences). */
  def docFeatures(docs: DataFrame, text: Column, id: Column): DataFrame =
    explodeFeatures(
      docs.select(id.as("doc_id"), TextFns.tokens(text).as("toks")))

  /** Explode a (…, toks) frame to one row per unigram AND bigram
    * occurrence, carrying every non-toks column through. One explode of
    * the concatenated feature array — a union of separate unigram and
    * bigram explodes would tokenize and scan the corpus twice. The CASE
    * guards Spark's DESCENDING sequence(1, 0), which would fabricate
    * null bigrams on zero- and one-token docs. */
  private def explodeFeatures(t: DataFrame): DataFrame = {
    val keep = t.columns.filter(_ != "toks").map(col)
    t.select(keep :+ explode(expr(
      "concat(toks, CASE WHEN size(toks) < 2 THEN array() " +
        "ELSE transform(sequence(1, size(toks) - 1), " +
        "i -> concat(toks[i - 1], ' ', toks[i])) END)")).as("feature"): _*)
  }

  /** Per-doc DSIR log importance weights against a PREDICATE-selected
    * target slice of the corpus (the common case — "resample the crawl
    * toward its own English/wiki-like slice"): (doc_id, n_feats,
    * log_weight), log_weight the exact decimal feature sum cast to
    * double at the end (row order can't move it). Tokenization and
    * feature hashing run ONCE, the (doc, is_t, bucket) rows persist,
    * and both histograms fall out of one conditional aggregation. At
    * 100 TB the persisted feature table is the materialize-once derived
    * table; everything after it is bounded by B. */
  def weightsWithin(docs: DataFrame, isTarget: Column, text: Column,
                    id: Column, numBuckets: Int = 4096): DataFrame = {
    // tracked in OpCaches (r14, ADVICE): the returned plan still
    // references fb, so it can't unpersist here — but without tracking,
    // each weightsWithin call left one corpus-sized cache pinned for the
    // JVM lifetime; releaseAll()/the bench teardown now reclaims it
    val fb = OpCaches.track(targetBuckets(docs, isTarget, text, id,
      numBuckets).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    score(fb.select(col("doc_id"), col("bucket")), lambdaOf(fb, numBuckets))
  }

  /** The frozen λ model for a predicate-selected target slice — what a
    * DEPLOYED scorer (e.g. the streaming lane) loads: trained once over
    * a batch corpus, then applied to any stream of documents. Identical
    * arithmetic to [[weightsWithin]]'s in-query derivation. */
  def lambdaWithin(docs: DataFrame, isTarget: Column, text: Column,
                   id: Column, numBuckets: Int = 4096): DataFrame =
    lambdaOf(targetBuckets(docs, isTarget, text, id, numBuckets), numBuckets)

  /** (doc_id, is_t, bucket) — one row per feature occurrence, tagged
    * with its doc's target predicate. */
  private def targetBuckets(docs: DataFrame, isTarget: Column, text: Column,
                            id: Column, numBuckets: Int): DataFrame =
    explodeFeatures(docs.select(id.as("doc_id"), isTarget.as("is_t"),
        TextFns.tokens(text).as("toks")))
      .select(col("doc_id"), col("is_t"),
        bucketOf(col("feature"), numBuckets).as("bucket"))

  /** Per-bucket smoothed log-ratio table λ[b] = round(ln p_t[b] − ln
    * p_s[b], 8) over EVERY bucket 0..B-1 (unseen buckets still carry the
    * smoothing mass — a doc hashing into them must be scored, not
    * dropped): p_t over the is_t rows, p_s over all rows. ≤ B rows;
    * [[score]] broadcasts it. */
  private def lambdaOf(fb: DataFrame, numBuckets: Int): DataFrame = {
    val hist = fb.groupBy(col("bucket"))
      .agg(sum(when(col("is_t"), 1L).otherwise(0L)).as("cnt_t"),
        count(lit(1)).as("cnt_s"))
    val s = fb.sparkSession
    val domain = s.range(numBuckets).select(col("id").as("bucket"))
    val joined = domain.join(hist, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("cnt_t"), lit(0L)).as("cnt_t"),
        coalesce(col("cnt_s"), lit(0L)).as("cnt_s"))
    val totals = joined.agg(sum(col("cnt_t")).as("tot_t"),
      sum(col("cnt_s")).as("tot_s"))
    joined.crossJoin(broadcast(totals))
      .select(col("bucket"),
        round(log((col("cnt_t") + 1).cast(DoubleType) /
            (col("tot_t") + numBuckets)) -
          log((col("cnt_s") + 1).cast(DoubleType) /
            (col("tot_s") + numBuckets)), 8)
          .cast(DecimalType(18, 8)).as("lambda"))
  }

  private[graft] def score(docBuckets: DataFrame, lam: DataFrame): DataFrame =
    docBuckets
      // broadcast by intent: at corpus scale AQE's stats must not flip
      // which side broadcasts run-to-run (the q_lm_score note)
      .join(broadcast(lam), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
        round(sum(col("lambda")).cast(DoubleType), 6).as("log_weight"))
}
