package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Okapi BM25 term weighting — the retrieval-grade upgrade over TF-IDF
  * (length-normalized, tf-saturating), used in training-data curation for
  * query-based corpus filtering and nearest-neighbor text retrieval.
  *
  * score(d, t) = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  * idf(t) = ln(1 + (N − df + 0.5) / (df + 0.5))   (the Lucene form —
  * always positive, no negative-idf clamp needed)
  *
  * Scale shape — identical to [[TfIdf]]: two map-side-partial hash
  * aggregations (doc-term tf including per-doc length, then term df), a
  * broadcast of the single-row corpus stats (N, avgdl), and a top-k per
  * doc through row_number (rewritten to the bounded TopKPerGroup operator
  * when GraftExtensions is installed). Only (doc,term) and term shuffle.
  */
object Bm25 {

  /** Per-doc top-k terms by BM25. Ranking uses the ROUNDED score (6
    * decimals) with the term as tiebreak, so ordering is reproducible
    * across engines despite last-ulp differences in ln(). */
  def topTerms(docs: DataFrame, text: Column, id: Column, k: Int = 3,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = docs.select(id.as("doc_id"), TextFns.tokens(text).as("toks"))
    val terms = toks.select(col("doc_id"), size(col("toks")).cast(LongType).as("dl"),
      explode(col("toks")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    topTermsFromTf(tf, k, k1, b)
  }

  /** [[topTerms]] from an already-derived (doc_id, term, tf, dl) table —
    * the [[DocTerms]] consumer path: corpus stats and df fall out of the
    * small table, nothing re-tokenizes. */
  def topTermsFromTf(tf: DataFrame, k: Int = 3,
                     k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val scored = postings(tf).withColumn("bm25", weight(k1, b))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("bm25").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("bm25"), col("rank"))
  }

  /** The (doc_id, term, tf, dl) rows with the per-term df and the
    * broadcast corpus stats (n_docs, avgdl) beside them — the columns
    * [[weight]] reads. Corpus stats are derived from the doc-term table
    * rather than a second full scan+tokenize of the raw text: N and avgdl
    * over docs WITH tokens (identical unless a doc is empty — and empty
    * docs have no terms to score anyway). */
  private[operators] def postings(tf: DataFrame): DataFrame = {
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val corpus = tf.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    tf.join(dfreq, "term").crossJoin(broadcast(corpus))
  }

  /** The BM25 weight of one [[postings]] row, rounded to 6 decimals — the
    * one definition of the formula: [[topTermsFromTf]] ranks on it as a
    * double, and the retrieval lanes ([[HybridSearch]]) sum it as
    * DECIMAL(18,6). */
  private[operators] def weight(k1: Double, b: Double): Column = {
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    round(idf * (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))), 6)
  }
}
