package graft.operators

import graft.functions.VectorFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The one approximate-nearest-neighbor search path. Every ANN entry
  * (Similarity.bruteForceTopK / lshTopK, IvfAnn.topK, PqAnn.adcTopK /
  * adcRerankTopK, SqAnn.topK / topKSpillSq8) is a short composition of
  * three parts, each written once here:
  *  - [[pairs]]: candidate generation — the broadcast query side joined
  *    to the corpus on a probe key (LSH flip buckets, IVF probe cells),
  *    or every pair when there is no key; self-pairs dropped;
  *  - [[shortlist]]: the per-query approximate cut (PQ's ADC, SQ8's
  *    code-domain score) before the exact work;
  *  - [[exactTopK]]: the house cosine6, ranked (cosine desc, cand_id).
  *
  * Top-k similarity search as one primitive with pluggable candidate
  * generation is the shape of Incremental Based Framework for Efficient
  * Top-K Similarity Search (EDBT 2020). The q_ann_tuned cost rows count
  * [[pairs]] too, so a lane's scan cost is priced from the very join it
  * ranks. */
object Ann {

  /** How queries meet the corpus under the join key `key`: a query
    * searches every key of the array `query`, a corpus vector sits under
    * `corpus` — one key, or an `explode` over several in a spilled
    * index, which `multi` marks (only then can a pair meet twice). Both
    * are expressions over the `embedding` column. */
  final case class Probe(key: String, query: Column, corpus: Column,
                         multi: Boolean)

  /** Candidate pairs of two (vec_id, embedding) frames: (query_id,
    * cand_id, qCols..., cCols...), one row per pair VISIT — a pair met
    * under k keys appears k times. The query side (carrying `qCols`)
    * broadcasts; the corpus side (carrying `cCols`) is one map-side scan
    * with its key computed in the scan stage. */
  def pairs(queries: DataFrame, corpus: DataFrame, probe: Option[Probe],
            qCols: Seq[Column], cCols: Seq[Column]): DataFrame = {
    val q = queries.select((col("vec_id").as("query_id") +: qCols) ++
      probe.map(p => explode(p.query).as(p.key)): _*)
    val c = corpus.select((col("vec_id").as("cand_id") +: cCols) ++
      probe.map(p => p.corpus.as(p.key)): _*)
    val joined = probe match {
      case Some(p) => c.join(broadcast(q), Seq(p.key))
          .filter(col("query_id") =!= col("cand_id"))
      case None => c.join(broadcast(q), col("query_id") =!= col("cand_id"))
    }
    val carried = (q.columns.tail ++ c.columns.tail).filterNot(probe.map(_.key).contains)
    joined.select(("query_id" +: "cand_id" +: carried).map(col): _*)
  }

  /** The per-query approximate cut: each query's first `n` candidates by
    * `order`, cand_id breaking ties; `srank` carries the position. */
  def shortlist(scored: DataFrame, order: Column, n: Int): DataFrame =
    scored.withColumn("srank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(order, col("cand_id"))))
      .filter(col("srank") <= n)

  /** Exact rerank: cosine6 of each (query_id, cand_id, q_emb, c_emb)
    * pair, the top `k` per query by (cosine desc, cand_id), as (query_id,
    * cand_id, carried..., cosine, rank) — every other column of `pairs`
    * rides along. With `dedup` (a spilled index, where a pair can meet
    * under several keys) the visits collapse to one row per pair: the
    * cosine is identical per copy, so max is the value. */
  def exactTopK(pairs: DataFrame, k: Int, dedup: Boolean): DataFrame = {
    val cosine = VectorFns.cosine6(col("q_emb"), col("c_emb"))
    val scored =
      if (dedup) pairs.groupBy(col("query_id"), col("cand_id"))
        .agg(max(cosine).as("cosine"))
      else pairs.select(Seq(col("query_id"), col("cand_id")) ++
        pairs.columns.filterNot(Set("query_id", "cand_id", "q_emb", "c_emb"))
          .map(col) :+ cosine.as("cosine"): _*)
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("cand_id"))).cast(LongType))
      .filter(col("rank") <= k)
  }
}
