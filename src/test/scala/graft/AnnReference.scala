package graft

import org.apache.spark.sql.DataFrame
import scala.math.BigDecimal.RoundingMode

/** Plain-Scala exact-cosine top-k over collected vectors — the
  * independent reference the ANN specs pin every search entry to.
  * Cosine accumulates the dot and both squared norms left to right in
  * doubles, as CosineSimilarity.nullSafeEval does, and is rounded half-up
  * to 6 places (Spark's `round` on a double); each query ranks the
  * candidates it meets, itself excluded, by (cosine desc, cand_id). */
object AnnReference {

  /** (vec_id, embedding) rows of a frame, floats widened to doubles. */
  def vectors(df: DataFrame): Seq[(Long, Array[Double])] =
    df.select("vec_id", "embedding").collect().toSeq
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)

  def cosine6(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < math.min(a.length, b.length)) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      i += 1
    }
    val c = dot / (math.sqrt(na) * math.sqrt(nb))
    if (c.isNaN || c.isInfinite) c
    else BigDecimal(c).setScale(6, RoundingMode.HALF_UP).toDouble
  }

  /** (query_id, cand_id, cosine, rank) rows: each query's top `k` of the
    * candidates `meets` admits. */
  def topK(queries: Seq[(Long, Array[Double])], corpus: Seq[(Long, Array[Double])],
           k: Int)(meets: (Long, Long) => Boolean): Seq[(Long, Long, Double, Long)] =
    queries.flatMap { case (q, qv) =>
      corpus.collect { case (c, cv) if c != q && meets(q, c) => c -> cosine6(qv, cv) }
        .sortWith { case ((c1, s1), (c2, s2)) =>
          val o = java.lang.Double.compare(s2, s1) // NaN ranks first, as in Spark
          if (o != 0) o < 0 else c1 < c2
        }
        .take(k).zipWithIndex
        .map { case ((c, s), i) => (q, c, s, i + 1L) }
    }

  /** The (query_id, cand_id, cosine, rank) rows of an ANN entry's output. */
  def rows(df: DataFrame): Seq[(Long, Long, Double, Long)] =
    df.select("query_id", "cand_id", "cosine", "rank").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
}
