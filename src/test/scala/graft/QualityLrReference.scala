package graft

import org.apache.spark.sql.DataFrame
import scala.math.BigDecimal.RoundingMode

/** Plain-Scala linear scorer over collected [[operators.QualityLr.features]]
  * rows — the independent reference QualityLrSpec pins the Spark scorer
  * to. Per (doc_id, bucket, x) row the term is w_bucket · x rounded
  * half-up to 8 decimals (Spark's `round` on a double), rows with a null
  * x contribute nothing, and the terms are summed exactly as decimals;
  * logit = the sum as a double plus the bias, rounded half-up to 6, and
  * pred = logit > 0. */
object QualityLrReference {

  /** (doc_id, y, logit, pred) for every (doc_id, y) of `labels`. */
  def score(features: DataFrame, labels: Seq[(Long, Long)],
            m: operators.QualityLr.Model): Seq[(Long, Long, Double, Long)] = {
    val sums = features.select("doc_id", "bucket", "x").collect().toSeq
      .filterNot(_.isNullAt(2))
      .groupBy(_.getLong(0))
      .map { case (doc, rs) =>
        doc -> rs.map(r => half(m.weights(r.getLong(1).toInt) * r.getDouble(2), 8)).sum
      }
    labels.map { case (doc, y) =>
      val logit = half(sums.getOrElse(doc, BigDecimal(0)).toDouble + m.bias, 6).toDouble
      (doc, y, logit, if (logit > 0.0) 1L else 0L)
    }
  }

  private def half(v: Double, scale: Int): BigDecimal =
    BigDecimal(v).setScale(scale, RoundingMode.HALF_UP)
}
