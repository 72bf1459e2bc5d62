package graft

import scala.math.BigDecimal.RoundingMode

/** Plain-Scala DSIR over collected (doc_id, feature) rows — the general
  * two-corpus form the Spark operator is pinned to. Features hash to md5
  * buckets (the first 8 hex digits as an unsigned 32-bit int, mod B);
  * each corpus's histogram over all B buckets is add-one smoothed;
  * λ[b] = ln p_target[b] − ln p_raw[b] (StrictMath, as Spark's `log`)
  * rounded half-up to 8 decimals; a raw doc's log weight is the exact
  * decimal sum of its feature occurrences' λ, as a double rounded
  * half-up to 6. */
object DsirReference {

  def bucket(feature: String, numBuckets: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(feature.getBytes("UTF-8"))
    val h = d.take(4).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
    (h % numBuckets).toInt
  }

  /** (doc_id, n_feats, log_weight) for every raw doc with a feature. */
  def weights(raw: Seq[(Long, String)], target: Seq[(Long, String)],
              numBuckets: Int): Seq[(Long, Long, Double)] = {
    val memo = scala.collection.mutable.Map.empty[String, Int]
    def b(f: String) = memo.getOrElseUpdate(f, bucket(f, numBuckets))
    def logP(fs: Seq[(Long, String)]): Int => Double = {
      val hist = fs.groupBy(f => b(f._2)).map { case (k, v) => k -> v.size.toLong }
      k => StrictMath.log((hist.getOrElse(k, 0L) + 1).toDouble / (fs.size.toLong + numBuckets))
    }
    val (pt, ps) = (logP(target), logP(raw))
    val lambda = Array.tabulate(numBuckets)(k =>
      BigDecimal(pt(k) - ps(k)).setScale(8, RoundingMode.HALF_UP))
    raw.groupBy(_._1).toSeq.map { case (doc, fs) =>
      (doc, fs.size.toLong, BigDecimal(fs.map(f => lambda(b(f._2))).sum.toDouble)
        .setScale(6, RoundingMode.HALF_UP).toDouble)
    }
  }
}
