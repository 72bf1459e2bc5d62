package graft

import org.apache.spark.sql.DataFrame
import scala.math.BigDecimal.RoundingMode

/** Plain-Scala brute-force BM25 over collected rows — the independent
  * reference the retrieval specs pin the Spark scorer to. Lucene idf, k1 = 1.2,
  * b = 0.75, each weight rounded half-up to 6 decimals (Spark's `round`
  * on a double), scores summed exactly as decimals, ranks by (score
  * desc, doc_id) with the query doc excluded. */
object Bm25Reference {

  final case class Posting(doc: Long, term: String, tf: Long, dl: Long)

  /** Postings of a (doc_id, term, tf, dl) frame. */
  def postingsOf(tf: DataFrame): Seq[Posting] =
    tf.select("doc_id", "term", "tf", "dl").collect().toSeq
      .map(r => Posting(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))

  /** Postings tokenized in plain Scala from (doc_id, text) rows — the
    * TextFns.tokens domain: lower-cased `[a-z0-9]+` runs. */
  def postingsOfText(docs: Seq[(Long, String)]): Seq[Posting] =
    docs.flatMap { case (doc, text) =>
      val toks = Option(text).toSeq
        .flatMap(t => "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq)
      toks.groupBy(identity).toSeq
        .map { case (term, occ) => Posting(doc, term, occ.size.toLong, toks.size.toLong) }
    }

  /** (term, doc) -> round-6 BM25 weight. */
  def weights(ps: Seq[Posting]): Map[(String, Long), BigDecimal] = {
    val dl = ps.map(p => p.doc -> p.dl).toMap
    val n = dl.size
    val avgdl = dl.values.sum.toDouble / n
    val df = ps.groupBy(_.term).map { case (t, xs) => t -> xs.size.toLong }
    ps.map { p =>
      val idf = StrictMath.log(1.0 + (n - df(p.term) + 0.5) / (df(p.term) + 0.5))
      // operand order as Bm25.weight writes it, so the doubles agree
      val w = idf * (p.tf * (1.2 + 1.0)) /
        (p.tf + 1.2 * ((1.0 - 0.75) + 0.75 * p.dl / avgdl))
      (p.term, p.doc) -> BigDecimal(w).setScale(6, RoundingMode.HALF_UP)
    }.toMap
  }

  /** (term, doc) -> the posting's rank in its term's impact order
    * (weight desc, doc_id) — the champion-list position. */
  def impactRanks(w: Map[(String, Long), BigDecimal]): Map[(String, Long), Long] =
    w.toSeq.groupBy(_._1._1).values.flatMap { xs =>
      xs.sortBy { case ((_, d), v) => (-v, d) }.zipWithIndex
        .map { case ((key, _), i) => key -> (i + 1L) }
    }.toMap

  /** (query_id, doc_id, lex_rank) rows of the top-k per query over the
    * postings `keep` admits (all of them, or a champion depth). */
  def topK(w: Map[(String, Long), BigDecimal], queries: Seq[Long], k: Int,
           keep: ((String, Long)) => Boolean): Seq[(Long, Long, Long)] = {
    val byTerm = w.toSeq.filter { case (key, _) => keep(key) }
      .groupBy(_._1._1)
    queries.flatMap { q =>
      val qTerms = w.keys.collect { case (t, d) if d == q => t }.toSet
      val scores = qTerms.toSeq.flatMap(t => byTerm.getOrElse(t, Nil))
        .collect { case ((_, d), v) if d != q => d -> v }
        .groupBy(_._1).map { case (d, vs) => d -> vs.map(_._2).sum }
      scores.toSeq.sortBy { case (d, s) => (-s, d) }.take(k).zipWithIndex
        .map { case ((d, _), i) => (q, d, i + 1L) }
    }
  }
}
