package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Exact-duplicate clique collapse for the near-dup family — MinHash and
  * SimHash banding ([[Dedup]]), the embedding pipelines ([[Similarity]])
  * and the exact set-similarity join ([[AllPairs]]).
  *
  * Crawl-scale corpora are full of exact duplicates, and every member of
  * an m-copy clique carries the same fingerprint (shingle set, signature,
  * embedding, token set). Carrying all members through signature, band
  * explode, bucket windows, candidate dedup and verify shuffles m× the
  * rows the fingerprint space holds, and the clique's C(m,2) pairs
  * materialize inside shuffled bucket rows. When duplicate mass is
  * substantial, the pipelines instead see one REPRESENTATIVE per
  * distinct fingerprint (the minimum member id), and member pairs are
  * re-expanded afterwards by hash joins:
  *  - inter-clique: every member of a's clique × every member of b's, at
  *    the reps' verified value — jaccard, hamming and cosine are
  *    functions of the two fingerprints alone;
  *  - intra-clique: C(m,2) member pairs at the rep's own value (jaccard
  *    1.0 for non-empty sets, hamming 0, the rep's self-cosine) — only
  *    for reps whose own value passes the verify, so cliques the direct
  *    path would drop (empty sets, zero-norm vectors) drop here too.
  * Output is identical to the direct path; the quadratic part streams
  * out of a join instead of through a shuffle (100-copy cliques at 100×
  * bench scale: 110 s direct → 18 s collapsed, SCALE.md "Clique
  * collapse"). With sparse duplicates the expansion joins cost more than
  * the collapse saves, and the direct pipeline over all rows is equally
  * correct (intra-clique pairs surface as ordinary candidates), so it is
  * used as-is: the choice is made from the data by [[collapse]].
  *
  * Caching contract: every persist here registers with [[OpCaches]].
  * Intermediates the caller's returned (lazy) plan still references — the
  * representative table, the member map, the raw rows on the direct side
  * — stay persisted; materialize the result, then `OpCaches.releaseAll()`
  * (or release the [[OpCaches.scoped]] handle). Intermediates whose last
  * consumer runs in here are freed in here: the distinct table on the
  * direct side, the raw rows once the member map is built.
  */
private[graft] object Cliques {

  /** Distinct-fingerprint fraction below which the pipelines collapse to
    * one representative per clique: the member-map and expansion joins
    * only pay for themselves once duplicates are a sizable share of the
    * corpus. */
  private val collapseDupFraction: Double = 0.8

  /** The collapse decision over a persisted fingerprint table.
    *  - `rows`: every input row, persisted;
    *  - `reps`: one row per distinct fingerprint (the `key` columns plus
    *    the minimum `id`), persisted when `collapsed`, null otherwise;
    *  - `docs`: what the pipeline bands and verifies — `reps` when
    *    collapsed, `rows` otherwise. */
  final class Collapse private[Cliques] (val collapsed: Boolean,
      val rows: DataFrame, val reps: DataFrame, key: Seq[String], id: String) {

    def docs: DataFrame = if (collapsed) reps else rows

    /** The (rep, id) member map of a collapsed table, persisted and
      * counted on first use; `rows` is freed then, since the member-map
      * join is its last consumer. */
    lazy val memb: DataFrame = {
      require(collapsed, "the member map exists only on the collapsed side")
      val m = OpCaches.track(rows
        .join(reps.select(key.map(col) :+ col(id).as("rep"): _*), key)
        .select(col("rep"), col(id))
        .persist(StorageLevel.MEMORY_AND_DISK))
      m.count()
      rows.unpersist(blocking = false)
      OpCaches.untrack(rows)
      m
    }
  }

  /** Persist and count `rows`, group them by the fingerprint `key` with
    * the minimum `id` as representative, and collapse when the distinct
    * fingerprints are fewer than [[collapseDupFraction]] of the rows.
    * Eager counts throughout: several consumers otherwise race to
    * populate each cache. */
  def collapse(rows: DataFrame, key: Seq[String], id: String): Collapse = {
    val raw = OpCaches.track(rows.persist(StorageLevel.MEMORY_AND_DISK))
    val nRaw = raw.count()
    val distinct = OpCaches.track(
      raw.groupBy(key.map(col): _*).agg(min(col(id)).as(id))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val collapsed = distinct.count() < (nRaw * collapseDupFraction).toLong
    if (!collapsed) { distinct.unpersist(); OpCaches.untrack(distinct) }
    new Collapse(collapsed, raw, if (collapsed) distinct else null, key, id)
  }

  /** Member pairs (id_a < id_b, `value`) from representative pairs
    * (id_a, id_b, `value`) and a (rep, member id) map, in that column
    * order. `intra` holds (rep, `value`) for the reps whose cliques pair
    * internally, at that value; other cliques contribute no intra pairs.
    * Members of different cliques can order either way, so cross pairs
    * are re-oriented. */
  def expand(repPairs: DataFrame, memb: DataFrame, value: String,
             intra: DataFrame): DataFrame = {
    val m = memb.toDF("rep", "m")
    val inter = repPairs
      .join(m.select(col("rep").as("id_a"), col("m").as("ma")), Seq("id_a"))
      .join(m.select(col("rep").as("id_b"), col("m").as("mb")), Seq("id_b"))
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col(value))
    val within = intra
      .join(m.select(col("rep"), col("m").as("ma")), Seq("rep"))
      .join(m.select(col("rep"), col("m").as("mb")), Seq("rep"))
      .filter(col("ma") < col("mb"))
      .select(col("ma").as("id_a"), col("mb").as("id_b"), col(value))
    inter.unionByName(within)
  }
}
