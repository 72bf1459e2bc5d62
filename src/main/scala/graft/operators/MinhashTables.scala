package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The MinHash-LSH result of a corpus, derived once per
  * documents.parquet fingerprint and read by the six near-dup lanes
  * (q_dedup_minhash, q_split_leakage, q_dedup_clusters,
  * q_dedup_keep_best, q_dedup_incremental, q_containment).
  *
  * All six run at one operating point ([[point]]), so the shingle,
  * clique-collapse, band, bucket-window, candidate and verify work is the
  * same in each; done inline it ran six times per JVM. Here
  * [[Dedup.minhashLshCore]] runs at most once per fingerprint and its
  * output is written as [[DerivedCache]] tables:
  *  - `verified` (id_a, id_b, jaccard): the verified pairs — rep pairs
  *    on the collapsed side, doc pairs on the direct side;
  *  - `members` (rep, doc_id, intra), collapsed side only: the member
  *    map, with the rep's intra-clique jaccard (null when its clique
  *    does not pair internally).
  * The lanes' tables are derived from that core, chained on the SAME
  * fingerprint (the [[HybridSearch.rankedTable]] discipline):
  *  - [[pairs]] = [[Dedup.minhashLshPairs]] at [[point]] (both go
  *    through [[Dedup.pairsOf]]): `verified` itself on the direct side,
  *    a `pairs` table re-expanded from the core on the collapsed side;
  *  - [[clusters]] = [[Dedup.clustersOf]] of the core — the
  *    connected-components loop ([[DedupClusters.clusters]]) runs
  *    once, over the `verified` scan: on the rep graph when collapsed.
  * MinhashTablesSpec pins, as multisets in both clique regimes, the
  * pairs to the inline [[Dedup.minhashLshPairs]] and the clusters to
  * [[DedupClusters.clusters]] over those pairs.
  *
  * Every persist a build makes (the collapse tables, the candidate list)
  * is dead once the table is written: the builds run under an
  * [[OpCaches.scoped]] handle released right after the write, or on the
  * exception that aborted it. */
object MinhashTables {

  /** A MinHash-LSH operating point: word `shingleK`-shingles,
    * `numHashes` signature values cut into `bands` bands, exact-Jaccard
    * verify at `threshold`. [[key]] names the derived tables built at
    * the point. */
  final case class Point(shingleK: Int, numHashes: Int, bands: Int,
                         threshold: Double) {
    def key(table: String): String =
      s"minhash_k${shingleK}_h${numHashes}_b${bands}_j${threshold}_$table"
  }

  /** The near-dup lanes' point, tuned to the corpus: planted near-dups
    * sit at word-2-shingle J >= 0.8 while background pairs sit at
    * ~0.02, so threshold 0.5 cleanly separates them. */
  val point: Point = Point(shingleK = 2, numHashes = 64, bands = 16,
    threshold = 0.5)

  /** Near-dup pairs (id_a, id_b, jaccard) of `dir`'s documents: the
    * verified table itself on the direct side, a table derived from the
    * core on the collapsed side. */
  def pairs(s: SparkSession, dir: String): DataFrame = {
    val fp = DerivedCache.fingerprint(Seq(input(dir)))
    val c = core(s, dir, fp)
    if (c.memb == null) c.verified
    else scopedTable(s, dir, "pairs", fp)(Dedup.pairsOf(c))
  }

  /** Near-dup clusters (doc_id, cluster_id) of `dir`'s documents. */
  def clusters(s: SparkSession, dir: String): DataFrame = {
    val fp = DerivedCache.fingerprint(Seq(input(dir)))
    scopedTable(s, dir, "clusters", fp)(
      Dedup.clustersOf(core(s, dir, fp)))
  }

  private def input(dir: String): String = s"$dir/documents.parquet"

  private def table(s: SparkSession, dir: String, name: String, fp: String)
                   (build: => DataFrame): DataFrame =
    DerivedCache.tableAt(s, s"$dir#${point.key(name)}", Seq(input(dir)), fp)(build)

  private def scopedTable(s: SparkSession, dir: String, name: String,
                          fp: String)(build: => DataFrame): DataFrame = {
    val (df, h) = OpCaches.scoped(table(s, dir, name, fp)(build))
    h.release()
    df
  }

  /** Whether each core took the collapsed side, by `dir#point@fp`. It is
    * recorded when the core is computed, before its tables are written,
    * and DerivedCache tables live only as long as the JVM, so every core
    * table this JVM can read has its entry: the read-back needs no job
    * to tell the regimes apart. */
  private val collapsedAt =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** The core, read back from its tables: `verified` on both sides,
    * `members` on the collapsed side. Both are written from one
    * in-memory core, computed only when one of them is missing. */
  private def core(s: SparkSession, dir: String, fp: String): Dedup.LshCore = {
    val regime = s"$dir#${point.key("core")}@$fp"
    val (c, h) = OpCaches.scoped {
      lazy val inline = {
        val c = Dedup.minhashLshCore(Tables.documents(s, dir),
          col("text"), col("doc_id"), point.shingleK, point.numHashes,
          point.bands, point.threshold, splitThreshold = 4096)
        collapsedAt.put(regime, c.memb != null)
        c
      }
      val verified = table(s, dir, "verified", fp)(inline.verified)
      if (!collapsedAt.get(regime)) Dedup.LshCore(null, verified, null)
      else {
        val members = table(s, dir, "members", fp)(inline.memb
          .join(inline.intra.select(col("rep"), col("jaccard").as("intra")),
            Seq("rep"), "left")
          .select(col("rep"), col("doc_id"), col("intra")))
        Dedup.LshCore(members.select(col("rep"), col("doc_id")), verified,
          members.filter(col("doc_id") === col("rep") && col("intra").isNotNull)
            .select(col("rep"), col("intra").as("jaccard")))
      }
    }
    h.release()
    c
  }
}
