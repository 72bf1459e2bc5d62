package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-once materialization of the co-purchase graph derivations that
  * SEVEN graph queries share (pagerank, ppr, triangles, communities,
  * components, bfs, k-core, link-predict, plus the co-occurrence
  * recommender's capped basket-items table).
  *
  * Each of those queries needs the same derived tables — the basket-cap-
  * filtered distinct (basket, item) pairs and the symmetric distinct edge
  * set built from them — and deriving them inline means every query pays
  * the fact-table scan + distinct + self-join + distinct again (~40 s of
  * the sf0.1 bench tail, and the dominant repeated shuffle at 100 TB).
  * The production shape is a DERIVED TABLE: compute once, write parquet,
  * let every consumer scan the (much smaller) edge table. At index scale
  * this is the nightly co-purchase edge build feeding all graph jobs —
  * writes are edge-sized (two longs a row), reads are cheap scans that
  * iterative operators can re-consume per round without re-deriving.
  *
  * The build functions are EXACTLY the inline derivations the queries
  * used before ([[PageRank.coOccurrenceEdges]] and its items stage), so
  * the materialized tables are row-identical to the inline form —
  * CoPurchaseSpec pins both set-equality and the DuckDB oracles keep
  * hash-checking every consumer end-to-end. Parquet round-trips the
  * (long, long) rows exactly; no value can drift through the write.
  *
  * Lifecycle: one temp directory per JVM (driver runs = one JVM per
  * phase), keyed by (sf dir, variant, INPUT FINGERPRINT) through
  * [[DerivedCache.tableFor]] — same-key builds happen exactly once via
  * DerivedCache's per-key double-checked locking (never
  * ConcurrentHashMap.computeIfAbsent; see its scaladoc for the
  * recursive-update hazard), and a rewrite of the underlying fact table
  * within the JVM triggers a rebuild instead of serving the stale
  * derivation. Nothing is cached in executor memory — Bench's
  * between-query cache teardown does not touch it, and every consumer
  * sees a plain parquet scan (filters/pruning push down like any other
  * source). */
object CoPurchase {

  /** Basket cap for the FULL graph (counted before pairing — per-basket
    * pair count is quadratic in basket size). Same constants the inline
    * derivations used. */
  val FullCap = 64
  /** 1-in-N order sample + cap for the SAMPLED graph (the CC/BFS/k-core/
    * label-prop lane — the full graph is one giant hairball whose
    * closure oracles are quadratic). */
  val SampleMod = 50
  val SampleCap = 8

  private def materialize(s: SparkSession, dir: String, variant: String,
                          input: String)(build: => DataFrame): DataFrame =
    DerivedCache.tableFor(s, s"$dir#$variant", Seq(input))(build)

  private def materializeAt(s: SparkSession, dir: String, variant: String,
                            input: String, fp: String)
                           (build: => DataFrame): DataFrame =
    DerivedCache.tableAt(s, s"$dir#$variant", Seq(input), fp)(build)

  /** The distinct+cap stage over ANY lineitem-shaped fact slice:
    * distinct (basket, item) pairs, baskets over `cap` items excluded.
    * Columns (g, i). Shared by the materialized full build and the
    * incremental delta path — one definition, so they can't drift. */
  def itemsOf(fact: DataFrame, cap: Int = FullCap): DataFrame = {
    val it = fact
      .select(col("l_orderkey").as("g"), col("l_partkey").as("i"))
      .distinct()
    val ok = it.groupBy(col("g")).count()
      .filter(col("count") <= cap).select(col("g"))
    it.join(ok, "g")
  }

  /** Distinct (basket, item) pairs of the full lineitem fact, baskets
    * over [[FullCap]] items excluded — the shared first stage of the
    * full edge set AND the co-occurrence recommender. Columns (g, i). */
  def items(s: SparkSession, dir: String): DataFrame = {
    val input = s"$dir/lineitem.parquet"
    itemsAt(s, dir, input, DerivedCache.fingerprint(Seq(input)))
  }

  private def itemsAt(s: SparkSession, dir: String, input: String,
                      fp: String): DataFrame =
    materializeAt(s, dir, "items64", input, fp) {
      itemsOf(Tables.lineitem(s, dir))
    }

  /** Symmetric distinct co-purchase edges over the full fact (cap 64) —
    * row-identical to PageRank.coOccurrenceEdges(lineitem, 64), built
    * from the materialized [[items]] table so the distinct+cap stage is
    * computed once per JVM, not once per consumer. The fact table is
    * fingerprinted ONCE and the same fingerprint keys both the items64
    * and edges64 derivations, so a concurrent lineitem rewrite between
    * the two stages cannot cache edges built from one snapshot's items
    * under the other snapshot's key. */
  def fullEdges(s: SparkSession, dir: String): DataFrame = {
    val input = s"$dir/lineitem.parquet"
    fullEdgesAt(s, dir, input, DerivedCache.fingerprint(Seq(input)))
  }

  private def fullEdgesAt(s: SparkSession, dir: String, input: String,
                          fp: String): DataFrame = {
    // materialize the items table BEFORE entering the edges build (a
    // lazy `items` call inside the build block would re-enter
    // materialize mid-build — see the lock note above)
    val it = itemsAt(s, dir, input, fp)
    materializeAt(s, dir, "edges64", input, fp) {
      PageRank.edgesFromItems(it)
    }
  }

  /** Degree-ordered ORIENTED (u, v) edges of the full graph
    * (Triangles.orient over [[fullEdges]]) — materialized write-once
    * (r16; VERDICT r15 ask 3): the orientation's two degree joins ran
    * inside every q_triangles execution, and like the edge table
    * itself they are index-build work, not query work. Chained on the
    * same lineitem fingerprint as edges64 so a fact rewrite rebuilds
    * the whole chain coherently. */
  def orientedFull(s: SparkSession, dir: String): DataFrame = {
    val input = s"$dir/lineitem.parquet"
    val fp = DerivedCache.fingerprint(Seq(input))
    orientedFullAt(s, dir, input, fp)
  }

  private def orientedFullAt(s: SparkSession, dir: String, input: String,
                             fp: String): DataFrame = {
    val edges = fullEdgesAt(s, dir, input, fp)
    materializeAt(s, dir, "tri_oriented64", input, fp) {
      Triangles.orient(edges).select(col("u"), col("v"))
    }
  }

  /** Sorted out-neighbor adjacency of [[orientedFull]]
    * (Triangles.adjacencyOf) — the second materialized input of the
    * edge-iterator triangle plan. Longs round-trip parquet exactly and
    * array element order is preserved, so the materialized adjacency
    * is row-identical to the inline derivation (TrianglesSpec pins
    * the whole lane equal). */
  def triAdjacency(s: SparkSession, dir: String): DataFrame = {
    val input = s"$dir/lineitem.parquet"
    val fp = DerivedCache.fingerprint(Seq(input))
    // materialize the oriented table BEFORE entering the adjacency
    // build (the nested-build lock convention, see fullEdges)
    val oriented = orientedFullAt(s, dir, input, fp)
    materializeAt(s, dir, "tri_adj64", input, fp) {
      Triangles.adjacencyOf(oriented)
    }
  }

  /** Out-degree-annotated (src, dst, outdeg) transition rows of
    * [[fullEdges]] (PageRank.transitionsOf) — materialized write-once
    * (r17; VERDICT r16 ask 6, the triangle-index discipline applied to
    * the iterative rank lanes): the degree aggregation + edge⋈degree
    * join ran inside every q_pagerank/q_ppr execution, and like the
    * orientation/adjacency tables they are index-build work. Chained
    * on the same lineitem fingerprint as edges64, so a fact rewrite
    * rebuilds the whole chain coherently. Longs round-trip parquet
    * exactly; the iterative lanes now start from a plain scan. */
  def transitionFull(s: SparkSession, dir: String): DataFrame = {
    val input = s"$dir/lineitem.parquet"
    val fp = DerivedCache.fingerprint(Seq(input))
    // materialize the edge table BEFORE entering the transition build
    // (the nested-build lock convention, see fullEdges)
    val edges = fullEdgesAt(s, dir, input, fp)
    materializeAt(s, dir, "trans64", input, fp) {
      PageRank.transitionsOf(edges)
    }
  }

  /** Symmetric distinct edges over the 1-in-50 order sample (cap 8) —
    * row-identical to the inline sampled derivation. */
  def sampledEdges(s: SparkSession, dir: String): DataFrame =
    materialize(s, dir, "edges_s50c8", s"$dir/lineitem.parquet") {
      PageRank.coOccurrenceEdges(
        Tables.lineitem(s, dir).filter(col("l_orderkey") % SampleMod === 0),
        col("l_orderkey"), col("l_partkey"), maxBasket = SampleCap)
    }

  // ---- incremental refresh (the q_incremental_agg discipline applied
  // ---- to the graph derivation) --------------------------------------

  /** The NEW edges an append-only fact delta contributes: the delta's
    * own capped items paired, minus pairs the existing edge table
    * already holds. Contract (the standard append-only fact-delta
    * contract): the delta carries COMPLETE new baskets — basket ids not
    * present in the existing fact — so the cap and the pairing are
    * decided entirely within the delta. Work scales with the DELTA: the
    * pairing is delta-local, and the anti-join probes the existing edge
    * table on its key without re-deriving anything (with the edge table
    * bucketed by (src, dst) — how a nightly build would write it — only
    * the delta side shuffles). Edges are add-only under appends (a
    * distinct pair, once present, never leaves), which is what makes
    * the merge a union rather than a rebuild. */
  def edgeDelta(existingEdges: DataFrame, deltaFact: DataFrame,
                cap: Int = FullCap): DataFrame =
    PageRank.edgesFromItems(itemsOf(deltaFact, cap))
      .join(existingEdges, Seq("src", "dst"), "left_anti")

  /** The refreshed edge table: existing ∪ the delta's new edges. Pinned
    * by CoPurchaseSpec set-equal to a full rebuild over (base ∪ delta),
    * so consumers can't tell refresh from recompute. */
  def refreshedEdges(existingEdges: DataFrame, deltaFact: DataFrame,
                     cap: Int = FullCap): DataFrame =
    existingEdges.unionByName(edgeDelta(existingEdges, deltaFact, cap))
}
