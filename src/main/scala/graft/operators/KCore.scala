package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling (Seidman, "Network
  * structure and minimum degree", Social Networks 1983 — the classic
  * cohesion measure; the peel is the standard distributed formulation).
  *
  * The k-core is the maximal subgraph in which every node has degree
  * >= k INSIDE the subgraph — "dense enough to survive its neighbors
  * also being pruned", which plain degree filtering can't express.
  *
  * Scale shape (the CC discipline from DedupClusters): each round is
  * one degree aggregation + two semi joins — edge-linear keyed
  * shuffles, nothing driver-side but the convergence scalar; the edge
  * list is reliably checkpointed every round (operators.Ckpt — disk
  * files, not evictable cache; r15) so iteration N's plan doesn't
  * embed rounds 1..N-1. Rounds needed = peel depth,
  * typically O(log n) on real graphs, 2-3 on the co-purchase graph.
  * Peeling is IDEMPOTENT past the fixpoint — what lets a bounded
  * unrolled-SQL oracle check an unbounded-iteration operator. */
object KCore {

  /** Nodes of the k-core of a SYMMETRIC (src, dst) edge list, with
    * each node's degree inside the core. Self-loops ignored. */
  def core(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // initial graph: plain persist with lineage KEPT — the upstream is
    // a parquet scan + distinct (cheap, deterministic), so an evicted
    // block recomputes instead of failing; only LOOP frames need their
    // lineage cut (below). Released when the loop ends.
    val e0 = OpCaches.track(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    var e = e0
    var nEdges = e.count()
    var converged = nEdges == 0L
    // bounded retention: each round's files supersede the
    // grandparent's (chain loop — only the newest two generations are
    // reachable; see Ckpt.Rotation)
    val rot = new Ckpt.Rotation()
    // every round but the last removes at least one edge, so the loop
    // ends within |edges| + 1 rounds
    while (!converged) {
      // survivors of this round: degree >= k within the current graph
      val alive = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("src").as("id"))
      val next = rot.next(e
        .join(alive.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")), Ckpt.partsFor(nEdges))
      val n2 = next.count()
      converged = n2 == nEdges // no edge lost → every degree >= k → fixpoint
      e = next
      nEdges = n2
    }
    e0.unpersist(blocking = false)
    OpCaches.untrack(e0)
    e.groupBy(col("src")).agg(count(lit(1)).as("core_degree"))
      .select(col("src").as("node"), col("core_degree"))
  }
}
