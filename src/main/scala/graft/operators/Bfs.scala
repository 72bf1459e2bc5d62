package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first search — minimum hop count from a seed
  * set, the reachability/distance primitive next to the component
  * (connectivity), PageRank (centrality), k-core (cohesion) and
  * triangle (clustering) lanes. Production shapes: "how far does a
  * recall/contamination set propagate through the co-occurrence
  * graph", influence radii, link-distance features.
  *
  * Scale shape (the CC/k-core discipline): each round expands the
  * CURRENT frontier only — one keyed join frontier⋈edges + one
  * anti-join against the settled set, all edge-linear keyed shuffles;
  * the frontier and settled sets are reliably checkpointed per round
  * (operators.Ckpt — disk files, not evictable cache; r15) so round
  * N's plan doesn't embed rounds 1..N−1. BFS settles each node
  * exactly once (the first time it's reached IS its minimum hop —
  * Dijkstra with unit weights), so total work across all rounds is
  * O(edges) regardless of round count, and the loop stops early the
  * moment a frontier comes back empty. */
object Bfs {

  /** Minimum hops from any seed over a SYMMETRIC (src, dst) edge list:
    * (node, hops), hops = 0 for seeds, settled nodes only (unreached
    * nodes are absent — at scale the unreached set is the corpus).
    * `maxHops` bounds the rounds; nodes further than it stay absent.
    *
    * The frontier/settled sides of the per-round joins are broadcast: a
    * checkpointed frontier has no size stats, so the planner would
    * otherwise SortMergeJoin — re-shuffling and re-sorting the whole
    * cached edge list EVERY round. Broadcast is right whenever the
    * settled set fits an executor (node-id + hop pairs — millions of
    * nodes are tens of MB). */
  def minHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    // Edges are materialized ONCE: without the pin every round
    // re-executes the caller's edge DERIVATION (for the co-purchase
    // graph, a self-join + distinct over the fact table — the dominant
    // cost). Only FRONTIERS are checkpointed beyond that (each is
    // materialized exactly once, when it's born); the settled set is a
    // flat union over the parquet frontiers — re-materializing it per
    // round would pay O(settled) again every round. (Probe-measured at
    // 100× bench scale: derivation 11 s, per-round cost ~2 s — the
    // round joins scan the cached edges once each, no re-shuffle.)
    // Plain persist with lineage KEPT (cheap deterministic upstream:
    // scan + distinct + repartition — evicted blocks recompute); loop
    // frames below cut lineage onto checkpoint files instead. The
    // result reads only those files, so the pin is released on return.
    val e = OpCaches.track(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    var frontier = Ckpt.viaParquet(seeds.select(col("node")).distinct()
      .select(col("node"), lit(0L).as("hops")))
    var settled = frontier
    var h = 1L
    var nFrontier = frontier.count() // metadata-only; sizes round writes
    var done = nFrontier == 0L
    while (h <= maxHops && !done) {
      val fr = broadcast(frontier)
      val next = Ckpt.viaParquet(e
        .join(fr, fr("node") === e("src"))
        .select(col("dst").as("node")).distinct()
        .join(broadcast(settled), Seq("node"), "left_anti")
        .select(col("node"), lit(h).as("hops")), Ckpt.partsFor(nFrontier))
      nFrontier = next.count() // metadata-only on the parquet frame
      done = nFrontier == 0L
      if (!done) {
        settled = settled.unionByName(next)
        frontier = next
      }
      h += 1
    }
    e.unpersist(blocking = false)
    OpCaches.untrack(e)
    settled
  }
}
