package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components over a pair list: alternating large-star /
  * small-star rounds (Kiveris et al., "Connected Components in MapReduce
  * and Beyond", SoCC 2014), run until the edges form a verified star
  * forest. The one CC operator: near-dup clustering
  * ([[MinhashTables.clusters]]) and q_graph_components both call
  * [[clusters]].
  *
  * Input: undirected edges (idA, idB), any orientation, duplicates and
  * self-loops allowed. Output: (doc_id, cluster_id) for every id in the
  * input, cluster_id = the smallest id reachable through the edges — the
  * canonical representative to keep.
  *
  * Per round: large-star (every neighbor larger than u re-points at u's
  * neighborhood minimum) then small-star (every neighbor not larger than
  * u, and u itself, re-point at the minimum). Both are one window-min +
  * projection over the edge list — shuffles on the node key only, and
  * the edge set never grows beyond the input. A path of length L takes
  * O(log L) rounds (label propagation moves the minimum one hop per
  * round, so it takes L). Where a frame is read in two roles (both edge
  * directions, both endpoints), one `inline` or `explode` over a
  * two-element array emits both, so each frame is scanned once.
  *
  * Stop test: every round's edges point from a larger id to a smaller
  * one, and star rounds preserve connectivity. So once every pointer has
  * exactly one pointee and no pointee is itself a pointer, each
  * component is one star whose root is its minimum — the answer. The
  * check is one grouped aggregate over u ∪ v after each round; at least
  * one round always runs. No round cap: the labels are exact on any
  * diameter.
  *
  * Each round's edges are written to reliable storage (operators.Ckpt,
  * rotated) so round N's plan never embeds rounds 1..N-1. The input
  * itself is read by the first round and again by the labels, so pass a
  * plain scan: an expensive upstream plan would run each time.
  */
object DedupClusters {

  /** The labels (doc_id, cluster_id) and the number of star rounds run. */
  final case class ClusteringResult(labels: DataFrame, rounds: Int)

  def clusters(pairs: DataFrame, idA: Column, idB: Column): ClusteringResult = {
    val w = Window.partitionBy(col("u"))
    // edges out of it point larger -> smaller; duplicates are absorbed
    // by smallStar's window-min and final distinct
    def largeStar(e: DataFrame): DataFrame = {
      val both = e.select(inline(array(struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))))
      both.withColumn("m", least(min(col("v")).over(w), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    // over largeStar's edges: u's neighbors here are exactly those
    // smaller than u, so the window min is min(N(u) ∪ {u})
    def smallStar(e: DataFrame): DataFrame = {
      val withMin = e.withColumn("m", min(col("v")).over(w))
      withMin.select(inline(array(struct(col("v").as("u"), col("m").as("v")),
          struct(col("u"), col("m").as("v")))))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // (edge count, whether the distinct edges u -> v form a star forest)
    def starForest(e: DataFrame): (Long, Boolean) = {
      val byNode = e.select(inline(array(
          struct(col("u").as("x"), lit(1L).as("out"), lit(0).as("in")),
          struct(col("v").as("x"), lit(0L).as("out"), lit(1).as("in")))))
        .groupBy(col("x"))
        .agg(sum(col("out")).as("out"), max(col("in")).as("in"))
      val r = byNode.agg(
        coalesce(sum(col("out")), lit(0L)),
        coalesce(sum(when(col("out") > 1 || (col("out") > 0 && col("in") > 0), 1L)
          .otherwise(0L)), lit(0L))).collect().head
      (r.getLong(0), r.getLong(1) == 0L)
    }

    val ids = pairs.select(idA.as("u"), idB.as("v"))
    // bounded retention for the round chain (Ckpt.Rotation)
    val rot = new Ckpt.Rotation()
    var edges = ids
    var parts = 0
    var rounds = 0
    var done = false
    while (!done) {
      edges = rot.next(smallStar(largeStar(edges)), parts)
      val (n, stars) = starForest(edges)
      parts = Ckpt.partsFor(n)
      done = stars
      rounds += 1
    }
    // a leaf's label is its root; a root, and an id whose only edges
    // were self-loops, labels itself
    val labels = edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .unionAll(ids.select(explode(array(col("u"), col("v"))).as("doc_id"))
        .select(col("doc_id"), col("doc_id").as("cluster_id")))
      .groupBy(col("doc_id"))
      .agg(min(col("cluster_id")).as("cluster_id"))
    ClusteringResult(labels, rounds)
  }
}
