package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate clustering: connected components over a pair list, by
  * iterative minimum-label propagation.
  *
  * Input: undirected edges (id_a, id_b) from any of the Dedup candidate
  * generators. Output: (doc_id, cluster_id) where cluster_id is the
  * smallest doc id reachable through near-duplicate links — the canonical
  * representative to keep.
  *
  * Scale notes: each iteration is one groupBy shuffle on the doc id;
  * iteration count is the graph diameter, and near-dup graphs are
  * overwhelmingly tiny cliques (diameter ~1-2), so `maxIter` of a few
  * converges in practice. Each iteration's result has its lineage
  * truncated onto RELIABLE storage (operators.Ckpt — r15: was
  * localCheckpoint, whose evicted blocks are unrecomputable under
  * pressure) and the previous one released — no plan blow-up. This is
  * the standard large-graph CC shape (Hash-Min); for adversarial
  * diameters swap in large-star/small-star, which keeps the same
  * per-iteration shuffle.
  */
object DedupClusters {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Labels plus convergence telemetry: `iterations` actually run, and
    * whether the labels were VERIFIED stable (an iteration completed with
    * no label change) before `maxIter` cut the loop. An unconverged
    * result is still a valid partial clustering — every label is some
    * reachable doc id — but long chains may not have collapsed to their
    * global minimum yet. */
  final case class ClusteringResult(labels: DataFrame, iterations: Int,
                                    converged: Boolean)

  def clusters(pairs: DataFrame, idA: Column, idB: Column,
               maxIter: Int = 5): DataFrame = {
    val r = clustersWithStats(pairs, idA, idB, maxIter)
    if (!r.converged) {
      log.warn(s"DedupClusters: label propagation hit maxIter=$maxIter " +
        s"before verified convergence — long duplicate chains may carry " +
        s"non-canonical labels. Raise maxIter (diameter-bound) or use " +
        s"large-star/small-star for adversarial-diameter graphs.")
    }
    r.labels
  }

  def clustersWithStats(pairs: DataFrame, idA: Column, idB: Column,
                        maxIter: Int = 5): ClusteringResult = {
    // Reliably checkpoint (Ckpt.reliable) the edge list BEFORE deriving
    // anything from it, for two compounding reasons. (1) The
    // symmetrize-union below references `edges` four times, and Spark
    // unions don't share subtree computation — an un-truncated edge plan
    // (here: an entire MinHash-LSH pipeline) would execute 4×. (2)
    // persist caches DATA but keeps the full upstream plan, so every
    // loop iteration's logical plan would embed it plus all previous
    // iterations' — Catalyst re-analyzing that growing tree each round
    // soon dwarfs the (tiny) data work. Truncating lineage keeps every
    // iteration's plan two nodes deep. Truncation is onto DISK FILES,
    // not evictable cache — localCheckpoint blocks are unrecomputable
    // once evicted, the r14 gate's churn mode (see Ckpt scaladoc).
    val edges = Ckpt.viaParquet(pairs.select(idA.as("src"), idB.as("dst")))
    // symmetrize + self-loops so isolated link members keep themselves
    // sym is referenced every round but its upstream is now just the
    // edge CHECKPOINT FILES (4 union arms + distinct) — plain persist
    // keeps that cheap lineage, so evicted blocks recompute from disk
    // files instead of failing; no second checkpoint write needed
    val sym = OpCaches.track(edges
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .unionAll(edges.select(col("src"), col("src").as("dst")))
      .unionAll(edges.select(col("dst").as("src"), col("dst").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

    // label(v) starts as v, then repeatedly takes the min label among
    // neighbors (including itself, via the self-loop)
    var labels = Ckpt.viaParquet(sym.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("label")))
    // node count is CONSTANT across Hash-Min rounds — one metadata-only
    // count sizes every round's checkpoint write (Ckpt.partsFor)
    val nNodes = labels.count()
    // Hash-Min labels only ever decrease, so an unchanged label SUM is an
    // exact convergence test — one cheap aggregate per round, no join.
    def labelSum(df: DataFrame): Long =
      df.agg(sum(col("label"))).collect().head.getLong(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    // bounded retention for the label chain (Ckpt.Rotation): only the
    // newest two generations are reachable; older files are deleted as
    // rounds land. The `edges` base above is NOT rotated — `sym`'s
    // persisted blocks recompute through those files.
    val rot = new Ckpt.Rotation()
    while (iter < maxIter && !converged) {
      val next = rot.next(sym
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("label", "dst_label"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("dst_label")).as("label")), Ckpt.partsFor(nNodes))
      val nextSum = labelSum(next)
      labels.unpersist()
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      iter += 1
    }
    sym.unpersist()
    OpCaches.untrack(sym)
    ClusteringResult(
      labels.select(col("id").as("doc_id"), col("label").as("cluster_id")),
      iterations = iter, converged = converged)
  }

  /** Connected components via alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the adversarial-diameter upgrade over Hash-Min: a path of length L
    * needs L Hash-Min rounds but only O(log L) star rounds, because each
    * round re-points whole neighborhoods at their minimum instead of
    * moving labels one hop.
    *
    * Per round: large-star (every neighbor larger than u re-points at
    * u's neighborhood minimum) then small-star (every neighbor not larger
    * than u, and u itself, re-point at the minimum). Both are one
    * window-min + projection over the edge list — shuffles on the node
    * key only, edge set never grows beyond the input. Convergence =
    * edge-set fixpoint, detected by an order-independent (count,
    * hash-sum) signature — one cheap aggregate per round. At the
    * fixpoint the edges form stars around component minima. */
  def clustersLargeSmallStar(pairs: DataFrame, idA: Column, idB: Column,
                             maxIter: Int = 20): ClusteringResult = {
    import org.apache.spark.storage.StorageLevel
    val w = Window.partitionBy(col("u"))
    def largeStar(e: DataFrame): DataFrame = {
      val both = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      both.withColumn("m", least(min(col("v")).over(w), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val withMin = dir.withColumn("m", least(min(col("v")).over(w), col("u")))
      withMin.select(col("v").as("u"), col("m").as("v"))
        .unionAll(withMin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def signature(e: DataFrame): (Long, String) = {
      // decimal-width sum: ANSI mode would overflow a long hash-sum
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).collect().head
      (r.getLong(0), String.valueOf(r.get(1)))
    }

    // Truncate the input lineage FIRST: `nodes` and `edges` below
    // reference the pair plan three times between them, and Spark unions
    // don't share subtree computation — an un-truncated candidate-pair
    // pipeline would execute 3×. Reliable checkpoints (Ckpt) rather than
    // persist throughout: each star round builds on the previous round's
    // plan, so without lineage TRUNCATION the logical plan grows
    // exponentially with rounds (persist caches data but keeps lineage)
    // — and the truncated state must live on reliable storage, not in
    // evictable block-manager cache (r15; see Ckpt scaladoc).
    val base = Ckpt.viaParquet(pairs.select(idA.as("u"), idB.as("v")))
    val nodes = OpCaches.track(base.select(col("u").as("id"))
      .unionAll(base.select(col("v").as("id")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK))
    nodes.count()
    var edges = Ckpt.viaParquet(base
      .filter(col("u") =!= col("v")).distinct())
    var prevSig = signature(edges)
    var iter = 0
    var converged = false
    // bounded retention for the star chain (Ckpt.Rotation) — `base`
    // stays un-rotated: `nodes`' persisted blocks recompute through it
    val rot = new Ckpt.Rotation()
    while (iter < maxIter && !converged) {
      val next = rot.next(smallStar(largeStar(edges)),
        Ckpt.partsFor(prevSig._1))
      val nextSig = signature(next)
      edges.unpersist()
      edges = next
      converged = nextSig == prevSig
      prevSig = nextSig
      iter += 1
    }
    // star fixpoint: every non-minimum points at its component minimum;
    // minima (and singletons) label themselves
    val labels = nodes
      .join(edges.select(col("u").as("id"), col("v").as("label")), Seq("id"), "left")
      .select(col("id").as("doc_id"), coalesce(col("label"), col("id")).as("cluster_id"))
    nodes.unpersist()
    OpCaches.untrack(nodes)
    ClusteringResult(labels, iterations = iter, converged = converged)
  }
}
