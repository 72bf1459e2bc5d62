package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Exact triangle counting by degree-ordered edge orientation.
  *
  * The standard scalable algorithm (node-iterator++ / the MapReduce
  * formulation of Suri & Vassilvitskii's "Counting Triangles and the
  * Curse of the Last Reducer", WWW'11): orient every undirected edge
  * from its (degree, id)-smaller endpoint to the larger one, build
  * wedges only from each node's ORIENTED out-neighbors, and close them
  * against oriented edges. Orientation bounds each node's out-degree by
  * O(√m), so wedge fan-out is O(m^1.5) worst-case instead of Σdeg² —
  * the hub that would explode an id-ordered wedge join (a part in every
  * basket → deg² wedges) contributes almost nothing because high-degree
  * endpoints sit on the receiving side.
  *
  * Everything is joins + integer counts — exactly replayable in SQL,
  * so the per-node triangle participation is hash-checked cross-engine.
  *
  * r15 — the ADAPTIVE plan ([[perNodeAdaptive]]): wedge volume
  * Σ C(outdeg⁺, 2) is the plan's one true cost driver, and it is ONE
  * cheap aggregate over the oriented edges (q_skew_report's shape), so
  * the operator measures it and sizes the physical plan instead of
  * running a fixed shape at every scale:
  *  - the CLOSE shuffle (wedges hashed by (v, w)) gets
  *    wedges / [[wedgesPerPartition]] partitions when that exceeds the
  *    session's shuffle parallelism — at sf1 the fixed 32-partition
  *    close put ~13M wedges (~400 MB) in every task and spilled
  *    (measured 140 s; ~3M wedges/task runs 37-65 s on the same box);
  *    below the threshold the plan is untouched (no extra exchanges);
  *  - the slice count K = ceil(wedges / [[wedgesPerSlice]]) bounds LIVE
  *    shuffle disk at ~1/K of the monolithic plan (the sf10 lesson:
  *    4.1B wedges fill a single machine's disk), each slice reduced to
  *    per-node counts and lineage-truncated before the next runs.
  * Results are identical for every (K, partitions) — TrianglesSpec
  * pins it — so the switch is pure physics, not semantics.
  */
object Triangles {

  /** Wedges per close-shuffle partition (~3M ≈ 75 MB of (u,v,w) rows —
    * sorts in memory with headroom at default executor sizing). */
  val wedgesPerPartition: Long = 3000000L

  /** Wedges per slice: bounds live shuffle disk of one slice to
    * ~25 GB; a 100 TB deployment with real cluster disk raises it. */
  val wedgesPerSlice: Long = 800000000L

  /** The plan the adaptive entry picked — exposed so specs (and
    * SCALE.md audits) can pin WHEN the slice plan engages. */
  final case class Plan(wedges: Long, batches: Int, closeParts: Int)

  /** Pure sizing rule (spec-pinned): slices bound disk, close
    * partitions bound per-task sort size; `defaultParts` (the session
    * shuffle parallelism) is the floor below which the plan is left
    * untouched — 0 means "no repartition". */
  private[graft] def choose(wedges: Long, perSlice: Long, perPart: Long,
                            defaultParts: Int): Plan = {
    val batches = math.max(1L, (wedges + perSlice - 1) / perSlice)
    val wanted = wedges / math.max(1L, perPart)
    val closeParts =
      if (wanted <= defaultParts) 0
      else math.min(wanted, 65536L).toInt
    Plan(wedges, batches.toInt, closeParts)
  }

  /** Σ C(outdeg⁺, 2) over an oriented edge list — the exact wedge
    * count the close join will materialize. One aggregate. */
  def wedgeVolume(oriented: DataFrame): Long =
    oriented.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .agg(sum(expr("d * (d - 1) div 2"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }

  private[graft] def orient(und: DataFrame): DataFrame = {
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("d"))
    // keep one direction per undirected edge: (deg, id)-smaller → larger
    und
      .join(deg.select(col("src"), col("d").as("du")), "src")
      .join(deg.select(col("src").as("dst"), col("d").as("dv")), "dst")
      .filter(col("du") < col("dv") ||
        (col("du") === col("dv") && col("src") < col("dst")))
      .select(col("src").as("u"), col("dst").as("v"), col("dv"))
  }

  /** Per-node triangle participation over a symmetric distinct edge
    * list (both directions present, no self-loops).
    *
    * `batches` bounds the LIVE shuffle footprint, not the total work
    * (see the object doc); `closeParts` > 0 widens the close join's
    * shuffle to that many partitions (0 = leave the session default).
    * [[perNodeAdaptive]] picks both from the measured wedge volume;
    * this entry keeps them explicit for the scale tools and specs. */
  def perNode(und: DataFrame, batches: Int = 1,
              closeParts: Int = 0): DataFrame = {
    val oriented0 = orient(und)
    val oriented = if (batches > 1)
      OpCaches.track(oriented0.persist(StorageLevel.MEMORY_AND_DISK))
    else oriented0
    perNodeOn(oriented, batches, closeParts)
  }

  /** [[perNode]] over an already-oriented (and, for batches > 1,
    * persisted) edge list. */
  private def perNodeOn(oriented: DataFrame, batches: Int,
                        closeParts: Int): DataFrame = {
    def closeSlice(slice: DataFrame): DataFrame = {
      // wedges (u; v ≺ w) from u's oriented out-neighbors, closed by
      // the oriented edge v→w (≺ is the orientation's (deg, id) order)
      val perSliceParts =
        if (closeParts <= 0) 0
        else math.max(1, closeParts / math.max(1, batches))
      val wedges0 = slice.select(col("u"), col("v"), col("dv"))
        .join(slice.select(col("u"), col("v").as("w"), col("dv").as("dw")),
          Seq("u"))
        .filter(col("dv") < col("dw") ||
          (col("dv") === col("dw") && col("v") < col("w")))
        .select(col("u"), col("v"), col("w"))
      val right0 = oriented.select(col("u").as("v"), col("v").as("w"))
      // widen the close shuffle when the wedge volume demands it: both
      // sides repartitioned on the join key, so the SMJ reuses the
      // exchange — the spill-or-not knob measured in SCALE.md r15
      val (wedges, right) =
        if (perSliceParts <= 0) (wedges0, right0)
        else (wedges0.repartition(perSliceParts, col("v"), col("w")),
          right0.repartition(perSliceParts, col("v"), col("w")))
      val tris = wedges.join(right, Seq("v", "w"))
      tris.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
        .groupBy(col("node"))
        .agg(count(lit(1)).as("c"))
    }

    if (batches <= 1) closeSlice(oriented)
      .select(col("node"), col("c").as("n_triangles"))
    else {
      val parts = (0 until batches).map { k =>
        val slice = closeSlice(oriented.filter(
            pmod(xxhash64(col("u")), lit(batches)) === k))
        // parquet-round-trip truncation severs lineage to the slice
        // shuffles onto DISK files (Ckpt, r15 — evicted localCheckpoint
        // blocks are unrecomputable; per-node count frames are tiny)
        val t = Ckpt.viaParquet(slice)
        // unregister the slice's wedge shuffles DETERMINISTICALLY so
        // disk frees before the next slice starts writing (the whole
        // point of batching) — no GC/weak-ref timing involved:
        // cleanShuffleDependencies (SPARK-31756) walks the severed
        // plan's ancestry and stops at any persisted RDD, so the cached
        // oriented edge list and its upstream shuffle survive while the
        // slice-local wedge/close shuffle files are removed now
        slice.queryExecution.toRdd.cleanShuffleDependencies(blocking = true)
        t
      }
      parts.reduce(_ unionAll _)
        .groupBy(col("node"))
        .agg(sum(col("c")).as("n_triangles"))
    }
  }

  /** Edge-iterator plan with merged adjacency intersections (r15) —
    * the plan that ELIMINATES the wedge materialization entirely
    * (Shun & Tangwongsan's merge-based exact counting, expressed
    * relationally): per oriented edge (u, v), the third vertices of
    * the triangles it closes are exactly N⁺(u) ∩ N⁺(v), computed by
    * the primitive two-pointer merge kernel over SORTED out-neighbor
    * arrays (plans.SetKernels.sortedIntersectLongs). Work is the same
    * O(m^1.5) comparison bound as the wedge-join plan, but the
    * comparisons are in-cache primitive longs instead of 600M-row
    * shuffle+sort traffic — measured at sf1: 157 s (wedge plan, 1.8k s
    * executor CPU in the close) → the merge plan's joins move only
    * edge-sized tables (m rows + the node-sized adjacency arrays,
    * out-degree ≤ O(√m) by orientation) and the only output-sized
    * explode is the 3·T credit rows. Credits: at edge (u, v) with
    * k = |N⁺(u) ∩ N⁺(v)| common vertices, u and v each participate in
    * k triangles and each common w in one — summed per node, exactly
    * [[perNode]]'s result (TrianglesSpec pins identity on random
    * graphs and the real fixture). */
  def perNodeMerge(und: DataFrame): DataFrame = {
    val oriented = orient(und).select(col("u"), col("v"))
    perNodeMergeOn(oriented, adjacencyOf(oriented))
  }

  /** Sorted out-neighbor adjacency of an oriented (u, v) edge list —
    * one row per source with its ascending neighbor array (out-degree
    * ≤ O(√m) by orientation, so rows stay small). Split out (r16) so
    * the co-purchase lane can MATERIALIZE it write-once
    * (CoPurchase.triAdjacency): the orientation + this groupBy were
    * the catalog lane's dominant repeated cost at sf1, and like any
    * index they belong in a nightly build, not in every query. Longs
    * round-trip parquet exactly and element order is preserved, so the
    * materialized form is row-identical to the inline one. */
  def adjacencyOf(oriented: DataFrame): DataFrame =
    oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))

  /** Adjacency-element bound under which [[perNodeMergeAuto]]
    * broadcasts the adjacency instead of shuffling it through the two
    * joins. WHY THIS IS THE LEVER (r16, measured): the merge plan's
    * dominant cost is not the intersections — it is the JOINS carrying
    * a full neighbor array on every edge row: Σ_(u,v) (d⁺u + d⁺v)
    * longs of shuffle payload (1.33 B longs ≈ 10.6 GB at sf1 for 411 M
    * comparisons — the 80 s close stage; SCALE.md "The triangle lane,
    * fully decomposed"). The
    * adjacency TABLE is tiny by comparison (one row per node,
    * Σd⁺ = m elements — 12 M at sf1), so while it fits executor
    * memory, broadcasting it turns both joins into build-free hash
    * probes and the array payload never moves. 50 M longs ≈ 400 MB
    * raw ≈ low-GB hashed — beyond that (sf10+: 120 M), the shuffle
    * plan engages automatically, same result. */
  val broadcastableAdjElems: Long = 50000000L

  /** Once-per-JVM JIT pre-warm of the merge plan's generated classes
    * (r17; same mechanism as PageRank.prewarmIteration, measured the
    * same way: the lane's first sf1 execution ran its 411 M-comparison
    * intersect stage interpreted — 129 s run1 / 7.5 s run2 in a fresh
    * JVM, ~144 s of HotSpot compiler time in the jit_ms column). One
    * merge pass over a 1-in-11 node slice compiles the same classes
    * (class names are AQE-numbering-stable) against a few thousand
    * rows. Charged to BuildMeter like the index builds. */
  private val mergePrewarmed = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def prewarmMerge(oriented: DataFrame, adj: DataFrame,
                           broadcastAdj: Boolean): Unit =
    if (!mergePrewarmed.getAndSet(true)) graft.operators.BuildMeter.time {
      perNodeMergeOn(oriented.filter(col("u") % 11 === 0),
          adj.filter(col("u") % 11 === 0), broadcastAdj)
        .write.format("noop").mode("overwrite").save()
    }

  /** [[perNodeMergeOn]] with the broadcast decision taken from the
    * oriented edge count (= total adjacency elements): one
    * metadata-only count on the materialized parquet. */
  def perNodeMergeAuto(oriented: DataFrame, adj: DataFrame): DataFrame = {
    val broadcastAdj = oriented.count() <= broadcastableAdjElems
    prewarmMerge(oriented, adj, broadcastAdj)
    perNodeMergeOn(oriented, adj, broadcastAdj)
  }

  /** The merge plan over PRE-BUILT oriented edges + adjacency — the
    * serving shape when both live as materialized tables. `oriented`
    * must be the (u, v) rows [[orient]] produces; `adj` must be
    * [[adjacencyOf]] of exactly those rows. `broadcastAdj` picks the
    * broadcast-probe physical shape (see [[broadcastableAdjElems]]);
    * results are identical either way (spec-pinned). */
  def perNodeMergeOn(oriented: DataFrame, adj: DataFrame,
                     broadcastAdj: Boolean = false): DataFrame = {
    val hint = (df: DataFrame) => if (broadcastAdj) broadcast(df) else df
    val tris = oriented.select(col("u"), col("v"))
      .join(hint(adj.select(col("u"), col("nbrs").as("nu"))), Seq("u"))
      .join(hint(adj.select(col("u").as("v"), col("nbrs").as("nv"))), Seq("v"))
      .select(col("u"), col("v"),
        graft.plans.SetKernels.sortedIntersectLongs(col("nu"), col("nv"))
          .as("ws"))
      .filter(size(col("ws")) > 0)
    val perEdge = tris.select(col("u"), col("v"), col("ws"),
      size(col("ws")).cast("long").as("k"))
    perEdge.select(explode(array(col("u"), col("v"))).as("node"),
        col("k").as("c"))
      .unionAll(perEdge.select(explode(col("ws")).as("node"),
        lit(1L).as("c")))
      .groupBy(col("node"))
      .agg(sum(col("c")).as("n_triangles"))
  }

  /** The self-sizing entry (the catalog lane): measures wedge volume on
    * the persisted oriented edges, then runs [[perNode]]'s machinery at
    * the [[choose]]-picked slice count and close-shuffle width. Cost of
    * the measurement: one aggregate over the oriented edge list the
    * plan needs persisted anyway. Thresholds are parameters so specs
    * can force the switch on small fixtures. */
  def perNodeAdaptive(und: DataFrame,
                      perSlice: Long = wedgesPerSlice,
                      perPart: Long = wedgesPerPartition): DataFrame = {
    val oriented =
      OpCaches.track(orient(und).persist(StorageLevel.MEMORY_AND_DISK))
    val plan = choose(wedgeVolume(oriented), perSlice, perPart,
      und.sparkSession.sessionState.conf.numShufflePartitions)
    perNodeOn(oriented, plan.batches, plan.closeParts)
  }
}
