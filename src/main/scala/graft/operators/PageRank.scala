package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PageRank over a co-occurrence graph, Spark-first and engine-exact.
  *
  * Graph analytics is a family of its own; this is the classic power
  * iteration re-expressed as DataFrame joins so Catalyst plans it like
  * any other query (no GraphX RDDs):
  *
  *  - edges come from a co-occurrence self-join on the grouping key
  *    (parts sharing an order). Baskets over `maxBasket` items are
  *    excluded BEFORE pairing — per-basket pair count is quadratic in
  *    basket size, so one degenerate 10k-item basket would contribute
  *    50M edges; the cap is the same bounded-hot-group rule the
  *    blocking/banding operators carry (counted with one aggregate,
  *    replayed by the oracle).
  *  - each iteration is one join (ranks → edge sources) + one
  *    aggregation (sum of contributions per destination): shuffle cost
  *    is edge-linear, and at index scale the adjacency would be
  *    pre-partitioned by src so the join is co-located.
  *
  * Determinism: ranks live in integer MICRO-UNITS (total mass 10^12),
  * contributions use floor division by out-degree, and the damping step
  * is integer (15·(M/N))/100 + (85·Σ)/100. Every operation is exact
  * long arithmetic — no float summation order to diverge — so a SQL
  * replay produces bit-identical ranks, which is what makes the query
  * hash-checkable against DuckDB (float PageRank never is).
  *
  * The co-purchase graph is symmetric (both directions of every pair),
  * so there are no dangling nodes and no lost mass to redistribute.
  */
object PageRank {

  val TotalMass: Long = 1000000000000L // 10^12 micro-units

  /** Undirected co-occurrence edges: distinct (src, dst) pairs of items
    * sharing a group, both directions, groups capped at `maxBasket`. */
  def coOccurrenceEdges(df: DataFrame, group: Column, item: Column,
                        maxBasket: Int): DataFrame = {
    val items = df.select(group.as("g"), item.as("i")).distinct()
    val ok = items.groupBy(col("g")).count()
      .filter(col("count") <= maxBasket).select(col("g"))
    edgesFromItems(items.join(ok, "g"))
  }

  /** The pairing stage of [[coOccurrenceEdges]], split out so a
    * MATERIALIZED capped-items table (operators.CoPurchase) can feed it
    * without re-running the distinct+cap stage. `in` must hold distinct
    * capped (g, i) rows. */
  def edgesFromItems(in: DataFrame): DataFrame =
    in.select(col("g"), col("i").as("src"))
      .join(in.select(col("g"), col("i").as("dst")), Seq("g"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .distinct()

  /** (src, dst, outdeg) transition rows of an edge set — the
    * loop-invariant edge⋈degree join the power iterations consume,
    * split out so it can be MATERIALIZED write-once next to the edge
    * table (CoPurchase.transitionFull; r17, VERDICT r16 ask 6): the
    * pagerank and ppr lanes re-derived the degree table and re-joined
    * it inside every query execution (23.6 s / 17.9 s cold at sf1),
    * which is index-build work, not query work. outdeg here is the
    * same groupBy-count [[ranks]] computed inline, so the arithmetic
    * downstream is bit-identical. */
  def transitionsOf(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    edges.join(deg, "src").select(col("src"), col("dst"), col("outdeg"))
  }

  /** The node/out-degree table recovered from transition rows with one
    * row-local distinct (each (src, outdeg) pair repeats outdeg times).
    * Persisted via OpCaches: it seeds the iteration AND supplies the
    * node count. */
  private def degFromTransitions(trans: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    OpCaches.track(
      trans.select(col("src"), col("outdeg")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** Transition rows pinned HASH-PARTITIONED AND SORTED by src (r18,
    * guide §2.4 "remove shuffles outright"): the composed
    * N-iteration plan otherwise carries one FULL Exchange + Sort of
    * the transition table PER ITERATION (plan audit at sf1: five
    * `Scan parquet → Exchange(src) → Sort(src)` subtrees, zero
    * ReusedExchange in the initial plan — exchange reuse is an AQE
    * race, not a contract, the r17 lesson). One repartition +
    * sortWithinPartitions + persist gives every iteration's
    * sort-merge join a build side that needs NO exchange and NO sort
    * (InMemoryRelation preserves both partitioning and ordering), so
    * per-iteration movement drops to the small ranks side + the
    * map-side-combined contribution aggregation. Measured sf10
    * (settled runs): 142.3 s → 41.3 s, SCALE.md "sf10 confirmation
    * sweep on final r18 code".
    * Values unchanged — partitioning never affects the exact integer
    * arithmetic (PageRankSpec pins the forms equal). */
  private def pinnedBySrc(trans: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    OpCaches.track(
      trans.repartition(col("src")).sortWithinPartitions(col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** One damped power iteration over transition rows — the shared loop
    * body of [[ranksFromTransitions]] and
    * [[personalizedFromTransitions]] (and, through them, arithmetic-
    * identical to the inline [[ranks]]/[[personalized]] loops). */
  private def iterate(trans: DataFrame, r0: DataFrame, iterations: Int)
                     (damp: Column => Column): DataFrame = {
    var r = r0
    for (_ <- 1 to iterations) {
      val contrib = trans
        .join(r.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          expr("rank_micro div outdeg").as("c"))
      r = contrib.groupBy(col("node"))
        .agg(sum(col("c")).as("s"))
        .select(col("node"),
          (damp(col("node")) + expr("(85 * s) div 100")).as("rank_micro"))
    }
    r
  }

  /** Once-per-JVM JIT pre-warm of the iteration's generated classes
    * (r17; VERDICT r16 ask 5). MEASURED mechanism: the first execution
    * of the rank loop at 10× data pays ~150 s of HotSpot compiler time
    * while its whole-stage-codegen classes run interpreted over
    * full-size rows (fresh-JVM probe: 66.7 s run1 / 7.5 s run2, the
    * jit_ms column naming the gap), and the classes are plan-shape-
    * derived, not data-derived — so one cheap iteration over a 1-in-11
    * slice compiles and HotSpot-promotes the SAME classes (codegen
    * class names are AQE-numbering-stable since
    * spark.sql.codegen.useIdInClassName=false) before the real loop
    * touches full-size data. Charged to BuildMeter: it is once-per-JVM
    * warm-up work, exactly like a DerivedCache build. */
  private val iterPrewarmed = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def prewarmIteration(trans: DataFrame): Unit =
    if (!iterPrewarmed.getAndSet(true)) BuildMeter.time {
      // the slice rides pinnedBySrc too (r18): the real loop now joins
      // against an InMemoryTableScan, and a pre-warm over a parquet
      // scan would compile the WRONG generated classes for the hot
      // join stages
      val slice = pinnedBySrc(trans.filter(col("src") % 11 === 0))
      val deg = slice.select(col("src"), col("outdeg")).distinct()
      val r0 = deg.select(col("src").as("node"),
        lit(TotalMass / 1000L).as("rank_micro"))
      iterate(slice, r0, 1)(_ => lit(0L))
        .write.format("noop").mode("overwrite").save()
      slice.unpersist(blocking = false)
      OpCaches.untrack(slice)
    }

  /** [[ranks]] over PRE-BUILT (src, dst, outdeg) transition rows — the
    * serving shape when the transition table lives materialized
    * (CoPurchase.transitionFull): every iteration starts from a plain
    * scan (join ranks, aggregate), no degree derivation inside the
    * query. Same integer micro-units and floor divisions as [[ranks]],
    * so the ranks are bit-identical (PageRankSpec pins it). */
  def ranksFromTransitions(trans: DataFrame, iterations: Int): DataFrame = {
    prewarmIteration(trans)
    val transP = pinnedBySrc(trans)
    val deg = degFromTransitions(transP)
    val n = deg.count() // every node has out-edges (symmetric graph)
    val init = lit(TotalMass / n)
    val base = lit(15L * (TotalMass / n) / 100L)
    val r0 = deg.select(col("src").as("node"), init.as("rank_micro"))
    iterate(transP, r0, iterations)(_ => base)
  }

  /** [[personalized]] over PRE-BUILT transition rows — bit-identical
    * ranks (PageRankSpec pins it). */
  def personalizedFromTransitions(trans: DataFrame, seedMod: Long,
                                  iterations: Int): DataFrame = {
    prewarmIteration(trans)
    val transP = pinnedBySrc(trans)
    val deg = degFromTransitions(transP)
    val nSeeds = deg.filter(col("src") % seedMod === 0).count()
    require(nSeeds > 0, s"no seeds: no node is 0 mod $seedMod")
    val init = lit(TotalMass / nSeeds)
    val base = lit(15L * (TotalMass / nSeeds) / 100L)
    def seedCase(node: Column, v: Column): Column =
      when(node % seedMod === 0, v).otherwise(lit(0L))
    val r0 = deg.select(col("src").as("node"),
      seedCase(col("src"), init).as("rank_micro"))
    iterate(transP, r0, iterations)(node => seedCase(node, base))
  }

  /** Personalized PageRank: teleport mass returns only to the SEED set
    * (nodes ≡ 0 mod `seedMod` — a predicate the SQL oracle replays
    * verbatim), so rank concentrates around the seeds — the
    * similar-items / related-users form recommenders actually run
    * (random walk with restart). Same integer micro-unit arithmetic and
    * edge-linear iteration shape as [[ranks]]; non-seed nodes start at
    * 0 and receive only propagated mass. Returns (node, rank_micro). */
  def personalized(edges: DataFrame, seedMod: Long, iterations: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val e = OpCaches.track(edges.persist(StorageLevel.MEMORY_AND_DISK))
    val deg = OpCaches.track(
      e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val nSeeds = deg.filter(col("src") % seedMod === 0).count()
    require(nSeeds > 0, s"no seeds: no node is 0 mod $seedMod")
    val init = lit(TotalMass / nSeeds)
    val base = lit(15L * (TotalMass / nSeeds) / 100L)
    def seedCase(node: Column, v: Column): Column =
      when(node % seedMod === 0, v).otherwise(lit(0L))
    val ed = e.join(deg, "src")
      .select(col("src"), col("dst"), col("outdeg"))
    var r = deg.select(col("src").as("node"),
      seedCase(col("src"), init).as("rank_micro"))
    for (_ <- 1 to iterations) {
      val contrib = ed
        .join(r.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          expr("rank_micro div outdeg").as("c"))
      r = contrib.groupBy(col("node"))
        .agg(sum(col("c")).as("s"))
        .select(col("node"),
          (seedCase(col("node"), base) + expr("(85 * s) div 100"))
            .as("rank_micro"))
    }
    r
  }

  /** Fixed-iteration integer PageRank; returns (node, rank_micro). */
  def ranks(edges: DataFrame, iterations: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val e = OpCaches.track(edges.persist(StorageLevel.MEMORY_AND_DISK))
    val deg = OpCaches.track(
      e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val n = deg.count() // every node has out-edges (symmetric graph)
    val init = lit(TotalMass / n)
    val base = lit(15L * (TotalMass / n) / 100L)
    // the edge⋈degree join is loop-invariant but deliberately NOT
    // persisted: the identical subtree appears once per iteration and
    // Spark's ReuseExchange already dedups it inside the single job,
    // while an explicit persist pays materialization + cache pressure
    // on an edge-sized table (measured 25% slower at 10× bench scale)
    val ed = e.join(deg, "src")
      .select(col("src"), col("dst"), col("outdeg"))
    var r = deg.select(col("src").as("node"), init.as("rank_micro"))
    for (_ <- 1 to iterations) {
      // `div` (not `/`): Spark's `/` on longs is DOUBLE true division,
      // and a float quotient truncated back to long can differ from
      // exact integer division by 1 — enough to break bit-parity with
      // the oracle's `//`. `div` stays in exact long arithmetic.
      val contrib = ed
        .join(r.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          expr("rank_micro div outdeg").as("c"))
      r = contrib.groupBy(col("node"))
        .agg(sum(col("c")).as("s"))
        .select(col("node"),
          (base + expr("(85 * s) div 100")).as("rank_micro"))
    }
    r
  }
}
