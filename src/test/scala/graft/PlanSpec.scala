package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan properties that matter at 100 TB: filters reaching the
  * parquet scan, column pruning, broadcast joins on dimension tables,
  * whole-stage codegen on the hot paths. These assert the plan SHAPE so a
  * regression (e.g. a lost pushdown after a refactor) fails loudly. */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Plan after execution — AQE only finalizes (and wraps codegen stages)
    * once the query has actually run. */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q1: ship-date filter is pushed to the parquet scan") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"expected pushed filter in:\n$p")
  }

  test("q1: scan reads only the needed columns") {
    val p = plan("q1_pricing_summary")
    // 7 of 16 lineitem columns; o_orderkey etc must not appear in ReadSchema
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_partkey") && !read.contains("l_comment"),
      s"column pruning lost: $read")
    assert(read.contains("l_returnflag") && read.contains("l_quantity"))
  }

  test("q5: dimension joins are broadcast, not shuffled") {
    val p = plan("q5_local_supplier")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("q_semi_join plans as a semi join (no row multiplication)") {
    val p = plan("q_semi_join")
    assert(p.contains("LeftSemi"), s"no semi join in:\n$p")
  }

  test("core aggregation runs inside whole-stage codegen") {
    val p = finalPlan("q1_pricing_summary")
    // codegen stages print as `*(n) HashAggregate...` in the plan string
    assert(p.contains("*(1)") && p.contains("HashAggregate"), s"no codegen span in:\n$p")
  }

  test("ANN brute force broadcasts the query side") {
    val p = plan("q_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side not broadcast in:\n$p")
  }

  test("embedding dedup joins on the LSH bucket key — never all-pairs") {
    val p = plan("q_dedup_embedding")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"all-pairs/nested-loop join in:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), s"no bucket equi-join in:\n$p")
  }

  test("as-of join: one key shuffle, one window, no range-probe join") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter($"event_type" === "click").select($"user_id", $"ts", $"event_id")
    val purchases = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"ts").agg(org.apache.spark.sql.functions.max($"value").as("pvalue"))
    val df = operators.AsOfJoin.backward(clicks, purchases,
      Seq("user_id"), "ts", "ts", Seq("pvalue"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // all last() columns share one window spec → exactly one Window node
    assert(p.linesIterator.count(_.contains("Window [")) == 1,
      s"expected exactly one Window:\n$p")
  }

  test("group sample and compact-latest rewrite to TopKPerGroup") {
    plans.GraftExtensions.install(spark)
    val gs = plan("q_group_sample")
    assert(gs.contains("TopKFinal") && gs.contains("TopKLocal"),
      s"q_group_sample did not rewrite:\n$gs")
    val cl = plan("q_compact_latest")
    assert(cl.contains("TopKFinal") && cl.contains("TopKLocal"),
      s"q_compact_latest (rn = 1) did not rewrite:\n$cl")
  }

  test("events scan prunes to the projected columns") {
    val p = plan("q_events_windowed")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("props"), s"events scan reads unused props: $read")
  }

  test("IVF search is a cell equi-join with the query side broadcast — never all-pairs") {
    val p = plan("q_ann_ivf")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"all-pairs/nested-loop join in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"query side not broadcast in:\n$p")
  }

  test("weighted sample plans as bounded top-k, not a global sort") {
    val p = plan("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject (per-partition bounded top-k):\n$p")
    // The unpartitioned ranking window must sit ABOVE the k-row top-k
    // (tree prints root-first, so its line comes earlier): it then ranks
    // only the k survivors. A refactor that slid it below the limit would
    // single-partition-sort the whole corpus.
    val winLine = p.linesIterator.indexWhere(_.contains("Window ["))
    val topkLine = p.linesIterator.indexWhere(_.contains("TakeOrderedAndProject"))
    assert(winLine >= 0 && winLine < topkLine,
      s"ranking window not above the bounded top-k (window line $winLine, " +
        s"top-k line $topkLine):\n$p")
  }

  test("audio synthesis fans out before the CPU-bound codec stage") {
    val p = plan("q_audio_fingerprint")
    // same contract as the image pipeline: codec parallelism pinned to
    // cores, not the source table's file count
    assert(p.contains("RoundRobinPartitioning"),
      s"id fan-out repartition missing before the audio codec stage:\n$p")
  }

  test("image synthesis fans out before the CPU-bound codec stage") {
    val p = plan("q_image_phash")
    // the 8-byte id rows round-robin to full parallelism so the codec
    // chain isn't bound to the source table's file count (SCALE.md)
    assert(p.contains("RoundRobinPartitioning"),
      s"id fan-out repartition missing before the codec stage:\n$p")
  }

  test("repetition signals are a single scan projection — no shuffle before the sort") {
    val p = plan("q_repetition")
    // per-row kernels (distinct-bigram count, top-token count) replaced
    // the explode + two groupBys; the only exchange left is the output
    // orderBy's range partitioning
    val exchanges = p.linesIterator.count(_.contains("Exchange "))
    assert(exchanges == 1, s"expected only the output sort's exchange, got $exchanges:\n$p")
    assert(!p.contains("Generate explode"), s"explode crept back in:\n$p")
  }

  test("SCD2's two window passes share one shuffle on the key") {
    val p = plan("q_scd2")
    // both Window nodes partition on user_id → exactly one Exchange
    // hashpartitioning(user_id) feeds them (plus the final sort's range
    // exchange from the driver query's orderBy)
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("user_id"))
    assert(hashEx == 1, s"expected one key shuffle, got $hashEx:\n$p")
    assert(p.linesIterator.count(_.contains("Window [")) == 2,
      s"expected two Window nodes:\n$p")
  }

  test("heavy hitters: corpus total is broadcast, aggregation is partial+final") {
    val p = plan("q_heavy_hitters")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"scalar total not broadcast in:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"no partial aggregation in:\n$p")
  }

  test("text chunking stays in the scan stage — no shuffle before explode") {
    val p = plan("q_text_chunk")
    // the only Exchange allowed is the final orderBy's rangepartitioning
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"chunking introduced a non-sort shuffle:\n$exchanges")
  }

  test("bm25 top-k rewrites to the bounded TopKPerGroup operator") {
    plans.GraftExtensions.install(spark)
    val p = plan("q_bm25")
    assert(p.contains("TopKFinal") && p.contains("TopKLocal"),
      s"q_bm25 ranking did not rewrite:\n$p")
  }

  test("decontamination: training grams filtered by a broadcast benchmark set") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark gram set not broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"training side shuffled for the gram join:\n$p")
  }

  test("vector quantization stays in the scan stage — no shuffle") {
    val p = plan("q_vector_quantize")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"quantization introduced a non-sort shuffle:\n$exchanges")
  }

  test("PII masking stays in the scan stage — no shuffle") {
    val p = plan("q_pii_mask")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"masking introduced a non-sort shuffle:\n$exchanges")
  }

  test("sequence packing shuffles once on the shard key") {
    val p = plan("q_seq_pack")
    // one hash exchange (the per-shard window/groupBy share partitioning);
    // the final sort's range exchange is allowed
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 2, s"expected at most 2 hash shuffles, got $hashEx:\n$p")
  }

  test("record linkage: every comparison is block- or window-local") {
    val p = plan("q_record_linkage")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"linkage planned an all-pairs join:\n$p")
  }

  test("semantic dedup: pair scoring is a cell equi-join, never all-pairs") {
    val p = plan("q_semantic_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"semantic dedup planned an all-pairs join:\n$p")
  }

  test("pagerank: top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("q_pagerank")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator in:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pagerank planned an all-pairs join:\n$p")
  }

  test("triangles: wedge closure is equi-join only; top-k never global-sorts") {
    val p = plan("q_triangles")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator in:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"triangle closure planned an all-pairs join:\n$p")
  }

  test("MAD outliers: group stats come back as broadcast joins over the scan") {
    val p = plan("q_mad_outliers")
    assert(p.contains("BroadcastHashJoin"), s"stats not broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"fact scan shuffled for the stats join:\n$p")
  }

  test("stratified k-fold: assignment is scan-stage, one agg shuffle only") {
    val p = plan("q_stratified_kfold")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly 1 hash shuffle, got $hashEx:\n$p")
  }

  test("allpairs: candidates come from equi-joins, never an all-pairs cross") {
    val p = plan("q_allpairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"prefix filtering planned an all-pairs join:\n$p")
    graft.operators.OpCaches.releaseAll()
  }

  test("ngram novelty: split overlap is a semi-join, never a cross") {
    val p = plan("q_ngram_novelty")
    assert(p.contains("LeftSemi"), s"no semi join in:\n$p")
    assert(!p.contains("CartesianProduct"), s"gram overlap went cross:\n$p")
  }

  test("burstiness: one token-moments shuffle, corpus count broadcast back") {
    val p = plan("q_burstiness")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row corpus count not broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("uplift: the orders date window pushes to the parquet scan") {
    val p = plan("q_uplift")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"expected pushed date filter in:\n$p")
  }

  test("ann rank metrics: truth joins broadcast; no lane goes cross") {
    val p = plan("q_ann_rank_metrics")
    assert(p.contains("BroadcastHashJoin"), s"truth not broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"), s"a lane planned all-pairs:\n$p")
    graft.operators.OpCaches.releaseAll()
  }

  test("allpairs compact: distinct-set join is equi-join only") {
    val p = plan("q_allpairs_compact")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"compact join planned an all-pairs cross:\n$p")
    graft.operators.OpCaches.releaseAll()
  }

  test("incremental agg: base/delta cutoffs push to both parquet scans") {
    val p = plan("q_incremental_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate") &&
      p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"cutoff filters not pushed to the scans:\n$p")
    assert(p.contains("partial_count"), s"no partial aggregation in:\n$p")
  }

  test("inverted index: posting sample rewrites to bounded TopKPerGroup") {
    val p = plan("q_inverted_index")
    assert(p.contains("TopKFinal") && p.contains("TopKLocal"),
      s"posting sample not rewritten to bounded heaps:\n$p")
  }

  test("window-fn surface: one user shuffle feeds all five functions") {
    val p = plan("q_window_fns")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly 1 hash shuffle, got $hashEx:\n$p")
  }

  test("full outer reconciliation: aggregate before the join") {
    val p = plan("q_full_outer")
    // the events side must partial-aggregate below the outer join —
    // the join carries one row per user, never raw events
    val idx = p.indexOf("FullOuter")
    assert(idx >= 0, s"no full outer join in:\n$p")
    assert(p.indexOf("partial_count", idx) > 0,
      s"events not pre-aggregated below the join:\n$p")
  }

  test("skyline: level thresholds broadcast back over the scan") {
    val p = plan("q_skyline")
    assert(p.contains("BroadcastHashJoin"), s"thresholds not broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for the threshold join:\n$p")
  }

  test("OHLC resample: window and groupBy share one (user, bucket) shuffle") {
    val p = plan("q_resample_ohlc")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly 1 hash shuffle, got $hashEx:\n$p")
  }

  test("regression: one partial+final agg shuffle, moments map-side") {
    val p = plan("q_regression")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly 1 hash shuffle, got $hashEx:\n$p")
    assert(p.contains("partial_"), s"no partial aggregation in:\n$p")
  }

  test("KMV sketch build rewrites to bounded TopK heaps") {
    val p = plan("q_kmv_distinct")
    assert(p.contains("TopKFinal") && p.contains("TopKLocal"),
      s"bottom-k not rewritten to bounded heaps:\n$p")
  }

  test("IVFADC: cell equi-join with broadcast queries, never all-pairs") {
    val p = plan("q_ann_pq")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"all-pairs join in:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"query side (probes + dist tables) not broadcast in:\n$p")
  }

  test("snapshot diff: one full-outer key join, classification map-side") {
    val p = plan("q_snapshot_diff")
    assert(p.contains("FullOuter"), s"no full outer join in:\n$p")
    // exactly one window (the CDC collapse) and no extra diff pass
    val windows = p.linesIterator.count(_.trim.startsWith("Window")) +
      p.linesIterator.count(_.contains("TopKFinal"))
    assert(windows <= 2, s"unexpected extra passes:\n$p")
  }

  test("chi-square: margins broadcast back, corpus shuffles once") {
    val p = plan("q_chisq")
    assert(p.contains("BroadcastHashJoin"), s"margins not broadcast in:\n$p")
  }

  test("zone maps: probe classification is a broadcast cross of metadata") {
    val p = plan("q_zonemap")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct")
      || p.contains("BroadcastHashJoin"),
      s"probe table not broadcast over file stats:\n$p")
    // the corpus itself is only aggregated — per-layout scans + aggs
    assert(p.contains("partial_count") || p.contains("partial_min"),
      s"zone stats not partial-aggregated:\n$p")
  }

  test("EWMA: one key shuffle, fold runs map-side after it") {
    val p = plan("q_ewma")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly 1 hash shuffle, got $hashEx:\n$p")
  }

  test("BPE pair counts: merge-replace chain stays in the scan stage (no extra shuffle)") {
    import org.apache.spark.sql.functions.col
    val words = operators.Bpe.wordCounts(Tables.documents(spark, sf), col("text"))
    val merges = Seq(operators.Bpe.Merge(1, "t", "h", 0L),
      operators.Bpe.Merge(2, "th", "e", 0L))
    val p = operators.Bpe.pairCounts(words,
        operators.Bpe.applyMerges(operators.Bpe.render(col("word")), merges))
      .queryExecution.executedPlan.toString
    // exactly 2 hash shuffles end to end: word distinct + pair agg — the
    // replace chain and pair explode ride the scan/agg stages
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 2, s"expected 2 hash shuffles (words, pairs), got $hashEx:\n$p")
    // replace is the codegen'd StringReplace, not a UDF
    assert(p.contains("replace(") && !p.contains("UDF"),
      s"merge application not a native replace:\n$p")
  }

  test("co-occurrence recs: the basket self-join reuses one distinct exchange") {
    plans.GraftExtensions.install(spark)
    val p = finalPlan("q_cooccur_recs")
    // the (order, item) distinct feeds both join sides; a healthy plan
    // shares it (ReusedExchange under AQE) instead of recomputing
    assert(p.contains("ReusedExchange") || p.contains("ReusedSubquery")
      || p.linesIterator.count(_.contains("FileScan parquet")) <= 2,
      s"self-join recomputes the distinct scan:\n$p")
    // top-5 per item is bounded BEFORE the final shuffle — either our
    // TopKPerGroup heaps or Spark's native partial WindowGroupLimit
    // (rank<=k pushed below the exchange); both keep per-item heaps, so
    // no item's full candidate list ever funnels through one task
    assert(p.contains("TopKLocal") || p.contains("WindowGroupLimit"),
      s"rank not bounded below the shuffle:\n$p")
  }

  test("communities: per-round argmax rewrites to bounded TopKPerGroup") {
    import org.apache.spark.sql.functions.col
    plans.GraftExtensions.install(spark)
    val edges = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") % 50 === 0)
    val e2 = operators.PageRank.coOccurrenceEdges(
      edges, col("l_orderkey"), col("l_partkey"), maxBasket = 8)
    val labels0 = e2.select(col("src").as("node"))
      .distinct().select(col("node"), col("node").as("label"))
    val p = operators.LabelProp.adoptionRound(e2, labels0)
      .queryExecution.executedPlan.toString
    assert(p.contains("TopKLocal") || p.contains("WindowGroupLimit"),
      s"round argmax not a bounded heap:\n$p")
  }

  test("fk integrity: dimension parents join broadcast") {
    val p = plan("q_fk_integrity")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast anti joins in:\n$p")
    assert(p.contains("LeftAnti"), s"orphan check not an anti join:\n$p")
  }

  test("q17: correlated scalar subqueries decorrelate to aggregate joins — no per-row subplan") {
    val p = plan("q17_small_qty_revenue")
    // RewriteCorrelatedScalarSubquery must turn BOTH per-part subqueries
    // (count and sum over the outer part's lineitems) into per-part
    // aggregates joined back; a surviving Subquery node would mean
    // per-outer-row re-execution — the O(n²) shape that can't scale
    assert(!p.contains("Subquery"), s"per-row subquery survived:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"threshold aggregates not joined back:\n$p")
    // the join-back is on the part key after a per-part aggregate
    assert(p.contains("HashAggregate(keys=[l_partkey"),
      s"no decorrelated per-part aggregate:\n$p")
  }

  test("q20: nested IN + correlated HAVING decorrelate to semi joins and an aggregate join") {
    val p = plan("q20_part_share_suppliers")
    assert(!p.contains("Subquery"), s"per-row subquery survived:\n$p")
    // both IN levels plan as semi joins (supplier IN …, l_partkey IN …)
    assert(p.linesIterator.count(_.contains("LeftSemi")) >= 2,
      s"IN levels not planned as semi joins:\n$p")
    // the HAVING's correlated total becomes a per-part aggregate join
    assert(p.contains("HashAggregate(keys=[l_partkey"),
      s"correlated HAVING total not decorrelated:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("q4: correlated EXISTS decorrelates to one semi join — no per-row probe") {
    val p = plan("q4_order_priority")
    // RewritePredicateSubquery turns the EXISTS (whose lateness predicate
    // references the OUTER order's date) into a LeftSemi with the
    // predicate riding the join condition; a surviving Subquery node
    // would mean one lineitem probe per order
    assert(!p.contains("Subquery"), s"per-row subquery survived:\n$p")
    assert(p.linesIterator.exists(_.contains("LeftSemi")),
      s"EXISTS not a semi join:\n$p")
    // the order-date window still reaches the orders scan
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      s"date window not pushed to the orders scan:\n$p")
  }

  test("q21: EXISTS + correlated NOT EXISTS plan as semi + anti joins") {
    val p = plan("q21_waiting_suppliers")
    assert(!p.contains("Subquery"), s"per-row subquery survived:\n$p")
    // the two-table-correlated NOT EXISTS (l1's key/supplier AND o's
    // date in the inner predicate) must become a LeftAnti on l_orderkey
    // with the lateness/inequality conditions in the join
    assert(p.linesIterator.exists(_.contains("LeftSemi")),
      s"EXISTS not a semi join:\n$p")
    assert(p.linesIterator.exists(_.contains("LeftAnti")),
      s"NOT EXISTS not an anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("q15: the scalar max(total_rev) is a broadcast join, not a driver collect") {
    val p = plan("q15_top_supplier")
    // the 1-row max aggregate broadcasts into the per-supplier revenue —
    // the classic scalar-subquery shape kept fully distributed
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"max not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("q18: the quantity HAVING runs on grouped lineitem BEFORE the order/customer joins") {
    val p = plan("q18_large_volume")
    // sum(l_quantity) > 180 must filter the grouped lineitem first; the
    // handful of surviving keys then join orders/customer — the qty sum
    // is never recomputed after the join
    assert(p.contains("HashAggregate(keys=[l_orderkey"),
      s"no per-order aggregate:\n$p")
    assert(p.linesIterator.count(_.contains("HashAggregate(keys=[l_orderkey")) <= 2,
      s"qty sum recomputed post-join:\n$p")
  }

  test("q19: the OR-of-ANDs leaves common implications pushed to each scan") {
    val p = plan("q19_brand_size_revenue")
    // Catalyst derives the disjunction's common implications onto the
    // scans: brand IN (...) / size bounds on part, quantity bounds on
    // lineitem — the residual OR evaluates post-join in codegen
    assert(p.contains("Or(Or(And("),
      s"the disjunction did not reach a scan's PushedFilters:\n$p")
    assert(p.contains("GreaterThanOrEqual(p_size,1)"),
      s"derived common size bound not pushed to the part scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"part not broadcast:\n$p")
  }

  test("q2: correlated scalar min decorrelates to a per-part aggregate join") {
    val p = plan("q2_min_cost_supplier")
    // RewriteCorrelatedScalarSubquery must turn the per-part min(cost)
    // into a per-part aggregate joined back on the part key; a surviving
    // Subquery node would re-run the offer derivation per outer row
    assert(!p.contains("Subquery"), s"per-row scalar subquery survived:\n$p")
    assert(p.contains("HashAggregate(keys=[l_partkey"),
      s"no decorrelated per-part min aggregate:\n$p")
    // the part sieve still reaches the part scan
    assert(p.contains("PushedFilters: [IsNotNull(p_size)") ||
           p.contains("LessThanOrEqual(p_size,12)"),
      s"part sieve not pushed to the part scan:\n$p")
  }

  test("q11: the value total is a broadcast 1-row aggregate, not a driver collect") {
    val p = plan("q11_important_parts")
    // the uncorrelated scalar total broadcasts into the per-part values
    // (the q15 discipline); suppliers reach lineitem as a broadcast join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"total not broadcast:\n$p")
    assert(p.linesIterator.exists(_.contains("BroadcastHashJoin")),
      s"supplier filter not a broadcast join:\n$p")
  }

  test("q12: the ship-date window reaches the lineitem scan") {
    val p = plan("q12_late_priority")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"ship-date window not pushed:\n$p")
    // only the 3 needed lineitem columns are read
    val read = p.linesIterator.filter(_.contains("ReadSchema"))
      .find(_.contains("l_shipdate")).getOrElse("")
    assert(!read.contains("l_extendedprice") && !read.contains("l_partkey"),
      s"column pruning lost: $read")
  }

  test("q16: the NOT IN is an anti join; the part sieve is pushed and broadcast") {
    val p = plan("q16_supplier_part_types")
    assert(p.linesIterator.exists(_.contains("LeftAnti")),
      s"NOT IN not an anti join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"part not broadcast:\n$p")
    assert(p.contains("In(p_size, [1,5,10,15,20,25,30,35])") ||
           p.contains("In(p_size"),
      s"size sieve not pushed to the part scan:\n$p")
  }

  test("hybrid search: fixed query set broadcasts; no cartesian anywhere") {
    val p = plan("q_hybrid_search")
    // the probe terms / probe vectors are fixed-size — they must join
    // broadcast; the only shuffle joins allowed are corpus-keyed (term)
    // and the tiny lane-fusion full-outer
    assert(p.contains("BroadcastHashJoin"), s"query side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("token entropy runs in the scan stage — no shuffle before the output sort") {
    val p = plan("q_token_entropy")
    // a per-row statistic must not shuffle the corpus: the only exchange
    // is the output ORDER BY's range partitioning
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-row entropy shuffles the corpus:\n$p")
    assert(p.contains("token_entropy"), s"kernel not in plan:\n$p")
  }

  test("drift PSI: bin totals broadcast back over the bin table") {
    val p = plan("q_drift_psi")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"totals not broadcast in:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"bin histogram not partial-aggregated:\n$p")
  }

  test("shard manifest: scan-stage assignment, exactly one data exchange") {
    val p = plan("q_shard_manifest")
    // assignment must not shuffle the corpus — the only hash exchange is
    // the aggregation's own (16 groups); everything else is scan-stage
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"shard assignment added an exchange:\n$p")
    assert(p.contains("partial_sum"), s"manifest not map-side partial:\n$p")
  }

  test("shuffle shard: per-shard order is a bounded top-k, pruned below the exchange") {
    val p = plan("q_shuffle_shard")
    // the write-order probe must never materialize a full per-shard
    // sort: a bounded heap (TopKLocal) or Spark's partial
    // WindowGroupLimit must run BEFORE the shard exchange
    val lines = p.linesIterator.toList
    val exchangeAt = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    val localAt = lines.indexWhere(l =>
      l.contains("TopKLocal") || (l.contains("WindowGroupLimit") && l.contains("Partial")))
    assert(exchangeAt >= 0 && localAt > exchangeAt, // plans print root-first
      s"no pre-exchange bounded selection:\n$p")
  }

  test("interleave: global prefix is a TakeOrderedAndProject, never a global sort exchange") {
    val p = plan("q_interleave")
    assert(p.contains("TakeOrderedAndProject"),
      s"prefix merge not a bounded global top-k:\n$p")
    // one exchange for the per-group rank (on lang); the global merge
    // must not add a rangepartitioning pass over candidates (the output
    // ORDER BY rides the already-bounded 200 rows)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"unexpected extra exchange:\n$p")
  }

  test("survival: the estimator's single-partition stages touch only the duration table") {
    val p = plan("q_survival")
    val lines = p.linesIterator.toList
    // the SinglePartition exchange must sit ABOVE the per-duration
    // aggregate (tiny table), never above the raw events scan
    val single = lines.indexWhere(_.contains("Exchange SinglePartition"))
    val durAgg = lines.indexWhere(l =>
      l.contains("HashAggregate(keys=[t#") && !l.contains("partial"))
    assert(single >= 0 && durAgg > single,
      s"single-partition stage not fed by the duration aggregate:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"global max not broadcast:\n$p")
  }

  test("champion cut is a bounded per-term selection, never a full sort of a hot term") {
    val p = plan("q_bm25_pruned")
    // row_number <= m per term must rewrite to the bounded heaps
    // (TopKLocal/TopKPerGroup) or Spark's native partial WindowGroupLimit
    assert(p.contains("TopK") ||
      (p.contains("WindowGroupLimit") && p.contains("Partial")),
      s"champion cut not bounded:\n$p")
  }

  test("blocked bitext pairs join on the cell id — never a cartesian") {
    val p = plan("q_bitext_blocked")
    assert(!p.contains("CartesianProduct"), s"cartesian pair join:\n$p")
    assert(p.contains("blk"), s"cell-id join key missing:\n$p")
  }

  test("dsir: the log-ratio table joins broadcast; the corpus never sort-merges") {
    val p = plan("q_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), s"lambda table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side sort-merge join:\n$p")
  }

  test("decontaminate strip: benchmark grams and cover arrays broadcast; removal is map-side") {
    val p = plan("q_decontaminate_strip")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side sort-merge join:\n$p")
  }

  test("bitext mining: the smaller side broadcasts — no shuffled pair join") {
    val p = plan("q_bitext_mine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"pair scoring not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"pair join shuffled:\n$p")
    assert(!p.contains("CartesianProduct"), s"unbroadcast cartesian:\n$p")
  }

  test("oov rate: the vocab broadcasts back to the token stream") {
    val p = plan("q_oov_rate")
    assert(p.contains("BroadcastHashJoin"), s"vocab not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"token stream sort-merged:\n$p")
  }

  test("epoch plan: shares broadcast to the cumsum side; one corpus window shuffle") {
    val p = plan("q_epoch_plan")
    assert(p.contains("BroadcastHashJoin"), s"shares not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"share join shuffled:\n$p")
  }

  test("wand: query terms broadcast everywhere; candidate joins are equi, never cartesian") {
    val p = plan("q_wand")
    assert(p.contains("BroadcastHashJoin"), s"query side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the wand plan:\n$p")
    // the bounded rescore probes the index on (term, doc_id) — an
    // equi-join keyed by term must exist below the score aggregation
    assert(p.contains("term"), s"term join key missing:\n$p")
  }

  test("spilled IVF lane: candidates come from cell equi-joins — never all-pairs") {
    val p = plan("q_ann_tuned")
    assert(!p.contains("CartesianProduct") ||
      // the 1-row total/corpus-count aggregates legitimately cross join;
      // a cartesian touching the embeddings SCAN would print its columns
      !p.linesIterator.exists(l =>
        l.contains("CartesianProduct") && l.contains("embedding")),
      s"all-pairs in the ANN frontier plan:\n$p")
    assert(p.contains("cell"), s"cell join key missing:\n$p")
  }

  test("pca: the corpus crosses ONE exchange into the 4096-cell domain") {
    // the Gram pass must map-side combine: a partial HashAggregate
    // below the k-exchange, the final one above; everything after is
    // 4096-cell work, so no second corpus-sized shuffle can exist
    val p = plan("q_pca_power")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), s"all-pairs in PCA:\n$p")
    val emb = p.linesIterator.filter(_.contains("Scan parquet")).toList
    assert(emb.nonEmpty, "embeddings scan missing")
  }

  test("sq8: probe side broadcast, code scan never cartesian on floats") {
    val p = plan("q_ann_sq8")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"probe side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in SQ8:\n$p")
  }

  test("bootstrap: the replicate axis broadcasts onto the daily grid") {
    // 200 replicates x bounded daily grid — the corpus itself is
    // aggregated before the explode, so no corpus-sized join appears
    val p = plan("q_bootstrap_ci")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"replicates not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-sized join crept in:\n$p")
  }

  test("anova and benford collapse to map-side-combined single aggregations") {
    for (q <- Seq("q_anova", "q_benford")) {
      val p = plan(q)
      // partial + final pairs: at least two HashAggregates and no join
      // before the group domain (benford's literal table join is a
      // broadcast over 9 rows)
      assert(p.contains("HashAggregate"), s"$q: no hash agg:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q: corpus-sized join crept in:\n$p")
    }
  }

  test("markov: one corpus pass feeds the bounded matrix — no iteration joins remain") {
    // the value iteration runs driver-side on the collected matrix, so
    // the PLAN contains only the final literal rows (a LocalTableScan)
    val df = SparkEntry.queries("q_markov_attribution")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan"),
      s"markov output should be literal rows:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("events"),
      s"iteration lineage leaked into the output plan:\n$p")
  }

  test("a lane plans the same in a fresh session and after another lane ran") {
    // no rewrite registered yet, as in a session nothing else touched
    spark.experimental.extraOptimizations = Nil
    spark.experimental.extraStrategies = Nil
    def optimized(name: String): String =
      SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan.toString
        .replaceAll("#\\d+L?", "#")
    val fresh = optimized("q_cooccur_recs")
    SparkEntry.queries("q_window_topk")(spark, sf).collect()
    val after = optimized("q_cooccur_recs")
    assert(fresh.contains("TopKPerGroup"), s"fresh-session plan not rewritten:\n$fresh")
    assert(after.contains("TopKPerGroup"), s"plan not rewritten:\n$after")
    assert(fresh == after, s"plan depends on run order:\n$fresh\n---\n$after")
  }
}
