package graft

import graft.operators.OpCaches
import org.scalatest.funsuite.AnyFunSuite

/** Every cache a near-dup, retrieval, graph or pinned-aggregate lane
  * persists is registered with OpCaches: after the lane runs,
  * `OpCaches.releaseAll()` ALONE leaves the registry and the block
  * manager empty. No `clearCache` and no
  * `getPersistentRDDs` sweep afterwards — those free whatever anyone
  * persisted and would hide a persist that bypasses the registry. */
class LaneLeakSpec extends AnyFunSuite with SparkSpec {

  /** The lanes that reach the clique collapse, the BM25 retrieval
    * family, the iterative graph lanes (components, BFS, k-core, label
    * propagation, PageRank, triangles), the ANN search lanes and audits
    * (the audits pin their brute-force truth; q_ann_tuned also pins its
    * candidate counts), q_forecast_backtest (its sorted history), the
    * quality-classifier lanes, the DSIR lanes (their feature rows), the
    * substring-dedup pair (its candidate windows) and the BPE lanes
    * (the training word table). */
  private val lanes = Seq(
    "q_dedup_minhash", "q_split_leakage", "q_dedup_clusters",
    "q_dedup_keep_best", "q_dedup_incremental", "q_containment",
    "q_dedup_simhash", "q_image_dedup", "q_audio_dedup",
    "q_dedup_embedding", "q_semantic_dedup", "q_allpairs",
    "q_allpairs_compact", "q_minhash_recall",
    "q_bm25", "q_bm25_pruned", "q_wand", "q_bmw", "q_hybrid_search",
    "q_graph_components", "q_bfs_hops", "q_kcore", "q_communities",
    "q_pagerank", "q_ppr", "q_ann_bruteforce", "q_ann_lsh", "q_ann_ivf",
    "q_ann_pq", "q_ann_sq8", "q_ann_recall", "q_ann_rank_metrics",
    "q_ann_tuned", "q_forecast_backtest",
    "q_quality_lr", "q_lr_calibration", "q_lr_auc", "q_pr_curve",
    "q_dsir_weights", "q_dsir_resample", "q_triangles",
    "q_dedup_substring", "q_substring_strip", "q_bpe_merges", "q_bpe_encode")

  for (lane <- lanes) test(s"$lane: OpCaches.releaseAll frees every cache it persisted") {
    // start from an empty block manager, whatever ran before
    Harness.teardown(spark)
    val run = Harness.runLane(spark, SparkEntry.queries(lane), sf)
    assert(run.error.isEmpty, s"$lane failed: ${run.error}")
    OpCaches.releaseAll()
    assert(OpCaches.trackedCount == 0)
    val live = spark.sparkContext.getPersistentRDDs
    assert(live.isEmpty,
      s"$lane left ${live.size} persisted RDD(s) outside OpCaches: " +
        live.values.map(_.toDebugString.linesIterator.next()).mkString("; "))
  }
}
