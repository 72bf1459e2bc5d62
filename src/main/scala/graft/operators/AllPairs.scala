package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Exact all-pairs set-similarity join via prefix filtering (the
  * AllPairs / PPJoin family — Bayardo, Ma, Srikant, "Scaling Up All
  * Pairs Similarity Search", WWW 2007; Xiao, Wang, Lin, Yu, "Efficient
  * Similarity Joins for Near Duplicate Detection", WWW 2008 — public
  * algorithms).
  *
  * Complements the MinHash-LSH path (Dedup.minhashLshPairs): LSH is
  * probabilistic (tunable false-negative rate), this join is EXACT —
  * zero false negatives — at the cost of a candidate set that grows with
  * token-frequency skew. Production pipelines use LSH for web-scale
  * near-dup sweeps and the exact join where recall must be 1.0
  * (compliance takedowns, benchmark decontamination audits).
  *
  * The scale shape:
  *
  *  1. one corpus-wide agg for global token document-frequency (df);
  *  2. each doc's distinct tokens are sorted by (df, token) — rarest
  *     first. The pair (df, token) IS the shared total order, so no
  *     global row_number / zipWithIndex rank is ever materialized (a
  *     global rank would funnel the vocabulary through one task);
  *  3. each doc emits only its PREFIX tokens — the first
  *     |x| - ceil(t·|x|) + 1 under the shared order. Any pair with
  *     J >= t overlaps in at least t/(1+t)·(|a|+|b|) tokens, so
  *     skipping fewer than that many from both sorted sets cannot miss
  *     every shared token: prefix-colliding candidates are a SUPERSET of
  *     the true result. The candidate join is an equi-join on (rare)
  *     prefix tokens — never an all-pairs cross;
  *  4. the length filter t·max(|a|,|b|) <= min(|a|,|b|) and PPJoin's
  *     positional filter prune candidates before any token array is
  *     touched (measured on the templated bench corpus: 3.7M → near the
  *     965k true-pair floor, halving end-to-end time);
  *  5. exact Jaccard verification runs on surviving candidates only.
  *
  * Every stage is a keyed shuffle (token or doc id) — AQE skew-split
  * applies; nothing is collected to the driver. The token-set table is
  * persisted once and feeds prefix emission + both verify sides (three
  * consumers; without the cache the tokenize+sort pipeline would run 3×).
  *
  * Exact-dup clique collapse ([[Cliques]], the gate and expansion the
  * MinHash/SimHash pipelines share): when duplicates dominate, the whole
  * pipeline sees one representative per distinct token set
  * (array-equality groupBy — exact, no hash domain); intra-clique pairs
  * are exactly 1.0 (token-free docs never enter the table). Detection
  * work becomes a function of the DISTINCT corpus — what survives a
  * duplicate-heavy 100 TB crawl — while only the (inherently
  * quadratic-in-duplication) output expansion scales with the total
  * pair count. When even the expanded pair LIST is the bottleneck,
  * [[compactJoin]] returns the linear-size form.
  */
object AllPairs {

  /** Public builder of the (doc_id, tokens, sz) table the FromSets
    * variants consume — callers materialize it once (DerivedCache) when
    * several joins share a corpus. */
  def buildTokenSets(docs: DataFrame, id: Column, text: Column): DataFrame =
    tokenSets(docs, id, text)

  /** Per-doc distinct (df, token)-sorted token arrays: (doc_id, tokens,
    * sz), token-free docs excluded. Identical sets produce identical
    * ARRAYS (the order is total), which is what lets the clique
    * collapse group by the array itself. */
  private def tokenSets(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = docs
      .select(id.as("doc_id"), text.as("text"))
      .select(col("doc_id"),
        explode(array_distinct(split(lower(col("text")), "[^a-z0-9]+")))
          .as("token"))
      .filter(col("token") =!= "")
    val df = toks.groupBy(col("token")).agg(count(lit(1)).as("df"))
    toks.join(df, "token")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("token"))))
        .as("ord"))
      .select(col("doc_id"),
        expr("transform(ord, x -> x.token)").as("tokens"),
        size(col("ord")).as("sz"))
  }

  /** Prefix-filtered candidate generation + exact verification over a
    * (doc_id, tokens, sz) table → (id_a, id_b, jaccard), id_a < id_b. */
  private def verifiedPairs(sets: DataFrame, threshold: Double): DataFrame = {
    // prefix length |x| - ceil(t|x|) + 1 (>=1 for any non-empty set);
    // posexplode keeps each prefix token's 1-based position for the
    // positional filter below
    val prefixes = sets.select(col("doc_id"), col("sz"),
      posexplode(slice(col("tokens"), lit(1),
        (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int"))))
      .withColumnRenamed("pos", "p")
      .withColumnRenamed("col", "token")
      .withColumn("p", col("p") + 1)
    // candidates: prefix-token collision + length filter; then PPJoin's
    // POSITIONAL filter: among SHARED prefix tokens the first in a's
    // order is also first in b's (the order is global), so min(i) and
    // min(j) across a pair's collisions belong to the same token, and
    // every common token sits at position >= i in a and >= j in b —
    // overlap <= 1 + min(|a|-i, |b|-j). Pairs whose bound can't reach
    // the required overlap t/(1+t)·(|a|+|b|) are pruned BEFORE any
    // token array is fetched. The groupBy replaces a distinct at the
    // same shuffle cost.
    val cand = prefixes.as("a").join(prefixes.as("b"),
        col("a.token") === col("b.token") &&
        col("a.doc_id") < col("b.doc_id") &&
        least(col("a.sz"), col("b.sz")).cast("double") >=
          lit(threshold) * greatest(col("a.sz"), col("b.sz")))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sz").as("sa"), col("b.sz").as("sb"))
      .agg(min(col("a.p")).as("ia"), min(col("b.p")).as("jb"))
      .filter((lit(1) + least(col("sa") - col("ia"), col("sb") - col("jb")))
        .cast("double") >=
        lit(threshold / (1.0 + threshold)) * (col("sa") + col("sb")))
      .select(col("id_a"), col("id_b"))
    // exact verification on candidates only; filter on the RAW ratio
    // (the oracle's form), round only for output — rounding first would
    // admit pairs just under threshold. r15: the intersection is a
    // zero-allocation two-pointer MERGE over UTF8-sorted copies of the
    // token arrays (plans.SetKernels — array_intersect's per-pair hash
    // set build was 73 s of a 75 s verify stage at ~880k candidates on
    // the sampled minhash audit); the sort costs one array_sort per SET
    // row before the candidate fan-out, not per pair.
    cand
      .join(sets.select(col("doc_id").as("id_a"),
        array_sort(col("tokens")).as("ta"), col("sz").as("sa")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"),
        array_sort(col("tokens")).as("tb"), col("sz").as("sb")), "id_b")
      .withColumn("inter",
        graft.plans.SetKernels.sortedIntersectSize(col("ta"), col("tb")))
      .withColumn("jac_raw", col("inter").cast("double") /
        (col("sa") + col("sb") - col("inter")))
      .filter(col("jac_raw") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("jac_raw"), 6).as("jaccard"))
  }

  /** Word-token Jaccard similarity join over (id, text) rows: ALL pairs
    * with J(tokens(a), tokens(b)) >= threshold, id_a < id_b. Tokens are
    * the distinct lowercase [a-z0-9]+ runs (the corpus convention shared
    * with the MinHash/TF-IDF operators). Output is Θ(true pairs) —
    * inherently quadratic in duplication; see [[compactJoin]] for the
    * linear-size form. */
  def jaccardJoin(docs: DataFrame, id: Column, text: Column,
                  threshold: Double): DataFrame =
    jaccardJoinFromSets(tokenSets(docs, id, text), threshold)

  /** [[jaccardJoin]] over a PRECOMPUTED (doc_id, tokens, sz) table —
    * [[buildTokenSets]]' output, possibly read back from a write-once
    * derived table so several joins at different thresholds (or the
    * compact form) share one token-set derivation. */
  def jaccardJoinFromSets(sets0: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val cliques = Cliques.collapse(sets0, Seq("tokens", "sz"), "doc_id")
    val pairs = verifiedPairs(cliques.docs, threshold)
    if (!cliques.collapsed) pairs
    else Cliques.expand(pairs, cliques.memb, "jaccard",
      cliques.reps.select(col("doc_id").as("rep"), lit(1.0).as("jaccard")))
  }

  /** The LINEAR-SIZE form of the exact similarity join: one row per
    * pair of DISTINCT token sets (id_a/id_b = representative = min doc
    * id per set, id_a < id_b, with the exact Jaccard), plus one row per
    * duplicated set (id_a = id_b = representative, jaccard 1.0) —
    * `n_pairs` carries the multiplicity (|A|·|B| cross pairs, C(m,2)
    * intra). Exactly the information of [[jaccardJoin]]'s full pair
    * list (which = this expanded by the member map), but the output is
    * O(distinct²·density + distinct), not O(docs²·density): on a
    * 100×-replicated corpus the full list is 10,000× larger — this form
    * is the one to materialize at 100 TB. */
  def compactJoin(docs: DataFrame, id: Column, text: Column,
                  threshold: Double): DataFrame =
    compactJoinFromSets(tokenSets(docs, id, text), threshold)

  /** [[compactJoin]] over a precomputed token-set table (see
    * [[jaccardJoinFromSets]]). */
  def compactJoinFromSets(sets0: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val allSets = OpCaches.track(sets0
      .persist(StorageLevel.MEMORY_AND_DISK))
    val groups = OpCaches.track(
      allSets.groupBy(col("tokens"), col("sz"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("m"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    groups.count()
    // allSets' last consumer is the groups agg just materialized
    allSets.unpersist(blocking = false)
    OpCaches.untrack(allSets)
    val reps = groups.select(col("doc_id"), col("tokens"), col("sz"))
    val sizes = groups.select(col("doc_id").as("rid"), col("m"))
    val inter = verifiedPairs(reps, threshold)
      .join(sizes.select(col("rid").as("id_a"), col("m").as("ma")), "id_a")
      .join(sizes.select(col("rid").as("id_b"), col("m").as("mb")), "id_b")
      .select(col("id_a"), col("id_b"), col("jaccard"),
        (col("ma") * col("mb")).as("n_pairs"))
    val intra = groups.filter(col("m") >= 2)
      .select(col("doc_id").as("id_a"), col("doc_id").as("id_b"),
        lit(1.0).as("jaccard"),
        expr("m * (m - 1) div 2").as("n_pairs"))
    inter.unionAll(intra)
  }

  /** (rep, doc_id) member map over a (doc_id, tokens, sz) table: rep =
    * min doc id per DISTINCT token set — the key that expands the
    * compact form back to the full pair list. One shuffle (window min
    * over the set identity). Materialize it next to [[compactJoin]]'s
    * output when both forms are served (SparkEntry does, via
    * DerivedCache). */
  def memberMap(sets: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tokens"), col("sz"))
    sets.select(min(col("doc_id")).over(w).as("rep"), col("doc_id"))
  }

  /** Expand [[compactJoin]]'s linear-size output back to
    * [[jaccardJoin]]'s full pair list using the [[memberMap]]:
    * inter-set rows (id_a ≠ id_b) become their |A|·|B| cross pairs
    * (re-oriented — members of different cliques can order either
    * way), intra rows (id_a = id_b) become the C(m,2) member pairs at
    * jaccard 1.0. expandCompact(compact(X), members(X)) ==
    * jaccardJoin(X) exactly for every input (AllPairsSpec pins it).
    *
    * This is the serving shape for the full list at scale (r15): the
    * expensive prefix-filter detection runs ONCE into the compact
    * parquet, and expansion is [[Cliques.expand]]'s keyed joins over
    * plain scans — no persisted blocks, no lineage to evict, warm cost =
    * read cost. The n_pairs column is consumed here as multiplicity
    * and dropped; the intra rows (id_a = id_b, only cliques with m >= 2)
    * name the reps that pair internally. */
  def expandCompact(compact: DataFrame, members: DataFrame): DataFrame =
    Cliques.expand(compact.filter(col("id_a") =!= col("id_b")),
      members.select(col("rep"), col("doc_id")), "jaccard",
      compact.filter(col("id_a") === col("id_b"))
        .select(col("id_a").as("rep"), col("jaccard")))
}
