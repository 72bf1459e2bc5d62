package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Hybrid retrieval: a lexical BM25 lane and an embedding-cosine lane
  * over the same corpus, fused by Reciprocal Rank Fusion (RRF,
  * Cormack/Clarke/Buettcher SIGIR'09) — the standard recipe behind
  * "keyword + semantic" search, and in a training-data pipeline the
  * retrieval step for eval-set decontamination mining and
  * nearest-neighbor curriculum construction.
  *
  * Parity discipline (see SparkEntry's conventions): per-term BM25
  * scores are rounded to 6 decimals and summed as DECIMAL(18,6) —
  * the per-(query, doc) total is therefore order-independent and
  * bit-identical across engines, so ranks (decimal desc, doc tiebreak)
  * cannot diverge. RRF itself is pure integer arithmetic:
  * rrf_ppm = Σ_lanes floor(1e6 / (60 + rank)).
  *
  * Scale shape: the query set is FIXED-SIZE (a benchmark / probe set —
  * it does not grow with the corpus), so query terms and query vectors
  * broadcast; the corpus side stays one doc-term aggregation (the same
  * two map-side-partial shuffles as [[Bm25]]) plus one map-side scan
  * for cosines. Per-query ranking is a bounded top-k window. At 100 TB
  * the lexical lane would serve from the materialized inverted index
  * (q_inverted_index) with impact-ordered postings and WAND-style
  * upper-bound pruning — the scoring algebra here is unchanged by that;
  * the fusion stage only ever sees lane-top-k rows per query.
  */
object HybridSearch {

  /** BM25 retrieval: score every corpus doc against each query doc
    * (score = Σ over the query doc's DISTINCT terms of the corpus
    * doc's BM25 weight for that term), rank per query. Corpus stats
    * (N, avgdl, df) are computed over the WHOLE corpus, query docs
    * included, exactly as a real index would have them. */
  def bm25Retrieve(docs: DataFrame, text: Column, id: Column,
                   isQuery: Column, k: Int,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = docs.select(id.as("doc_id"), isQuery.as("is_q"),
      TextFns.tokens(text).as("toks"))
    val terms = toks.select(col("doc_id"), col("is_q"),
      size(col("toks")).cast(LongType).as("dl"), explode(col("toks")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"),
        first(col("is_q")).as("is_q"))
    bm25RetrieveFromTf(tf, k, k1, b)
  }

  /** [[bm25Retrieve]] from an already-derived (doc_id, term, tf, dl,
    * is_q) table — the [[graft.operators.DocTerms]] consumer path (the
    * probe predicate is on doc_id, so `is_q` is derivable from the
    * materialized table without the raw text). */
  def bm25RetrieveFromTf(tf: DataFrame, k: Int,
                         k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val corpus = tf.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    // the query side of the term join is the fixed probe set — broadcast
    val qTerms = broadcast(tf.filter(col("is_q"))
      .select(col("doc_id").as("query_id"), col("term")))
    val perTerm = tf.join(dfreq, "term").crossJoin(broadcast(corpus))
      .join(qTerms, "term")
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("w", round(
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))),
        6).cast(DecimalType(18, 6)))
    val scored = perTerm.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w")).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("lex_rank", row_number().over(w).cast(LongType))
      .filter(col("lex_rank") <= k)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
  }

  /** The MATERIALIZED impact-ranked postings table for `dir` — the
    * write-once serving index of the 100 TB lexical story (this file's
    * header scaladoc), now an actual [[DerivedCache]] table instead of
    * three per-lane rebuilds (r19): q_bm25_pruned, q_wand and q_bmw
    * each derived + persisted an identical championsRanked frame (two
    * shuffles over the full doc-term table and a per-term top-k window,
    * ~40–80 generated classes per lane), tripling the corpus weight
    * pass per bench/verify JVM and feeding the retrieval family's JIT
    * churn. One parquet build (BuildMeter-metered, per-JVM tmp, input-
    * fingerprinted like every derived table) turns each lane's index
    * side into plain pushdown-friendly scans — no persist, no AQE
    * exchange-reuse race, and repeat executions re-read files instead
    * of recompiling InMemoryTableScan codegen (the r18 q_pca_power
    * lesson). Columns: (term, doc_id, w DECIMAL(18,6), rn) — decimals
    * round-trip parquet exactly, and rn's (w desc, doc_id) order is
    * deterministic, so the table is byte-stable across rebuilds;
    * HybridSearchSpec pins it row-identical to the inline derivation.
    * documents.parquet is fingerprinted once and the same fingerprint
    * keys this table and the DocTerms table it reads (the CoPurchase
    * chain discipline), so a concurrent rewrite cannot key the champions
    * to a newer snapshot than the doc-terms they were built from. */
  def rankedTable(s: SparkSession, dir: String): DataFrame = {
    val input = s"$dir/documents.parquet"
    val fp = DerivedCache.fingerprint(Seq(input))
    DerivedCache.tableAt(s, s"$dir#champions", Seq(input), fp) {
      championsRanked(DocTerms.tableAt(s, dir, fp), k1 = 1.2, b = 0.75)
    }
  }

  /** [[rankedTable]] pinned for an execution that consumes it through
    * several sub-lanes (q_bm25_pruned's seven) — see [[pinScan]]. */
  def rankedTablePinned(s: SparkSession, dir: String): DataFrame =
    pinScan(rankedTable(s, dir))

  /** One PERSISTED impact-ranked postings table + broadcast query-term
    * probe set for a multi-depth champion audit (r17). Before this,
    * q_bm25_pruned's seven sub-lanes (full + three depths + three
    * certificates) each re-derived the corpus weight pass and only
    * AQE exchange reuse deduplicated them — and stage reuse is a RACE:
    * identical exchanges materializing concurrently can both miss the
    * stage cache, re-executing the whole champion pass inline
    * (measured at sf1: 6.1 s with every reuse hit, 79–99 s with
    * misses, same code, same data — the run-to-run bimodality the
    * retrieval lanes have shown since r15). A persisted table cannot
    * lose that race. Tracked via OpCaches for the caller's teardown. */
  def impactAuditParts(tf: DataFrame, k1: Double = 1.2, b: Double = 0.75)
      : (DataFrame, DataFrame) = {
    val ranked = OpCaches.track(championsRanked(tf, k1, b)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val qTerms = broadcast(tf.filter(col("is_q"))
      .select(col("doc_id").as("query_id"), col("term")))
    (ranked, qTerms)
  }

  /** Full (unpruned) BM25 top-k from the shared ranked postings —
    * identical weight algebra and output to [[bm25RetrieveFromTf]]
    * (weights are query-independent; HybridSearchSpec pins equality),
    * but served from the one persisted derivation. */
  def bm25RetrieveFromRanked(ranked: DataFrame, qTerms: DataFrame,
                             k: Int): DataFrame = {
    val scored = ranked.select(col("term"), col("doc_id"), col("w"))
      .join(qTerms, "term")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w")).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("lex_rank", row_number().over(w).cast(LongType))
      .filter(col("lex_rank") <= k)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
  }

  /** [[bm25RetrieveFromRanked]] PINNED (persisted + OpCaches-tracked):
    * for callers that join several pruned lanes against the one full
    * lane — k·|queries| rows, but re-deriving it per reference re-runs
    * the full-index score join (the r19 small-frame rule: pin the tiny
    * shared derived frames, not the big index). */
  def bm25RetrieveFromRankedPinned(ranked: DataFrame, qTerms: DataFrame,
                                   k: Int): DataFrame =
    OpCaches.track(bm25RetrieveFromRanked(ranked, qTerms, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** [[bm25RetrieveImpactFromTf]] from the shared ranked postings. */
  def bm25RetrieveImpactFromRanked(ranked: DataFrame, qTerms: DataFrame,
                                   k: Int, m: Int): DataFrame = {
    val champions = ranked.filter(col("rn") <= m)
      .select(col("term"), col("doc_id"), col("w"))
    val scored = champions.join(qTerms, "term")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w")).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("lex_rank", row_number().over(w).cast(LongType))
      .filter(col("lex_rank") <= k)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
  }

  /** Impact-ordered pruned BM25 retrieval — the 100 TB lexical-lane
    * shape named in this file's scaladoc, now implemented: per term keep
    * only the top-`m` postings by BM25 weight (a CHAMPION LIST — the
    * static-pruning half of the WAND/MaxScore family: Broder et al.
    * CIKM'03 uses the same upper-bound idea dynamically), so scoring a
    * query touches at most |query terms|·m postings instead of the full
    * df — on a web corpus the difference between a stop word's
    * billion-posting list and 64 rows. The champion cut is
    * row_number ≤ m per term, which graft's optimizer rewrites to the
    * bounded TopKPerGroup heaps — building the pruned index never
    * funnels a hot term through one task's sort.
    *
    * Pruning is QUERY-INDEPENDENT (weights depend only on the term's df
    * and the doc's tf/dl — the index is built before queries exist);
    * docs pushed off a champion list simply can't score on that term,
    * which is the approximation q_bm25_pruned audits against the full
    * lane. Scoring algebra (round-6 decimal weights, decimal sums,
    * (score desc, doc_id) ranks) is byte-identical to
    * [[bm25RetrieveFromTf]]. */
  def bm25RetrieveImpactFromTf(tf: DataFrame, k: Int, m: Int,
                               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qTerms = broadcast(tf.filter(col("is_q"))
      .select(col("doc_id").as("query_id"), col("term")))
    bm25RetrieveImpactFromRanked(championsRanked(tf, k1, b), qTerms, k, m)
  }

  /** MaxScore-style EXACTNESS CERTIFICATE for the champion-pruned
    * retrieval: per query, decide from the pruned index ALONE whether
    * its top-k is provably the full index's top-k set.
    *
    * The bound: a term's champion list, when cut (df > m), cannot hide
    * a weight above its m-th entry ub_t; a full list (df ≤ m) hides
    * nothing (ub_t = 0). So a candidate doc's true score is at most its
    * observed score plus Σ ub_t over the query terms where it is NOT a
    * champion, and a doc unseen by every list scores at most
    * Σ_t ub_t. With τ = the k-th observed candidate score, the observed
    * top-k is certified as the true top-k set when τ strictly beats
    * every outside candidate's potential AND the unseen bound (or when
    * every list is complete — pruning was vacuous). All comparisons are
    * on the exact round-6 decimals, so the certificate replays
    * bit-identically in SQL.
    *
    * Emits one row per query: (query_id, n_candidates, certified). */
  def impactCertificates(tf: DataFrame, k: Int, m: Int,
                         k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qTerms = broadcast(tf.filter(col("is_q"))
      .select(col("doc_id").as("query_id"), col("term")))
    impactCertificatesFromRanked(championsRanked(tf, k1, b), qTerms, k, m)
  }

  /** [[impactCertificates]] from the shared ranked postings. */
  def impactCertificatesFromRanked(ranked: DataFrame, qTerms: DataFrame,
                                   k: Int, m: Int): DataFrame = {
    val champions = ranked.filter(col("rn") <= m)
      .select(col("term"), col("doc_id"), col("w"))
    val zero = lit(0).cast(DecimalType(18, 6))
    // per-(query, term) miss bound; a term whose list is complete hides 0
    val qub = qTerms
      .join(ranked.filter(col("rn") === m)
        .select(col("term"), col("w").as("ub")), Seq("term"), "left")
      .select(col("query_id"), col("term"),
        coalesce(col("ub"), zero).as("ub"))
    val ubTotal = qub.groupBy(col("query_id"))
      .agg(sum(col("ub")).as("ub_total"))
    // candidates carry both their observed score and how much bound
    // their OWN champion memberships already account for
    val scored = champions.join(qub, Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w")).as("score"), sum(col("ub")).as("seen_ub"))
      .join(broadcast(ubTotal), Seq("query_id"))
      .withColumn("potential",
        col("score") + col("ub_total") - col("seen_ub"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val rankedCand = scored.withColumn("rn", row_number().over(w))
    val perQuery = rankedCand.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_candidates"),
        max(when(col("rn") === k, col("score"))).as("tau"),
        max(when(col("rn") > k, col("potential"))).as("max_out_potential"),
        first(col("ub_total")).as("ub_total"))
    perQuery.select(col("query_id"), col("n_candidates"),
      (col("ub_total") === zero ||
        (col("n_candidates") >= k &&
          col("tau") > col("ub_total") &&
          (col("max_out_potential").isNull ||
            col("tau") > col("max_out_potential")))).as("certified"))
  }

  /** MaxScore DYNAMIC pruning (Turtle & Flood IPM'95) — the query-time
    * half of the WAND/MaxScore family that [[bm25RetrieveImpactFromTf]]'s
    * static champion lists and [[impactCertificates]]'s bound algebra
    * were built toward. Batch-declarative formulation (no sequential
    * heap, so the whole derivation replays in SQL):
    *
    *  1. SEED: score each query over the depth-`mSeed` champion lists
    *     only; τ = the k-th seed score. Seed scores are partial sums of
    *     the true scores, so order statistics dominate: τ is a PROVEN
    *     lower bound on the true k-th score (null τ ⇒ no pruning).
    *  2. SPLIT: per query, order its terms by list upper bound ub_t =
    *     max posting weight ascending and prefix-sum; a term whose
    *     inclusive prefix sum ps_t < τ is NON-ESSENTIAL — a doc seen
    *     ONLY in non-essential lists scores ≤ ps < τ ≤ true k-th score
    *     and can never enter the top-k.
    *  3. CANDIDATES: docs appearing in ≥ 1 essential list (candidates ⊇
    *     the true top-k by the invariant above).
    *  4. RESCORE: candidates exactly, over ALL the query's terms — the
    *     |candidates|·|q| bounded probe join, never the full index.
    *
    * The result is the EXACT full-index top-k by construction; the audit
    * emitted here computes that equality against the unpruned lane
    * (n_topk_match — certified by counting, not assumed) plus the work
    * actually touched: postings_ppm = (seed + essential candidate
    * generation + rescore rows) / full-evaluation rows, per query.
    *
    * All comparisons (ps vs τ, scores) are on the exact round-6
    * DECIMAL(18,6) weights, so essential/candidate sets and final ranks
    * are bit-identical across engines. Scale shape: ub and the per-query
    * term split are tiny broadcasts; candidate generation joins only the
    * essential postings; the rescore probe is |candidates|·|q| rows
    * joined hash-equi against the index — each lane a bounded equi-join,
    * never all-pairs, exactly the shape that serves from the
    * materialized impact-ordered index at 100 TB.
    *
    * This scaladoc describes the whole family: the shared prefix below
    * (steps 1–3) feeds [[maxScoreAudit]] (step 4 directly) and
    * [[blockMaxAudit]] (a block-max refinement between 3 and 4).
    *
    * The shared MaxScore prefix (seed → τ → essential split →
    * candidate set) — ONE definition, so the two lanes' candidate
    * algebra cannot drift from each other or from their oracles. */
  private final case class MsParts(ranked: DataFrame, weights: DataFrame,
                                   dfreq: DataFrame, qTerms: DataFrame,
                                   tau: DataFrame, lbl: DataFrame,
                                   cands: DataFrame)

  private def maxScoreParts(tf: DataFrame, k: Int, mSeed: Int,
                            k1: Double, b: Double): MsParts = {
    // the impact-ranked postings feed FIVE subtrees (ub, seed,
    // candidate gen, rescore, and the unpruned audit lane) — persist
    // once, tracked for the caller's releaseAll/bench teardown.
    // (The serving lanes pass the materialized [[rankedTable]] through
    // [[maxScorePartsFrom]] instead; this inline+persist form remains
    // for ad-hoc tf inputs — specs, synthetic corpora.)
    val ranked = OpCaches.track(championsRanked(tf, k1, b)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    maxScorePartsFrom(ranked, tf, k, mSeed)
  }

  private def maxScorePartsFrom(ranked: DataFrame, tf: DataFrame,
                                k: Int, mSeed: Int): MsParts = {
    // τ and the candidate set are consumed by 2–3 downstream subtrees
    // each. When `ranked` was a per-lane persist, re-deriving them per
    // reference was cheap memory reads; served from the materialized
    // parquet table, each re-derivation would re-run the seed join +
    // window from the scan (measured at sf1: q_wand settled 9.3 s →
    // 41 s on the unpinned first cut of r19). Pin the SMALL frames
    // instead of the whole postings table: τ is ≤ |queries| rows, the
    // candidate set is the bounded essential-list union — tiny
    // persists, once-per-execution subtrees, no InMemoryTableScan of
    // the big index anywhere.
    val weights = ranked.select(col("term"), col("doc_id"), col("w"))
    val ub = ranked.filter(col("rn") === 1)
      .select(col("term"), col("w").as("ub"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qTerms = broadcast(tf.filter(col("is_q"))
      .select(col("doc_id").as("query_id"), col("term")))
    // 1. seed pass over the static champion lists
    val seed = ranked.filter(col("rn") <= mSeed).join(qTerms, "term")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w")).as("sscore"))
    val seedW = Window.partitionBy(col("query_id"))
      .orderBy(col("sscore").desc, col("doc_id"))
    val tau = OpCaches.track(seed.withColumn("srn", row_number().over(seedW))
      .filter(col("srn") === k)
      .select(col("query_id"), col("sscore").as("tau"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // 2. essential/non-essential split on inclusive ub prefix sums
    val psW = Window.partitionBy(col("query_id"))
      .orderBy(col("ub").asc, col("term").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lbl = qTerms.join(ub, "term")
      .withColumn("ps", sum(col("ub")).over(psW))
      .join(tau, Seq("query_id"), "left")
      .withColumn("essential", col("tau").isNull || col("ps") >= col("tau"))
    val essTerms = lbl.filter(col("essential"))
      .select(col("query_id"), col("term"))
    // 3. candidates from essential postings only
    val cands = OpCaches.track(weights.join(essTerms, "term")
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    MsParts(ranked, weights, dfreq, qTerms, tau, lbl, cands)
  }

  def maxScoreAudit(tf: DataFrame, k: Int, mSeed: Int,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame =
    maxScoreAuditBody(maxScoreParts(tf, k, mSeed, k1, b), k, mSeed)

  /** [[maxScoreAudit]] served from a prebuilt impact-ranked postings
    * table (the materialized [[rankedTable]]) — identical algebra and
    * output, no inline weight pass (HybridSearchSpec pins equality with
    * the tf form). `tf` still supplies the broadcast probe set and per-term
    * df. The scan is pinned once per execution ([[pinScan]]): the
    * parts feed 4–5 subtrees, and at sf10 five disk scans of the
    * postings table cost more than one scan + cached reads (measured:
    * q_bmw settled 128 s scan-per-subtree vs 76 s from the r18
    * in-memory frame; the pin recovers the cached-read shape while
    * keeping the weight-pass compute in the write-once build). */
  def maxScoreAuditFromRanked(ranked: DataFrame, tf: DataFrame,
                              k: Int, mSeed: Int): DataFrame = {
    val r = pinScan(ranked)
    maxScoreAuditBody(maxScorePartsFrom(r, tf, k, mSeed), k, mSeed)
  }

  /** Pin a derived-table scan for an execution that reads it several
    * times: plain persist with lineage KEPT (the KCore discipline —
    * the upstream is a deterministic parquet scan, so evicted blocks
    * recompute by re-reading), OpCaches-tracked for the caller's
    * teardown. */
  private def pinScan(ranked: DataFrame): DataFrame =
    OpCaches.track(ranked
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private def maxScoreAuditBody(p: MsParts, k: Int, mSeed: Int): DataFrame = {
    val weights = p.weights; val dfreq = p.dfreq; val qTerms = p.qTerms
    val tau = p.tau; val lbl = p.lbl; val cands = p.cands
    // 4. bounded exact rescore: candidates × query terms, probed against
    // the index on (term, doc) — join order written so the probe stays
    // |candidates|·|q|, never the full postings. Pinned: the scored
    // pass and the audit's touched-postings count both consume it
    // (bounded rows — matched probe pairs only).
    val rescore = OpCaches.track(cands.join(qTerms, Seq("query_id"))
      .join(weights, Seq("term", "doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val wscore = rescore.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w")).as("score"))
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val topk = wscore.withColumn("wrank", row_number().over(rankW))
      .filter(col("wrank") <= k)
    // audit: computed exactness vs the unpruned lane + touched
    // postings. The unpruned lane scores from the SAME ranked-postings
    // persist (identical weight algebra to bm25RetrieveFromTf — one
    // derivation, so the audit and the lane can't drift and the corpus
    // weight pass runs once, not twice)
    val fullW = Window.partitionBy(col("query_id"))
      .orderBy(col("fscore").desc, col("doc_id"))
    // RENAME-project the full lane's join keys: both sides now descend
    // from the same persisted `ranked`, and a df("col") === df2("col")
    // condition on shared lineage resolves to the SAME attribute —
    // Spark warns "trivially true equals predicate" and the exactness
    // count would silently become vacuous (every slot "matches"). The
    // aliases mint fresh attributes, so the join genuinely compares
    // rows; WandSpec pins non-vacuity with a shifted-rank doctored
    // lane that must match 0.
    val full = weights.join(qTerms, "term")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w")).as("fscore"))
      .withColumn("lex_rank", row_number().over(fullW))
      .filter(col("lex_rank") <= k)
      .select(col("query_id").as("f_qid"), col("doc_id").as("f_did"),
        col("lex_rank").as("f_rank"))
    val nExact = topk.join(full,
        col("query_id") === col("f_qid") && col("doc_id") === col("f_did") &&
          col("wrank") === col("f_rank"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_topk_match"))
    val qdf = qTerms.join(dfreq, "term")
    val volumes = qdf.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(least(col("df"), lit(mSeed.toLong))).as("seed_rows"),
        sum(col("df")).as("full_rows"))
    val essRows = lbl.filter(col("essential")).join(dfreq, "term")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_essential"), sum(col("df")).as("gen_rows"))
    val rescoreRows = rescore.groupBy(col("query_id"))
      .agg(count(lit(1)).as("rescore_rows"))
    val nCands = cands.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_candidates"))
    volumes
      .join(essRows, Seq("query_id"), "left")
      .join(nCands, Seq("query_id"), "left")
      .join(rescoreRows, Seq("query_id"), "left")
      .join(tau, Seq("query_id"), "left")
      .join(nExact, Seq("query_id"), "left")
      .select(col("query_id"), col("n_terms"),
        coalesce(col("n_essential"), lit(0L)).as("n_essential"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("tau").cast("double"), lit(0.0)).as("tau"),
        expr("(1000000 * (seed_rows + coalesce(gen_rows, 0)" +
          " + coalesce(rescore_rows, 0))) div full_rows")
          .as("postings_ppm"),
        coalesce(col("n_topk_match"), lit(0L)).as("n_topk_match"))
      .orderBy(col("query_id"))
  }

  /** Block-Max WAND refinement (Ding & Suel SIGIR'11) — the modern
    * successor to MaxScore's list-level bounds, batch-declarative:
    * postings are grouped into DOCID-ordered blocks of `blockSize`
    * (block = doc_id div blockSize — the BMW index layout), each block
    * carrying its max weight bub(t, blk). A MaxScore candidate's score
    * is bounded by Σ over the query's terms of bub(t, block(d)) taken
    * over the (term, block) entries that EXIST — strictly tighter than
    * MaxScore's Σ ub_t, because a term whose list skips the candidate's
    * block contributes nothing. Candidates whose block-bound falls
    * strictly below τ are dropped BEFORE the exact rescore (safe: true
    * score ≤ block-bound < τ ≤ true k-th score), so the |cands|·|q|
    * rescore probe shrinks to the block-survivors — on a skewed corpus
    * that is the difference between rescoring everything the essential
    * lists touch and rescoring the few docs whose NEIGHBORHOODS score.
    *
    * Same audit discipline as [[maxScoreAudit]]: exact top-k by
    * construction, equality COUNTED against the unpruned lane, the
    * block-pruning ratio reported per query. All bounds are sums of
    * round-6 decimals — the whole derivation replays in SQL. */
  def blockMaxAudit(tf: DataFrame, k: Int, mSeed: Int, blockSize: Int,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame =
    blockMaxAuditBody(maxScoreParts(tf, k, mSeed, k1, b), k, blockSize)

  /** [[blockMaxAudit]] served from a prebuilt impact-ranked postings
    * table (the materialized [[rankedTable]]) — identical algebra and
    * output, no inline weight pass; the scan is pinned once per
    * execution (see [[maxScoreAuditFromRanked]]). HybridSearchSpec
    * pins equality with the tf form. */
  def blockMaxAuditFromRanked(ranked: DataFrame, tf: DataFrame, k: Int,
                              mSeed: Int, blockSize: Int): DataFrame = {
    val r = pinScan(ranked)
    blockMaxAuditBody(maxScorePartsFrom(r, tf, k, mSeed), k, blockSize)
  }

  private def blockMaxAuditBody(p: MsParts, k: Int,
                                blockSize: Int): DataFrame = {
    val weights = p.weights; val qTerms = p.qTerms
    val tau = p.tau; val cands = p.cands
    // per-(term, block) max weight — the block-max index
    val bub = weights
      .groupBy(col("term"), expr(s"doc_id div $blockSize").as("blk"))
      .agg(max(col("w")).as("bub"))
    // candidate block-bound: Σ bub over the query's terms that HAVE a
    // posting in the candidate's block (inner join — absent blocks
    // contribute 0, the tightening over list-level ub)
    val bound = cands.join(qTerms, Seq("query_id"))
      .withColumn("blk", expr(s"doc_id div $blockSize"))
      .join(bub, Seq("term", "blk"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("bub")).as("bound"))
    // keep: bound ≥ τ (strictly-below can never reach the top-k); a
    // query with no τ keeps everything. Pinned: the exact rescore and
    // the audit's survivor count both consume it (bounded rows).
    val keep = OpCaches.track(bound.join(tau, Seq("query_id"), "left")
      .filter(col("tau").isNull || col("bound") >= col("tau"))
      .select(col("query_id"), col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val rescore = keep.join(qTerms, Seq("query_id"))
      .join(weights, Seq("term", "doc_id"))
    val wscore = rescore.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w")).as("score"))
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val topk = wscore.withColumn("wrank", row_number().over(rankW))
      .filter(col("wrank") <= k)
    // unpruned lane + rename-projected keys (the maxScoreAudit
    // shared-lineage lesson; WandSpec pins the pattern non-vacuous)
    val fullW = Window.partitionBy(col("query_id"))
      .orderBy(col("fscore").desc, col("doc_id"))
    val full = weights.join(qTerms, "term")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w")).as("fscore"))
      .withColumn("lex_rank", row_number().over(fullW))
      .filter(col("lex_rank") <= k)
      .select(col("query_id").as("f_qid"), col("doc_id").as("f_did"),
        col("lex_rank").as("f_rank"))
    val nExact = topk.join(full,
        col("query_id") === col("f_qid") && col("doc_id") === col("f_did") &&
          col("wrank") === col("f_rank"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_topk_match"))
    val nCands = cands.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_candidates"))
    val nKeep = keep.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_after_blockmax"))
    nCands
      .join(nKeep, Seq("query_id"), "left")
      .join(tau, Seq("query_id"), "left")
      .join(nExact, Seq("query_id"), "left")
      .select(col("query_id"), col("n_candidates"),
        coalesce(col("n_after_blockmax"), lit(0L)).as("n_after_blockmax"),
        // how much of the MaxScore candidate set block-max pruned away
        expr("CASE WHEN n_candidates = 0 THEN NULL" +
          " ELSE (1000000 * (n_candidates - coalesce(n_after_blockmax, 0)))" +
          " div n_candidates END").as("blockmax_pruned_ppm"),
        coalesce(col("tau").cast("double"), lit(0.0)).as("tau"),
        coalesce(col("n_topk_match"), lit(0L)).as("n_topk_match"))
      .orderBy(col("query_id"))
  }

  /** Shared internals of the impact-pruned lanes: per-(term, doc) BM25
    * weights with each posting's rank inside its term's impact order —
    * one definition, so the operator and its certificate can't drift. */
  private def championsRanked(tf: DataFrame, k1: Double,
                              b: Double): DataFrame = {
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val corpus = tf.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val weights = tf.join(dfreq, "term").crossJoin(broadcast(corpus))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("w", round(
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))),
        6).cast(DecimalType(18, 6)))
      .select(col("term"), col("doc_id"), col("w"))
    val champW = Window.partitionBy(col("term"))
      .orderBy(col("w").desc, col("doc_id"))
    weights.withColumn("rn", row_number().over(champW))
  }

  /** RRF-fuse two ranked lanes (query_id, doc_id, <rank col>): a doc
    * absent from a lane contributes 0 from that lane (rank reported as
    * 0). Final per-query order: rrf_ppm desc, doc_id. */
  def rrfFuse(lex: DataFrame, vec: DataFrame, k: Int,
              kRrf: Int = 60): DataFrame = {
    val fused = lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"))
      // `div`, not `/`: Spark's `/` is fractional even on longs; the
      // oracle's `//` is integer floor — both must floor identically
      .withColumn("rrf_ppm",
        expr(s"CASE WHEN lex_rank > 0 THEN 1000000L div (${kRrf}L + lex_rank) ELSE 0L END" +
          s" + CASE WHEN vec_rank > 0 THEN 1000000L div (${kRrf}L + vec_rank) ELSE 0L END"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
  }
}
