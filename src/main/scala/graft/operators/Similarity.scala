package graft.operators

import graft.functions.VectorFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * Two rungs:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    The query side is broadcast, so the candidate scan is a single
  *    map-side pass (no shuffle of the 100 TB candidate set); the only
  *    shuffle is the tiny per-query top-k.
  *  - [[lshTopK]]: random-hyperplane LSH — candidates are restricted to
  *    the query's sign-bucket, turning the scan into a bucket-local join.
  *    Planes are deterministic (seeded), so bucketing is reproducible and
  *    can be precomputed + bucket-partitioned as a materialized index.
  * Both are [[Ann]] compositions (candidate pairs, exact rerank).
  *
  * All pair scoring goes through the one-pass codegen cosine
  * (graft.plans.CosineSimilarity) — dot and both norms in a single
  * primitive loop, no interpreted higher-order functions on the hot path.
  */
object Similarity {

  /** SemDeDup (cluster-then-prune): assign each vector to its nearest
    * k-means cell, then remove every vector that has a LOWER-id same-cell
    * match at cosine >= threshold; dup_of = the lowest such id. All
    * comparisons are cell-equi-join local (pair space corpus²/k, k is the
    * recall/cost knob), never all-pairs.
    *
    * Exact-duplicate cliques are the scale hazard: m copies of one
    * embedding share a cell and alone contribute C(m,2) naive pairs. When
    * duplicates dominate ([[Cliques.collapse]], the same gate as the LSH
    * pipelines), the pair work runs on one REPRESENTATIVE per
    * distinct embedding and member results are derived arithmetically —
    * output-identical to the naive path (SimilaritySpec pins it), because
    * with rep_id = min(member id):
    *  - every member of a clique sits in the rep's cell (same embedding);
    *  - a member's candidate set is (own clique, if the self-cosine
    *    qualifies — computed, so zero vectors drop exactly as the naive
    *    cosine drops them) ∪ (members of matched reps), and the minimal
    *    candidate below b is min(own rep_id if < b, matched-rep min if
    *    < b) — member ids never beat their clique's rep_id. */
  def semanticDedup(vectors: DataFrame, model: IvfAnn.Model,
                    threshold: Double): DataFrame = {
    val cliques = Cliques.collapse(vectors.select(col("vec_id"), col("embedding")),
      Seq("embedding"), "vec_id")
    val v = cliques.rows

    if (!cliques.collapsed) {
      val a = v.select(col("vec_id"), col("embedding"),
        IvfAnn.assignCell(col("embedding"), model).as("cell"))
      val pairs = a.select(col("vec_id").as("id_a"),
          col("embedding").as("emb_a"), col("cell"))
        .join(a.select(col("vec_id").as("id_b"),
          col("embedding").as("emb_b"), col("cell")), Seq("cell"))
        .filter(col("id_a") < col("id_b"))
        .filter(VectorFns.cosine6(col("emb_a"), col("emb_b")) >= threshold)
      val dupOf = pairs.groupBy(col("id_b").as("vec_id"))
        .agg(min(col("id_a")).as("dup_of"))
      a.select(col("vec_id"), col("cell").cast(LongType).as("cell"))
        .join(dupOf, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
          col("dup_of").isNull.as("kept"))
    } else {
      val r = cliques.reps.select(col("vec_id").as("rep_id"), col("embedding"),
        IvfAnn.assignCell(col("embedding"), model).as("cell"),
        (VectorFns.cosine6(col("embedding"), col("embedding")) >= threshold)
          .as("intra_ok"))
      val matched = r.select(col("rep_id"), col("embedding").as("emb_a"),
          col("cell"))
        .join(r.select(col("rep_id").as("rep_b"),
          col("embedding").as("emb_b"), col("cell")), Seq("cell"))
        .filter(col("rep_id") =!= col("rep_b"))
        .filter(VectorFns.cosine6(col("emb_a"), col("emb_b")) >= threshold)
        .groupBy(col("rep_id")).agg(min(col("rep_b")).as("m"))
      val repInfo = r.select(col("rep_id"), col("embedding"), col("cell"),
          col("intra_ok"))
        .join(matched, Seq("rep_id"), "left")
      v.join(repInfo, Seq("embedding"))
        .select(col("vec_id"), col("cell").cast(LongType).as("cell"),
          when(col("intra_ok") && col("rep_id") < col("vec_id"), col("rep_id"))
            .as("own"),
          when(col("m") < col("vec_id"), col("m")).as("ext"))
        .select(col("vec_id"), col("cell"),
          coalesce(least(col("own"), col("ext")), lit(-1L)).as("dup_of"),
          (col("own").isNull && col("ext").isNull).as("kept"))
    }
  }

  /** Exact top-k neighbors for each query vector by cosine similarity:
    * every (query, cand) pair through [[Ann.exactTopK]]. Ties broken by
    * candidate id for determinism. */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame =
    Ann.exactTopK(Ann.pairs(queries, candidates, None,
      Seq(col("embedding").as("q_emb")), Seq(col("embedding").as("c_emb"))),
      k, dedup = false)

  /** Deterministic random hyperplanes: `planes` × `dim`, components from a
    * seeded java.util.Random (platform-stable LCG). */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(planes, dim)(rnd.nextGaussian())
  }

  /** Sign-pattern bucket id of a vector under the given hyperplanes —
    * native codegen kernel (graft.plans.HyperplaneBucket), one primitive
    * loop over all planes inside the scan stage. */
  def bucketOf(emb: Column, planes: Array[Array[Double]]): Column =
    graft.plans.Hyperplane.bucket(emb, planes)

  /** The XOR masks that reach every bucket at Hamming distance 1 and
    * (radius 2) distance 2 under `nPlanes` planes — pairwise distinct
    * and non-zero. */
  private def probeMasks(nPlanes: Int, radius: Int): Seq[Long] = {
    val one = if (radius >= 1) (0 until nPlanes).map(i => 1L << i) else Nil
    val two = if (radius >= 2)
      for { i <- 0 until nPlanes; j <- (i + 1) until nPlanes } yield (1L << i) | (1L << j)
    else Nil
    one ++ two
  }

  /** Multi-probe hyperplane LSH as an [[Ann.Probe]]: a query searches its
    * own sign-bucket and every bucket within Hamming distance
    * `probeRadius` (the bucket kernel written once, flipped by a
    * transform); a corpus vector sits in its one bucket. */
  def lshProbe(nPlanes: Int, dim: Int, probeRadius: Int): Ann.Probe = {
    val b = bucketOf(col("embedding"), hyperplanes(nPlanes, dim))
    Ann.Probe("bucket",
      transform(typedlit(0L +: probeMasks(nPlanes, probeRadius)), m => b.bitwiseXOR(m)),
      b, multi = false)
  }

  /** ANN top-k via multi-probe hyperplane LSH ([[lshProbe]]): flipping
    * 1–2 sign bits trades a small constant probe fan-out for the recall
    * that single-probe loses on weakly-correlated vectors — without adding
    * more hash tables (i.e. without re-bucketing the 100 TB candidate side,
    * which stays partitioned by one bucket id). The probe buckets are
    * pairwise distinct and a candidate has one bucket, so a pair meets at
    * most once: no dedup. */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              nPlanes: Int = 8, dim: Int = 64, probeRadius: Int = 1): DataFrame =
    Ann.exactTopK(Ann.pairs(queries, candidates,
      Some(lshProbe(nPlanes, dim, probeRadius)),
      Seq(col("embedding").as("q_emb")), Seq(col("embedding").as("c_emb"))),
      k, dedup = false)

  /** Embedding near-duplicate pairs over hyperplane-LSH buckets: emits
    * (id_a < id_b, cosine >= threshold) for every pair whose sign-buckets
    * are within Hamming distance `probeRadius`, cosine-verified exactly.
    *
    * Candidate generation is a bucket EQUI-join (the id_a-side explodes
    * its probe buckets; the id_b-side keeps its single bucket), so the
    * only shuffle is hash-partitioned on the bucket key and all pair
    * scoring is bucket-local — never an all-pairs/nested-loop join. A
    * qualifying pair matches exactly once (the min-id side's probe set
    * contains the max-id side's bucket iff their distance <= radius), so
    * no distinct is needed.
    *
    * The bucket-adjacency predicate is part of the operator's SEMANTICS
    * (deterministic seeded planes, reproducible in plain SQL — see the
    * q_dedup_embedding oracle, which carries the same plane constants as
    * literals), not a best-effort approximation: output is exactly
    * checkable, and at 10^9 vectors the plan is the one you'd want.
    * Exact-dup clique collapse (intra pairs at the rep's computed
    * self-cosine, so zero-norm embeddings drop exactly as the direct path
    * drops them) and the caching contract: see [[Cliques]]. */
  def cosineNearDupPairs(vectors: DataFrame, threshold: Double,
                         sampleMod: Int = 1, nPlanes: Int = 6, dim: Int = 64,
                         probeRadius: Int = 1): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val cliques = Cliques.collapse(vectors.filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id"), col("embedding")), Seq("embedding"), "vec_id")

    val v = cliques.docs.select(col("vec_id"), col("embedding"),
      bucketOf(col("embedding"), planes).as("bucket"))
    val a = v.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      explode(array(col("bucket") +: probeMasks(nPlanes, probeRadius)
        .map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val b = v.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      col("bucket"))
    val verified = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFns.cosine6(col("emb_a"), col("emb_b")).as("cosine"))
      .filter(col("cosine") >= threshold)

    if (!cliques.collapsed) verified
    else Cliques.expand(verified, cliques.memb, "cosine",
      cliques.reps.select(col("vec_id").as("rep"),
          VectorFns.cosine6(col("embedding"), col("embedding")).as("cosine"))
        .filter(col("cosine") >= threshold))
  }
}
