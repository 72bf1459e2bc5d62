package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

/** Product quantization + asymmetric-distance (ADC) search — the FAISS
  * IVFADC memory path (Jégou, Douze, Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011 — public), the third ANN lane
  * next to hyperplane LSH and exact-rerank IVF:
  *
  *  - the d-dim embedding splits into `m` subspaces of d/m dims; each
  *    subspace gets its own `ksub`-centroid L2 k-means codebook;
  *  - a vector is stored as m small codes (m·log2(ksub) bits — here
  *    4 bytes instead of 256 for a 64-dim float vector, 64×), so the
  *    candidate scan of a 100 TB corpus touches codes, not floats;
  *  - a query computes ONE m×ksub table of exact subspace distances to
  *    every codebook centroid, then any candidate's approximate L2² is
  *    m table lookups (the "asymmetric" in ADC: query side stays exact).
  *
  * Composition with IVF (the actual FAISS layout): candidates are
  * restricted to the query's nProbe coarse cells first — the corpus
  * never meets the query outside its cells, and the per-candidate work
  * inside a cell is m integer lookups.
  *
  * Determinism/oracle: codebook training follows IvfAnn.train's recipe
  * (id-ordered bounded sample, fixed Lloyd rounds, evenly-spaced init,
  * lower-code tie-breaks) but in PLAIN L2 (no normalization — subspace
  * magnitudes matter). Encoding reuses the IvfProbeCells codegen kernel
  * via the augmented-vector trick: argmin_c ‖v−c‖² = argmax_c (v·c −
  * ‖c‖²/2), so appending a constant 1.0 to the sub-vector and −‖c‖²/2
  * to each centroid turns L2 assignment into the kernel's dot-product
  * ranking unchanged. Every float op (subspace left-fold sums, the
  * m-term ADC add) has a pinned order, so the DuckDB oracle replays the
  * trained codebooks as literals bit-for-bit. */
object PqAnn {

  /** `codebooks(sub)(code)(j)` — m × ksub × (d/m), plain (unnormalized)
    * centroids. */
  final case class Model(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def ksub: Int = codebooks(0).length
    def dsub: Int = codebooks(0)(0).length
  }

  /** Per-subspace L2 Lloyd iterations over a deterministic id-ordered
    * sample (driver-side by design — bounded and tiny, like IvfAnn). */
  def train(vectors: DataFrame, idCol: String, embCol: String, m: Int,
            ksub: Int, iters: Int = 10, maxSample: Int = 4096): Model = {
    val rows = vectors
      .select(col(idCol).cast(LongType).as("id"),
        col(embCol).cast(ArrayType(DoubleType)).as("e"))
      .orderBy(col("id"))
      .limit(maxSample)
      .collect()
    val sample: Array[Array[Double]] = rows.map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "PQ training sample is empty")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val n = sample.length
    val books = Array.tabulate(m) { sub =>
      val off = sub * dsub
      val proj: Array[Array[Double]] =
        sample.map(v => java.util.Arrays.copyOfRange(v, off, off + dsub))
      val kk = math.min(ksub, n)
      var centroids =
        Array.tabulate(kk)(c => proj((c.toLong * n / kk).toInt).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(kk)(new Array[Double](dsub))
        val counts = new Array[Int](kk)
        var i = 0
        while (i < n) {
          val v = proj(i)
          var best = 0
          var bestD = Double.PositiveInfinity
          var c = 0
          while (c < kk) {
            var d2 = 0.0
            var j = 0
            while (j < dsub) {
              val t = v(j) - centroids(c)(j); d2 += t * t; j += 1
            }
            if (d2 < bestD) { best = c; bestD = d2 } // strict: lower c wins ties
            c += 1
          }
          val sacc = sums(best)
          var j = 0
          while (j < dsub) { sacc(j) += v(j); j += 1 }
          counts(best) += 1
          i += 1
        }
        centroids = Array.tabulate(kk) { c =>
          if (counts(c) == 0) centroids(c)
          else centroids(c).indices.map(j => sums(c)(j) / counts(c)).toArray
        }
        it += 1
      }
      centroids
    }
    Model(books)
  }

  /** Centroids augmented for the dot-ranking kernel: c ++ [−‖c‖²/2]. */
  def augmented(cb: Array[Array[Double]]): Array[Array[Double]] =
    cb.map { c =>
      var s = 0.0; var j = 0
      while (j < c.length) { s += c(j) * c(j); j += 1 }
      c :+ (-0.5 * s)
    }

  private def subVec(emb: Column, sub: Int, dsub: Int): Column =
    slice(emb, sub * dsub + 1, dsub).cast(ArrayType(DoubleType))

  /** The m PQ codes of `emb` as array<int> (1-based kernel cells are
    * 0-based codes already), assigned in the scan stage by the codegen
    * kernel — encoding a 100 TB corpus is one map pass. */
  def codes(emb: Column, model: Model): Column =
    array(model.codebooks.zipWithIndex.map { case (cb, sub) =>
      element_at(graft.plans.Ivf.probeCells(
        concat(subVec(emb, sub, model.dsub), array(lit(1.0))),
        augmented(cb), 1), 1)
    }: _*)

  /** Exact subspace distance of `emb`'s sub-vector to one centroid —
    * ascending-j left fold, the order every replay pins. */
  private def subDist(emb: Column, sub: Int, c: Array[Double],
                      dsub: Int): Column =
    aggregate(
      zip_with(subVec(emb, sub, dsub), typedlit(c.toSeq),
        (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** The query-side ADC table: array<array<double>>, m × ksub exact
    * subspace distances. Computed once per QUERY row (higher-order
    * functions are fine here — queries are few; candidates never touch
    * this path). */
  def distTable(emb: Column, model: Model): Column =
    array(model.codebooks.zipWithIndex.map { case (cb, sub) =>
      array(cb.map(c => subDist(emb, sub, c, model.dsub)): _*)
    }: _*)

  /** Full-dimension exact L2² with the same ascending fold (the
    * verification companion column). */
  def l2sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a.cast(ArrayType(DoubleType)), b.cast(ArrayType(DoubleType)),
        (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** IVFADC with an exact-rerank shortlist (the standard FAISS two-stage
    * search): ADC ranks every in-cell candidate by its m table lookups,
    * the per-query top-`shortlist` survive ([[Ann.shortlist]]), and ONLY
    * those are scored by the exact one-pass codegen cosine for the final
    * top-k ([[Ann.exactTopK]]). This is the production recall/cost
    * point: the 100 TB corpus is still touched only through codes (m
    * ints per candidate), and the full-float exact work is bounded at
    * `shortlist` vectors per query regardless of cell population. Output
    * schema matches the other ANN lanes (query_id, cand_id, cosine,
    * rank) so the recall audit can compare directly; the shortlist cut
    * uses the same deterministic (adc_dist, cand_id) order as
    * [[adcTopK]]. */
  def adcRerankTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                    shortlist: Int, coarse: IvfAnn.Model, model: Model,
                    nProbe: Int): DataFrame =
    Ann.exactTopK(
      Ann.shortlist(adcScored(queries, candidates, coarse, model, nProbe),
          round(col("adc_raw"), 6), shortlist)
        .select(col("query_id"), col("cand_id"), col("q_emb"), col("c_emb")),
      k, dedup = false)

  /** The shared IVFADC candidate scan: the [[Ann.pairs]] of each query's
    * nProbe coarse cells (IvfAnn's quantizer, single assignment), every
    * in-cell candidate carrying its raw (unrounded) ADC sum plus the two
    * embeddings for whichever rerank/verification stage follows. The
    * query side (probe fan-out + dist table) broadcasts; the candidate
    * side is one map-side scan computing (codes, cell) in the scan
    * stage. */
  private def adcScored(queries: DataFrame, candidates: DataFrame,
                        coarse: IvfAnn.Model, model: Model,
                        nProbe: Int): DataFrame = {
    val emb = col("embedding")
    val adc = (0 until model.m)
      .map(sub => element_at(element_at(col("dt"), sub + 1),
        element_at(col("codes"), sub + 1) + 1))
      .reduceLeft(_ + _)
    Ann.pairs(queries, candidates, Some(IvfAnn.probe(coarse, nProbe, 1)),
        Seq(emb.as("q_emb"), distTable(emb, model).as("dt")),
        Seq(emb.as("c_emb"), codes(emb, model).as("codes")))
      .select(col("query_id"), col("cand_id"), col("q_emb"), col("c_emb"),
        adc.as("adc_raw"))
  }

  /** IVFADC top-k: the shared candidate scan cut at k by rounded ADC
    * ascending with candidate-id tie-breaks ([[Ann.shortlist]]); exact
    * L2² rides along to exhibit the approximation. */
  def adcTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              coarse: IvfAnn.Model, model: Model, nProbe: Int): DataFrame =
    Ann.shortlist(adcScored(queries, candidates, coarse, model, nProbe)
        .select(col("query_id"), col("cand_id"),
          round(col("adc_raw"), 6).as("adc_dist"),
          round(l2sq(col("q_emb"), col("c_emb")), 6).as("exact_dist")),
        col("adc_dist"), k)
      .select(col("query_id"), col("cand_id"), col("adc_dist"),
        col("exact_dist"), col("srank").cast(LongType).as("rank"))
}
