package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF (inverted-file) approximate-nearest-neighbor search — the second
  * scale path next to hyperplane LSH (graft.operators.Similarity.lshTopK).
  *
  * Architecture (the standard IVF design, re-expressed Spark-first):
  *  - a small coarse quantizer (k centroids) is TRAINED ON A BOUNDED,
  *    DETERMINISTIC SAMPLE collected to the driver — centroids are a few
  *    KB, the industry-standard way to fit an IVF quantizer regardless of
  *    corpus size;
  *  - every candidate vector is assigned to its nearest cell by a native
  *    codegen kernel (graft.plans.IvfProbeCells) inside the scan stage —
  *    the "inverted file" at 100 TB is simply the corpus partitioned (or
  *    partitioned-by on write) on the cell id, one map pass, no shuffle
  *    beyond the cell repartition you'd do once at index-build time;
  *  - each query probes its `nProbe` nearest cells (the IVF recall knob),
  *    so the search is a bucket equi-join: cells with no query probe are
  *    never scanned — unlike brute force, which reads everything;
  *  - within probed cells, scoring is the exact one-pass codegen cosine,
  *    and per-query top-k runs through row_number (rewritten to the
  *    bounded-heap TopKPerGroup operator when GraftExtensions is
  *    installed) — the [[Ann]] candidate pairs and exact rerank.
  *
  * Everything is deterministic: the training sample is id-ordered, Lloyd
  * iterations are fixed-count with left-to-right accumulation, empty cells
  * keep their previous centroid, and ties in cell selection break toward
  * the lower cell id — so the index (and therefore results) is exactly
  * reproducible run-to-run.
  */
object IvfAnn {

  /** A trained coarse quantizer: `centroids(c)(j)`, each row unit-norm. */
  final case class Model(centroids: Array[Array[Double]]) {
    def nCells: Int = centroids.length
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0) v else v.map(_ / n)
  }

  /** Train a k-cell quantizer with `iters` Lloyd rounds of spherical
    * k-means over a deterministic sample of at most `maxSample` vectors
    * (the lowest ids — a top-k, not a global sort). The sample and the
    * centroid array are driver-side BY DESIGN: both are bounded and tiny
    * relative to any corpus, and quantizer training is the one part of IVF
    * that does not distribute (FAISS trains the same way). */
  def train(vectors: DataFrame, idCol: String, embCol: String,
            k: Int, iters: Int = 10, maxSample: Int = 4096): Model = {
    val rows = vectors
      .select(col(idCol).cast(LongType).as("id"), col(embCol).cast(ArrayType(DoubleType)).as("e"))
      .orderBy(col("id"))
      .limit(maxSample)
      .collect()
    val sample: Array[Array[Double]] =
      rows.map(r => normalize(r.getSeq[Double](1).toArray))
    require(sample.nonEmpty, "IVF training sample is empty")
    val n = sample.length
    val dim = sample(0).length
    val kk = math.min(k, n)
    // deterministic init: evenly spaced over the id-ordered sample
    var centroids = Array.tabulate(kk)(c => sample((c.toLong * n / kk).toInt).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Int](kk)
      var i = 0
      while (i < n) {
        val v = sample(i)
        var best = 0
        var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < kk) {
          var dot = 0.0
          var j = 0
          while (j < dim) { dot += v(j) * centroids(c)(j); j += 1 }
          if (dot > bestDot) { best = c; bestDot = dot }
          c += 1
        }
        val s = sums(best)
        var j = 0
        while (j < dim) { s(j) += v(j); j += 1 }
        counts(best) += 1
        i += 1
      }
      centroids = Array.tabulate(kk) { c =>
        if (counts(c) == 0) centroids(c) // empty cell keeps its centroid
        else normalize(sums(c))
      }
      it += 1
    }
    Model(centroids)
  }

  /** Nearest-cell assignment (the index-build pass). */
  def assignCell(emb: Column, model: Model): Column =
    element_at(graft.plans.Ivf.probeCells(emb, model.centroids, 1), 1)

  /** The `nProbe` cells a query searches. */
  def probeCells(emb: Column, model: Model, nProbe: Int): Column =
    graft.plans.Ivf.probeCells(emb, model.centroids, nProbe)

  /** Multi-assignment (spill) index build: each candidate enters its
    * top-`spill` cells, not just the nearest — the SOAR/multi-probe
    * trade (Sun et al. NeurIPS'23 measure the same effect): the index
    * grows `spill`×, but a query probing p cells now finds boundary
    * vectors whose SECOND-nearest cell it probed. Measured on the
    * isotropic benchmark embeddings (SCALE.md r14): at an equal ~25%
    * scan budget, spill=2 lifts recall@5 from ~0.70 (single-assign,
    * fraction-law bound) to ~0.88 — the only family that beat the
    * fraction law on data with no cluster structure. */
  def assignCells(emb: Column, model: Model, spill: Int): Column =
    graft.plans.Ivf.probeCells(emb, model.centroids, spill)

  /** The IVF search as an [[Ann.Probe]]: a query searches its `nProbe`
    * nearest cells; a corpus vector sits in its nearest cell or, with
    * `spill` > 1, in each of its top-`spill` cells ([[assignCells]]) —
    * then a pair can meet in up to `spill` shared cells. */
  def probe(model: Model, nProbe: Int, spill: Int): Ann.Probe = {
    val emb = col("embedding")
    Ann.Probe("cell", probeCells(emb, model, nProbe),
      if (spill == 1) assignCell(emb, model)
      else explode(assignCells(emb, model, spill)),
      multi = spill > 1)
  }

  /** Exact-rerank IVF top-k: candidates restricted to each query's
    * `nProbe` nearest cells of an index built with `spill`-way
    * assignment ([[probe]]), scored by exact cosine, ties by candidate
    * id. The query side (with its probe fan-out) is broadcast; the
    * candidate side is scanned map-side with its cell computed in the
    * scan stage — at index time you'd materialize `cell` once and
    * partition by it. A spilled index deduplicates the (query, cand)
    * pairs met in several cells; its scan cost is the join's
    * pair-visits, which the ivf_s audit lane reports honestly
    * (duplicates included). */
  def topK(queries: DataFrame, candidates: DataFrame, k: Int, model: Model,
           nProbe: Int, spill: Int): DataFrame = {
    val p = probe(model, nProbe, spill)
    Ann.exactTopK(Ann.pairs(queries, candidates, Some(p),
      Seq(col("embedding").as("q_emb")), Seq(col("embedding").as("c_emb"))),
      k, dedup = p.multi)
  }
}
