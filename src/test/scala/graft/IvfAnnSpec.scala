package graft

import graft.operators.{IvfAnn, Similarity}
import org.scalatest.funsuite.AnyFunSuite

class IvfAnnSpec extends AnyFunSuite with SparkSpec {

  test("training is deterministic and produces unit-norm centroids") {
    val e = Tables.embeddings(spark, sf)
    val m1 = IvfAnn.train(e, "vec_id", "embedding", k = 8, iters = 5)
    val m2 = IvfAnn.train(e, "vec_id", "embedding", k = 8, iters = 5)
    assert(m1.centroids.length == 8)
    m1.centroids.zip(m2.centroids).foreach { case (a, b) =>
      assert(a.sameElements(b), "two identical train() runs must agree exactly")
    }
    m1.centroids.foreach { c =>
      val norm = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-9, s"centroid norm $norm != 1")
    }
  }

  test("every vector lands in exactly one cell, and cells partition the corpus") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val model = IvfAnn.train(e, "vec_id", "embedding", k = 8)
    val cells = e.select($"vec_id", IvfAnn.assignCell($"embedding", model).as("cell"))
    val total = e.count()
    assert(cells.count() == total)
    val range = cells.agg(
      org.apache.spark.sql.functions.min($"cell"),
      org.apache.spark.sql.functions.max($"cell")).collect().head
    assert(range.getInt(0) >= 0 && range.getInt(1) < 8)
    // clustered corpus → the quantizer should actually use several cells
    assert(cells.select($"cell").distinct().count() >= 4)
  }

  test("IVF top-1 recall vs brute force clears a floor, and nProbe raises it") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 50)
    val model = IvfAnn.train(e, "vec_id", "embedding", k = 16)
    def pairs(df: org.apache.spark.sql.DataFrame) = bag(df
      .select($"query_id", $"cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))))
    val exact = pairs(Similarity.bruteForceTopK(q, e, k = 1))
    val n = exact.values.sum
    def recall(nProbe: Int): Int =
      pairs(IvfAnn.topK(q, e, k = 1, model, nProbe, spill = 1))
        .map { case (pair, c) => c * exact.getOrElse(pair, 0) }.sum
    val r1 = recall(1)
    val r4 = recall(4)
    assert(r4 >= r1, s"nProbe=4 recall ($r4) must not lose to nProbe=1 ($r1)")
    assert(r4 >= (n * 3) / 5, s"IVF recall too low: $r4/$n")
  }

  test("probe list is the nProbe distinct nearest cells") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val model = IvfAnn.train(e, "vec_id", "embedding", k = 8)
    val probes = e.filter($"vec_id" < 20)
      .select(IvfAnn.probeCells($"embedding", model, 3).as("cells"))
      .collect().map(_.getSeq[Int](0))
    probes.foreach { p =>
      assert(p.length == 3 && p.distinct.length == 3)
      assert(p.forall(c => c >= 0 && c < 8))
    }
    // first probe == the nProbe=1 assignment
    val first = e.filter($"vec_id" < 20)
      .select(IvfAnn.assignCell($"embedding", model).as("cell"))
      .collect().map(_.getInt(0))
    assert(probes.map(_.head).sameElements(first))
  }

  // The name predates the fold of topKSpill into topK's spill parameter.
  test("spill=1 topKSpill degenerates to plain topK; spill raises recall at fixed probes") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 30)
    val model = IvfAnn.train(e, "vec_id", "embedding", k = 16)
    val (qv, ev) = (AnnReference.vectors(q), AnnReference.vectors(e))
    // spill=1 holds each candidate in its one nearest cell only, and
    // topK over it is the reference restricted to the probed cells
    val probed = q.select($"vec_id", IvfAnn.probeCells($"embedding", model, 4))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
    val held = e.select($"vec_id", IvfAnn.assignCell($"embedding", model),
        IvfAnn.assignCells($"embedding", model, 1))
      .collect().map { r =>
        assert(r.getSeq[Int](2) == Seq(r.getInt(1)), "spill=1 must assign the nearest cell alone")
        r.getLong(0) -> r.getInt(1)
      }.toMap
    val expect = AnnReference.topK(qv, ev, k = 3)((a, b) => probed(a).contains(held(b)))
    val got = AnnReference.rows(IvfAnn.topK(q, e, k = 3, model, nProbe = 4, spill = 1))
    assert(bag(got) == bag(expect))
    // recall vs brute truth must not DROP when the index spills wider —
    // every single-assign candidate is still a candidate
    val exact = bag(Similarity.bruteForceTopK(q, e, k = 3)
      .select($"query_id", $"cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))))
    def hits(spill: Int): Int =
      IvfAnn.topK(q, e, k = 3, model, nProbe = 4, spill = spill)
        .select($"query_id", $"cand_id").collect()
        .count(r => exact.contains((r.getLong(0), r.getLong(1))))
    val h1 = hits(1)
    val h2 = hits(2)
    assert(h2 >= h1, s"spill=2 recall ($h2) must not lose to spill=1 ($h1)")
  }

  test("topK equals the exact reference over its probed cells (all cells; spill 3)") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 30)
    val model = IvfAnn.train(e, "vec_id", "embedding", k = 16)
    val (qv, ev) = (AnnReference.vectors(q), AnnReference.vectors(e))
    def cells(df: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column) =
      df.select($"vec_id", c).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
    // probing every cell is exact: the brute-force reference itself
    val all = IvfAnn.topK(q, e, k = 3, model, nProbe = model.nCells, spill = 1)
    assert(bag(AnnReference.rows(all)) ==
      bag(AnnReference.topK(qv, ev, k = 3)((_, _) => true)))
    // as multisets: a (query, cand) pair met in two shared cells and
    // not collapsed would show as a duplicated row
    val probed = cells(q, IvfAnn.probeCells($"embedding", model, 4))
    val held = cells(e, IvfAnn.assignCells($"embedding", model, 3))
    val expect = AnnReference.topK(qv, ev, k = 3)((a, b) =>
      (probed(a) & held(b)).nonEmpty)
    val got = AnnReference.rows(IvfAnn.topK(q, e, k = 3, model, nProbe = 4, spill = 3))
    assert(bag(got) == bag(expect))
  }
}
