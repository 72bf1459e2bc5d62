package graft

import graft.operators.Similarity
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite with SparkSpec {

  /** Driver-side sign-bucket of `v` under `planes`. */
  private def bucket(planes: Array[Array[Double]], v: Array[Double]): Long = {
    var b = 0L
    planes.indices.foreach { p =>
      var dot = 0.0
      v.indices.foreach(j => dot += v(j) * planes(p)(j))
      if (dot >= 0) b |= (1L << p)
    }
    b
  }

  test("semanticDedup: collapsed clique path is output-identical to naive") {
    import spark.implicits._
    val base = Tables.embeddings(spark, sf).filter($"vec_id" < 100)
    val m = graft.operators.IvfAnn.train(base, "vec_id", "embedding", k = 4)
    // 5 exact copies of each vector (shifted ids) -> duplicates dominate
    // (100 distinct / 500 rows), so the operator takes the collapsed
    // path; the expected result is an independent naive cell-self-join
    // replay below.
    val dup = (0 until 5).map(i => base.select(
      ($"vec_id" + org.apache.spark.sql.functions.lit(i * 1000L))
        .as("vec_id"), $"embedding")).reduce(_ unionAll _)
    val out = Similarity.semanticDedup(dup, m, threshold = 0.3)
      .orderBy($"vec_id").collect()
    // independent naive replay (cell self-join), no collapse
    val a = dup.select($"vec_id", $"embedding",
      graft.operators.IvfAnn.assignCell($"embedding", m).as("cell"))
    val pairs = a.select($"vec_id".as("id_a"), $"embedding".as("emb_a"), $"cell")
      .join(a.select($"vec_id".as("id_b"), $"embedding".as("emb_b"), $"cell"),
        Seq("cell"))
      .filter($"id_a" < $"id_b")
      .filter(graft.functions.VectorFns.cosine6($"emb_a", $"emb_b") >= 0.3)
    val dupOf = pairs.groupBy($"id_b".as("vec_id"))
      .agg(org.apache.spark.sql.functions.min($"id_a").as("dup_of"))
    val naive = a.select($"vec_id", $"cell".cast("long").as("cell"))
      .join(dupOf, Seq("vec_id"), "left")
      .select($"vec_id", $"cell",
        org.apache.spark.sql.functions.coalesce($"dup_of",
          org.apache.spark.sql.functions.lit(-1L)).as("dup_of"),
        $"dup_of".isNull.as("kept"))
      .orderBy($"vec_id").collect()
    assert(out.length == naive.length)
    out.zip(naive).foreach { case (c, n) => assert(c == n, s"$c != $n") }
    graft.operators.OpCaches.releaseAll()
  }

  test("brute-force top-k returns exactly k ranked neighbors per query") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val topk = Similarity.bruteForceTopK(e.filter($"vec_id" < 5), e, k = 3)
    val counts = topk.groupBy($"query_id").count().collect()
    assert(counts.length == 5 && counts.forall(_.getLong(1) == 3))
    // ranks are 1..k and cosine non-increasing within a query
    val byQuery = topk.orderBy($"query_id", $"rank").collect()
      .groupBy(_.getAs[Long]("query_id"))
    byQuery.values.foreach { rows =>
      val cos = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("bruteForceTopK and lshTopK equal the exact reference over their candidates") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 20)
    val (qv, ev) = (AnnReference.vectors(q), AnnReference.vectors(e))
    assert(bag(AnnReference.rows(Similarity.bruteForceTopK(q, e, k = 5))) ==
      bag(AnnReference.topK(qv, ev, k = 5)((_, _) => true)))
    // LSH: a query meets the candidates whose bucket is within the probe
    // radius of its own; as multisets, so a pair surfacing twice fails
    val planes = Similarity.hyperplanes(6, 64)
    val b = ev.map { case (id, v) => id -> bucket(planes, v) }.toMap
    for (radius <- Seq(1, 2)) {
      val got = Similarity.lshTopK(q, e, k = 5, nPlanes = 6, probeRadius = radius)
      val expect = AnnReference.topK(qv, ev, k = 5)((x, y) =>
        java.lang.Long.bitCount(b(x) ^ b(y)) <= radius)
      assert(bag(AnnReference.rows(got)) == bag(expect), s"radius $radius")
    }
  }

  test("LSH top-1 recall vs brute force is reasonable") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 50)
    def pairs(df: org.apache.spark.sql.DataFrame) = bag(df
      .select($"query_id", $"cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))))
    val exact = pairs(Similarity.bruteForceTopK(q, e, k = 1))
    val single = pairs(Similarity.lshTopK(q, e, k = 1, nPlanes = 4, probeRadius = 0))
    val multi = pairs(Similarity.lshTopK(q, e, k = 1, nPlanes = 4, probeRadius = 2))
    def recall(m: Map[(Long, Long), Int]): Int =
      m.map { case (pair, c) => c * exact.getOrElse(pair, 0) }.sum
    val n = exact.values.sum
    // multi-probe must materially beat single-probe and clear a floor
    assert(recall(multi) > recall(single),
      s"multi-probe (${recall(multi)}) should beat single-probe (${recall(single)})")
    assert(recall(multi) >= n / 5,
      s"LSH top-1 recall too low: ${recall(multi)}/$n")
  }

  test("cosineNearDupPairs equals a driver-side bucket+verify reference") {
    import spark.implicits._
    val vecs = AnnReference.vectors(
      Tables.embeddings(spark, sf).filter($"vec_id" % 5 === 0))
    val planes = Similarity.hyperplanes(6, 64)
    val expected = bag(for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia < ib
      if java.lang.Long.bitCount(bucket(planes, va) ^ bucket(planes, vb)) <= 1
      if AnnReference.cosine6(va, vb) >= 0.3
    } yield (ia, ib))
    val got = bag(Similarity.cosineNearDupPairs(Tables.embeddings(spark, sf),
        threshold = 0.3, sampleMod = 5, nPlanes = 6, dim = 64, probeRadius = 1)
      .select($"id_a", $"id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))))
    assert(expected.nonEmpty && got == expected)
  }

  test("embedding clique collapse emits exactly the direct path's pairs") {
    import spark.implicits._
    // 8 copies of each of the first 40 sampled embeddings → distinct/raw
    // = 40/320 < 0.8 triggers the collapsed path; expected set from the
    // same driver-side bucket+verify reference over ALL member vectors
    val baseRows = AnnReference.vectors(Tables.embeddings(spark, sf)
      .filter($"vec_id" < 200).filter($"vec_id" % 5 === 0))
    val members = for {
      (id, emb) <- baseRows
      c <- 0 until 8
    } yield (id * 1000 + c, emb)
    val df = members.map { case (id, e) => (id, e.toSeq) }
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>"))
    val planes = Similarity.hyperplanes(6, 64)
    // multisets (row → count) including the cosine: a duplicated
    // expansion row or a wrong inherited value fails
    val expected = bag(for {
      (ia, va) <- members; (ib, vb) <- members
      if ia < ib
      if java.lang.Long.bitCount(bucket(planes, va) ^ bucket(planes, vb)) <= 1
      c = AnnReference.cosine6(va, vb)
      if c >= 0.3
    } yield (ia, ib, c))
    val got = bag(Similarity.cosineNearDupPairs(df,
        threshold = 0.3, sampleMod = 1, nPlanes = 6, dim = 64, probeRadius = 1)
      .select($"id_a", $"id_b", $"cosine")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    // intra-clique pairs must be present (identical embeddings)
    assert(expected.keys.exists { case (x, y, _) => x / 1000 == y / 1000 })
    assert(got == expected, s"collapsed != reference " +
      s"(missed ${(expected.toSet -- got.toSet).size}, extra ${(got.toSet -- expected.toSet).size})")
  }

  test("cosine expression matches a driver-side reference computation") {
    import spark.implicits._
    val rows = Tables.embeddings(spark, sf).filter($"vec_id" < 3)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val Array((_, v0), (_, v1), _) = rows
    def ref(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = Seq((v0.toSeq, v1.toSeq)).toDF("a", "b")
      .select(functions.VectorFns.cosine($"a", $"b")).collect().head.getDouble(0)
    assert(got == ref(v0, v1), "codegen cosine must be bit-equal to the sequential loop")
  }
}
