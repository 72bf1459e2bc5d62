package graft

import graft.operators.{PageRank, Triangles}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TrianglesSpec extends AnyFunSuite with SparkSpec {

  private def sym(pairs: (Long, Long)*) = {
    import spark.implicits._
    (pairs ++ pairs.map(_.swap)).distinct.toDF("src", "dst")
  }

  /** (node, n_triangles) rows as a multiset: a duplicated node row fails
    * the comparison. */
  private def counts(df: DataFrame): Map[(Long, Long), Int] =
    bag(df.collect().toSeq.map(r => r.getLong(0) -> r.getLong(1)))

  /** The merge plan over the inline orientation and adjacency. */
  private def merge(und: DataFrame): DataFrame = {
    val oriented = Triangles.orient(und).select(col("u"), col("v"))
    Triangles.perNodeMergeOn(oriented, Triangles.adjacencyOf(oriented))
  }

  test("triangle + pendant: exactly the triangle's nodes count once each") {
    val und = sym((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val out = counts(Triangles.perNode(und))
    assert(out == bag(Seq(1L -> 1L, 2L -> 1L, 3L -> 1L)), s"got $out")
  }

  test("K4: every node participates in C(3,2)=3 triangles") {
    val nodes = Seq(1L, 2L, 3L, 4L)
    val und = sym((for { a <- nodes; b <- nodes if a < b } yield (a, b)): _*)
    val out = counts(Triangles.perNode(und))
    assert(out == bag(nodes.map(_ -> 3L)), s"got $out")
  }

  test("batched closure is identical to the single-job plan") {
    import spark.implicits._
    val und = PageRank.coOccurrenceEdges(
      Tables.lineitem(spark, sf), $"l_orderkey", $"l_partkey", maxBasket = 64)
    val one = counts(Triangles.perNode(und, batches = 1))
    val four = counts(Triangles.perNode(und, batches = 4))
    graft.operators.OpCaches.releaseAll()
    assert(one == four, s"batched diverged: ${one.size} vs ${four.size}")
  }

  test("merge plan (edge-iterator kernel) identical to the wedge plan") {
    import spark.implicits._
    // r15: the production lane's plan — per-edge sorted-adjacency
    // intersection — must equal the wedge-join plan everywhere
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 8 + rnd.nextInt(20)
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n if rnd.nextDouble() < 0.3
      } yield (a, b))
      if (edges.nonEmpty) {
        val und = sym(edges: _*)
        assert(counts(Triangles.perNode(und)) == counts(merge(und)),
          s"merge plan diverged on n=$n")
      }
    }
    val real = PageRank.coOccurrenceEdges(
      Tables.lineitem(spark, sf), $"l_orderkey", $"l_partkey", maxBasket = 64)
    val wedge = counts(Triangles.perNode(real))
    val merged = counts(merge(real))
    assert(wedge == merged, s"real fixture: ${wedge.size} vs ${merged.size}")
  }

  test("materialized oriented+adjacency (parquet round-trip) identical to inline merge plan") {
    import spark.implicits._
    // r16: the catalog lane serves from write-once parquet tables
    // (CoPurchase.orientedFull/triAdjacency). The round-trip must be
    // invisible. Spark types every parquet-read array nullable, so
    // this path exercises the intersect kernel's CHECKED variant
    // (null pre-scan compiled in from the static type) — results must
    // still equal the inline plan's fast path exactly.
    val real = PageRank.coOccurrenceEdges(
      Tables.lineitem(spark, sf), $"l_orderkey", $"l_partkey", maxBasket = 64)
    val orientedInline = Triangles.orient(real).select($"u", $"v")
    val dir = java.nio.file.Files.createTempDirectory("tri_mat_").toString
    orientedInline.write.mode("overwrite").parquet(s"$dir/oriented")
    val oriented = spark.read.parquet(s"$dir/oriented")
    Triangles.adjacencyOf(oriented)
      .write.mode("overwrite").parquet(s"$dir/adj")
    val adj = spark.read.parquet(s"$dir/adj")
    val served = counts(Triangles.perNodeMergeOn(oriented, adj))
    val inline = counts(merge(real))
    assert(served == inline,
      s"materialized plan diverged: ${served.size} vs ${inline.size}")
    // the broadcast-probe shape (the catalog lane under
    // perNodeMergeAuto while adjacency fits memory) — identical rows
    val broadcasted = counts(Triangles.perNodeMergeOn(oriented, adj,
        broadcastAdj = true))
    assert(broadcasted == inline,
      s"broadcast plan diverged: ${broadcasted.size} vs ${inline.size}")
    graft.Fs.deleteRec(java.nio.file.Paths.get(dir))
  }

  test("random graphs: always matches brute force (incl. ties, components)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 8 + rnd.nextInt(20)
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n if rnd.nextDouble() < 0.3
      } yield (a, b))
      if (edges.nonEmpty) {
        val und = sym(edges: _*)
        val fast = counts(Triangles.perNode(und))
        // brute force over node triples, driver-side
        val adj = edges.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
          .map { case (k, v) => k -> v.map(_._2).toSet }
        val slow = scala.collection.mutable.Map.empty[Long, Long]
          .withDefaultValue(0L)
        for {
          a <- 1L to n; b <- (a + 1) to n if adj.getOrElse(a, Set()).contains(b)
          c <- (b + 1) to n
          if adj.getOrElse(a, Set()).contains(c) &&
            adj.getOrElse(b, Set()).contains(c)
        } { slow(a) += 1; slow(b) += 1; slow(c) += 1 }
        assert(fast == bag(slow.toSeq), s"trial $trial (n=$n): $fast != $slow")
      }
    }
  }

  test("degree-ordered counts match id-ordered brute force on the real graph") {
    import spark.implicits._
    val und = PageRank.coOccurrenceEdges(
      Tables.lineitem(spark, sf), $"l_orderkey", $"l_partkey", maxBasket = 64)
    val fast = counts(Triangles.perNode(und))
    // brute force: id-oriented wedge closure (no degree trick)
    val o = und.filter($"src" < $"dst")
    val w = o.select($"src".as("u"), $"dst".as("v"))
      .join(o.select($"src".as("u"), $"dst".as("w")), Seq("u"))
      .filter($"v" < $"w")
    val t = w.join(o.select($"src".as("v"), $"dst".as("w")), Seq("v", "w"))
    val slow = counts(t.select(explode(array($"u", $"v", $"w")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("n")))
    assert(fast == slow,
      s"degree-ordered diverges from brute force: ${fast.size} vs ${slow.size}")
  }
}
