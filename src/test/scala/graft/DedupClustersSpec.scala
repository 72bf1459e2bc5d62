package graft

import graft.operators.{DedupClusters, MinhashTables}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

class DedupClustersSpec extends AnyFunSuite with SparkSpec {

  private def labels(df: DataFrame): Seq[(Long, Long)] =
    df.collect().toSeq.map(r => r.getLong(0) -> r.getLong(1))

  /** Brute-force closure: union-find over `pairs`, every id that appears
    * in a pair labelled with its component's minimum. */
  private def closure(pairs: Seq[(Long, Long)]): Seq[Row] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => Row(x, find(x)))
  }

  test("label propagation finds connected components") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11}, singleton edge {20,20}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L))
      .toDF("id_a", "id_b")
    val got = labels(DedupClusters.clusters(pairs, $"id_a", $"id_b").labels)
    assert(bag(got) == bag(Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L)))
  }

  test("star rounds are O(log diameter) and match a brute-force closure") {
    import spark.implicits._
    // a 300-node path: label propagation would need ~300 rounds; star
    // rounds are logarithmic — require the stop well under the diameter
    val chain = (0L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val star = DedupClusters.clusters(chain, $"id_a", $"id_b")
    assert(star.rounds <= 12, s"not logarithmic: ${star.rounds} rounds")
    assert(star.labels.collect().forall(_.getLong(1) == 0L), "chain must collapse to 0")
    // random graph (both orientations, duplicates, self-loops): the
    // labels equal the union-find closure as a multiset
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(400)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
    val got = DedupClusters.clusters(edges.toDF("id_a", "id_b"), $"id_a", $"id_b")
    assert(bag(got.labels.collect().toSeq) == bag(closure(edges)))
  }

  test("clusters over real minhash pairs are internally consistent") {
    import spark.implicits._
    val pairs = operators.Dedup.minhashLshPairs(
      Tables.documents(spark, sf), $"text", $"doc_id",
      shingleK = 2, numHashes = 64, bands = 16, threshold = 0.5)
    val rows = labels(DedupClusters.clusters(pairs, $"id_a", $"id_b").labels)
    assert(bag(rows.map(_._1)).values.forall(_ == 1), "a doc carries two labels")
    val label = rows.toMap
    // every pair's endpoints must share a cluster, labels are cluster minima
    pairs.select($"id_a", $"id_b").collect().foreach { r =>
      assert(label(r.getLong(0)) == label(r.getLong(1)))
    }
    label.groupBy(_._2).foreach { case (cl, members) =>
      assert(members.keys.min == cl, s"cluster $cl label is not its minimum")
    }
  }

  test("rep-graph CC (MinhashTables.clusters) equals CC over expanded pairs on a clique corpus") {
    import spark.implicits._
    // clique-heavy: 6 copies each of 5 texts (two texts near-dups of each
    // other), one token-less doc, one unique doc — triggers the collapsed
    // path, exercises intra-only cliques, merged cliques, and exclusions.
    // The derived table runs the CC on the rep graph; the reference runs
    // it over the expanded member pairs.
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta eta theta",
      "alpha beta gamma delta epsilon zeta eta iota",
      "one two three four five six seven eight nine ten",
      "lorem ipsum dolor sit amet consectetur adipiscing elit",
      "completely different content about distributed shuffles")
    val docs = for {
      (t, ti) <- texts.zipWithIndex; c <- 0 until 6
    } yield ((ti * 100 + c).toLong, t)
    val dir = java.nio.file.Files.createTempDirectory("dedup-reps-spec")
    try {
      (docs ++ Seq((9000L, "!!! ??? ..."),
        (9100L, "a single unique document with its own words entirely")))
        .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val p = MinhashTables.point
      val viaPairs = labels(DedupClusters.clusters(
          operators.Dedup.minhashLshPairs(Tables.documents(spark, dir.toString),
            $"text", $"doc_id", p.shingleK, p.numHashes, p.bands, p.threshold),
          $"id_a", $"id_b").labels)
      val viaReps = labels(MinhashTables.clusters(spark, dir.toString))
      assert(viaPairs.nonEmpty && bag(viaReps) == bag(viaPairs))
    } finally Fs.deleteRec(dir)
  }

  test("a near-dup chain of eleven hops clusters to its closure (derived table and lane)") {
    import spark.implicits._
    // doc i = words [10i, 10i + 60) of one distinct-word stream: under
    // word 2-shingles neighbours share 49 of 69 shingles (J = 0.71) and
    // docs two apart 39 of 79 (J = 0.49), so only neighbours verify at
    // J >= 0.5 and the pair graph is one path
    val n = 12
    val ids = (0 until n).map(i => 100L + i)
    val docs = ids.zipWithIndex.map { case (id, i) =>
      (id, (10 * i until 10 * i + 60).map(w => s"w$w").mkString(" "))
    }
    val dir = java.nio.file.Files.createTempDirectory("dedup-chain-spec")
    try {
      docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val pairs = MinhashTables.pairs(spark, dir.toString)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSeq
      val path = ids.zip(ids.tail)
      assert(path.size > 5)
      assert(bag(pairs) == bag(path), s"the LSH pair graph is not the path: $pairs")
      val want = bag(closure(pairs))
      assert(bag(MinhashTables.clusters(spark, dir.toString).collect().toSeq) == want)
      val lane = SparkEntry.queries("q_dedup_clusters")(spark, dir.toString)
      assert(bag(lane.collect().toSeq) == want)
    } finally Fs.deleteRec(dir)
  }
}
