package graft

import graft.operators.AllPairs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AllPairsSpec extends AnyFunSuite with SparkSpec {

  /** Brute-force exact Jaccard join (the definition): every pair, no
    * filtering — what prefix filtering must reproduce exactly. */
  private def brute(docs: org.apache.spark.sql.DataFrame, t: Double) = {
    val toks = docs.select(col("doc_id"),
        array_distinct(filter(split(lower(col("text")), "[^a-z0-9]+"),
          x => x =!= "")).as("tk"))
      .filter(size(col("tk")) > 0)
    val a = toks.select(col("doc_id").as("id_a"), col("tk").as("ta"))
    val b = toks.select(col("doc_id").as("id_b"), col("tk").as("tb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("ta")) + size(col("tb")) - col("inter")))
      .filter(col("jac") >= t)
      .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jaccard"))
  }

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Row → count: a duplicated expansion row fails, unlike [[asSet]]. */
  private def asBag(df: org.apache.spark.sql.DataFrame) =
    bag(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))

  test("prefix-filtered join equals brute force (recall AND precision)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    for (t <- Seq(0.5, 0.9)) {
      val got = asSet(AllPairs.jaccardJoin(docs, $"doc_id", $"text", t))
      val want = asSet(brute(docs, t))
      assert(got == want,
        s"t=$t: missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
      graft.operators.OpCaches.releaseAll()
    }
  }

  test("token-free docs never pair; identical docs pair at threshold 1.0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "...!!!"), (4L, ""), (5L, "alpha beta delta")
    ).toDF("doc_id", "text")
    val out = asSet(AllPairs.jaccardJoin(docs, $"doc_id", $"text", 1.0))
    assert(out == Set((1L, 2L, 1.0)), s"got $out")
    graft.operators.OpCaches.releaseAll()
  }

  test("duplicate-heavy corpus: collapsed lane equals brute force") {
    import spark.implicits._
    // 4 distinct texts × 12 copies → distinct/raw = 4/48, far under the
    // collapse gate: the rep pipeline + expansion joins must reproduce
    // the definition exactly (cross pairs inherit the rep Jaccard,
    // intra-clique pairs are 1.0, id_a < id_b re-oriented)
    val base = Seq(
      "alpha beta gamma delta epsilon zeta",
      "alpha beta gamma delta epsilon eta",   // J=5/7 with the first
      "totally different words here now",
      "totally different words here then")    // J=4/6 with the third
    val docs = (for ((t, g) <- base.zipWithIndex; k <- 0 until 12)
      yield (g * 100L + k, t)).toDF("doc_id", "text")
    for (t <- Seq(0.6, 0.72)) {
      val got = asBag(AllPairs.jaccardJoin(docs, $"doc_id", $"text", t))
      val want = asBag(brute(docs, t))
      assert(got == want, s"t=$t: missing=${(want.toSet -- got.toSet).take(3)} " +
        s"extra=${(got.toSet -- want.toSet).take(3)}")
      graft.operators.OpCaches.releaseAll()
    }
  }

  test("compactJoin carries exactly the full pair list's information") {
    import spark.implicits._
    val base = Seq(
      "alpha beta gamma delta epsilon zeta",
      "alpha beta gamma delta epsilon eta",
      "totally different words here now",
      "totally different words here then")
    val docs = (for ((t, g) <- base.zipWithIndex; k <- 0 until 7)
      yield (g * 100L + k, t)).toDF("doc_id", "text")
    val t = 0.6
    val full = asSet(AllPairs.jaccardJoin(docs, $"doc_id", $"text", t))
    graft.operators.OpCaches.releaseAll()
    val compact = AllPairs.compactJoin(docs, $"doc_id", $"text", t)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    graft.operators.OpCaches.releaseAll()
    // multiplicities account for every full pair
    assert(compact.map(_._4).sum == full.size,
      s"n_pairs sums to ${compact.map(_._4).sum}, full list has ${full.size}")
    // expand compact through the member map and compare exactly
    val rep = docs.collect().map { r =>
      (r.getLong(0), base(r.getLong(0).toInt / 100))
    }
    val members = rep.groupBy(_._2).map { case (_, ds) =>
      val ids = ds.map(_._1).sorted; (ids.head, ids) }
    val expanded = compact.flatMap { case (a, b, j, _) =>
      if (a == b) { val m = members(a)
        (for (i <- m.indices; k <- i + 1 until m.length)
          yield (m(i), m(k), j)).toSeq
      } else (for (x <- members(a); y <- members(b))
        yield (math.min(x, y), math.max(x, y), j)).toSeq
    }.toSet
    assert(expanded == full,
      s"missing=${(full -- expanded).take(3)} extra=${(expanded -- full).take(3)}")
  }

  test("expandCompact(compact, memberMap) == jaccardJoin, dup-heavy and dup-free") {
    import spark.implicits._
    // r15: this is the serving contract behind q_allpairs — the full
    // pair list is reconstructed IN-ENGINE from the compact form + the
    // member map (the write-once parquet pair), so the equality must
    // hold exactly on both a duplicate-heavy corpus (inter + intra
    // expansion paths) and a dup-free one (intra path empty, every
    // group m=1)
    val base = Seq(
      "alpha beta gamma delta epsilon zeta",
      "alpha beta gamma delta epsilon eta",
      "totally different words here now",
      "totally different words here then")
    val dupHeavy = (for ((t, g) <- base.zipWithIndex; k <- 0 until 7)
      yield (g * 100L + k, t)).toDF("doc_id", "text")
    val dupFree = base.zipWithIndex
      .map { case (t, g) => (g * 100L, t) }.toDF("doc_id", "text")
    for ((docs, label) <- Seq((dupHeavy, "dup-heavy"), (dupFree, "dup-free"));
         t <- Seq(0.6, 1.0)) {
      val sets = AllPairs.buildTokenSets(docs, $"doc_id", $"text")
      val full = asBag(AllPairs.jaccardJoinFromSets(sets, t))
      graft.operators.OpCaches.releaseAll()
      val expanded = asBag(AllPairs.expandCompact(
        AllPairs.compactJoinFromSets(sets, t), AllPairs.memberMap(sets)))
      graft.operators.OpCaches.releaseAll()
      assert(expanded == full, s"$label t=$t: " +
        s"missing=${(full.toSet -- expanded.toSet).take(3)} " +
        s"extra=${(expanded.toSet -- full.toSet).take(3)}")
    }
  }

  test("near-threshold pairs: filter runs on the raw ratio, not rounded") {
    import spark.implicits._
    // J(a,b) = 9/13 ≈ 0.6923: below 0.7 — must NOT appear at t=0.7 even
    // though round(.,6)=0.692308 would also stay below; and MUST appear
    // at t=0.69. Guards the filter-before-round contract.
    val a = (1 to 11).map(i => s"t$i").mkString(" ")        // 11 tokens
    val b = (1 to 9).map(i => s"t$i").mkString(" ") + " x y" // 9 shared + 2
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    assert(asSet(AllPairs.jaccardJoin(docs, $"doc_id", $"text", 0.7)).isEmpty)
    val hit = asSet(AllPairs.jaccardJoin(docs, $"doc_id", $"text", 0.69))
    assert(hit.map(p => (p._1, p._2)) == Set((1L, 2L)))
    graft.operators.OpCaches.releaseAll()
  }
}
