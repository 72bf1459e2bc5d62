package graft

import graft.operators.{BitextMine, Decontaminate, Dsir, EpochPlan}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 training-pipeline operators: DSIR importance weights,
  * span-level decontamination, margin-based bitext mining, the
  * data-constrained epoch planner. */
class TrainingPlanSpec extends AnyFunSuite with SparkSpec {

  // ---- Dsir ----------------------------------------------------------

  test("DSIR upweights target-like docs and downweights the rest") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "quality prose with careful words and clear structure"),
      (2L, "en", "quality prose with careful words and tidy structure"),
      (3L, "xx", "zz9 qq8 vv7 spam spam spam zz9 qq8 vv7 spam"),
      (4L, "xx", "quality prose with careful words and clear structure"),
      (5L, "xx", "vv7 zz9 spam qq8 spam zz9")).toDF("doc_id", "lang", "text")
    val w = Dsir.weightsWithin(docs, $"lang" === "en",
        $"text", $"doc_id", numBuckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // doc 4 repeats the target text verbatim: its weight must match the
    // target docs' scale and beat the spam docs decisively
    assert(w(4L) > w(3L) && w(4L) > w(5L),
      s"target-like doc not upweighted: $w")
    assert(w(1L) > w(3L), s"target doc below spam: $w")
  }

  test("weightsWithin (one-pass) equals the general two-corpus form on real data") {
    import spark.implicits._
    // the general form is DsirReference over the collected feature rows
    // of the two corpora (raw = every doc, target = the English slice)
    val docs = Tables.documents(spark, sf)
    def features(d: org.apache.spark.sql.DataFrame) =
      Dsir.docFeatures(d, $"text", $"doc_id").collect().toSeq
        .map(r => (r.getLong(0), r.getString(1)))
    val fast = Dsir.weightsWithin(docs, $"lang" === "en",
        $"text", $"doc_id", numBuckets = 512)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val general = DsirReference.weights(features(docs),
      features(docs.filter($"lang" === "en")), numBuckets = 512)
    assert(general.nonEmpty && bag(fast) == bag(general),
      s"fast path diverged: onlyFast=${(fast.toSet -- general).take(3)} " +
        s"onlyGeneral=${(general.toSet -- fast).take(3)}")
  }

  test("DSIR feature extraction: unigrams + bigrams with multiplicity, no null bigrams") {
    import spark.implicits._
    val docs = Seq((1L, "a b a"), (2L, "solo"), (3L, "")).toDF("doc_id", "text")
    val f = Dsir.docFeatures(docs, $"text", $"doc_id")
      .groupBy($"doc_id").agg(count(lit(1)).as("n"),
        sum(when($"feature".isNull, 1).otherwise(0)).as("nulls"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(f(1L) == ((5L, 0L)), s"want 3 unigrams + 2 bigrams: $f") // a b a, a-b b-a
    assert(f(2L) == ((1L, 0L)), s"one-token doc must yield no bigram: $f")
    assert(!f.contains(3L), "empty doc must yield no features")
  }

  // ---- Decontaminate.stripContaminated --------------------------------

  test("span strip removes exactly the colliding gram spans") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "keep one alpha beta gamma keep two"),
      (2L, "nothing shared here at all"),
      (3L, "alpha beta gamma alpha beta gamma"),
      (4L, "")).toDF("doc_id", "text")
    val out = Decontaminate.stripContaminated(train, bench, $"text", $"doc_id", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((7L, 3L, "keep one keep two")))
    assert(out(2L) == ((5L, 0L, "nothing shared here at all")))
    // overlapping occurrences: every token of doc 3 is covered
    assert(out(3L) == ((6L, 6L, "")))
    assert(out(4L) == ((0L, 0L, "")))
  }

  test("span strip handles overlapping spans without double-counting") {
    import spark.implicits._
    // benchmark grams "a b c" and "b c d" overlap in the training doc:
    // covered positions {0,1,2} ∪ {1,2,3} = 4 tokens, not 6
    val bench = Seq((100L, "a b c"), (101L, "b c d")).toDF("doc_id", "text")
    val train = Seq((1L, "a b c d tail")).toDF("doc_id", "text")
    val r = Decontaminate.stripContaminated(train, bench, $"text", $"doc_id", n = 3)
      .collect().head
    assert((r.getLong(1), r.getLong(2), r.getString(3)) == ((5L, 4L, "tail")))
  }

  test("span strip with the shuffle-join cover lane equals the broadcast lane") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val bench = docs.filter($"doc_id" % 11 === 0)
    val train = docs.filter($"doc_id" % 11 =!= 0)
    def rows(bc: Boolean) = Decontaminate.stripContaminated(
        train, bench, $"text", $"doc_id", n = 5, broadcastCover = bc)
      .collect().map(_.toSeq).toSeq
    assert(bag(rows(true)) == bag(rows(false)))
  }

  // ---- BitextMine -----------------------------------------------------

  test("bitext mining returns mutual-best pairs with sane margins") {
    import spark.implicits._
    // two 'languages' in a 3-d space: a1~b1 and a2~b2 are parallel,
    // a3/b3 are hubs near everything (the margin must demote them)
    val a = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.6f, 0.6f, 0.5f))).toDF("vec_id", "embedding")
    val b = Seq(
      (11L, Array(0.9f, 0.1f, 0.0f)),
      (12L, Array(0.1f, 0.9f, 0.0f)),
      (13L, Array(0.6f, 0.6f, 0.5f))).toDF("vec_id", "embedding")
    val pairs = BitextMine.minePairs(a, b, $"vec_id", $"embedding", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val byA = pairs.map(p => p._1 -> p._2).toMap
    assert(byA.get(1L).contains(11L), s"a1 must pair with b1: ${pairs.toSeq}")
    assert(byA.get(2L).contains(12L), s"a2 must pair with b2: ${pairs.toSeq}")
    assert(pairs.forall(_._3 > 0.0))
    // mutual-best is one-to-one by construction
    assert(pairs.map(_._1).distinct.length == pairs.length)
    assert(pairs.map(_._2).distinct.length == pairs.length)
  }

  test("blocked bitext mining equals brute force when everything shares one block") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val a = e.filter($"label" === 0)
    val b = e.filter($"label" === 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3)))
    val brute = rows(BitextMine.minePairs(a, b, $"vec_id", $"embedding", k = 4))
    val blocked = rows(BitextMine.minePairsBlocked(
      a, b, $"vec_id", $"embedding", lit(0L), k = 4))
    assert(bag(brute) == bag(blocked),
      s"single-block blocked form diverged: onlyBrute=${(brute.toSet -- blocked).take(3)}")
  }

  // ---- EpochPlan ------------------------------------------------------

  test("epoch plan: budget shares, caps, and the fractional prefix add up") {
    import spark.implicits._
    // two sources, 100 vs 900 tokens; budget 2x corpus = 2000, uniform
    // share 1000 each: small source caps at 4 epochs (400 tokens),
    // large source gets 1 full epoch + a 100-token fractional prefix
    val docs = (1 to 10).map(i => (i.toLong, "small", 10L)) ++
      (11 to 20).map(i => (i.toLong, "large", 90L))
    val df = docs.toDF("doc_id", "source", "n_toks")
    val out = EpochPlan.plan(df, $"source", $"doc_id", $"n_toks",
        budgetEpochs = 2, maxEpochs = 4)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    val (sd, st, sf, sxd, sxt, sp) = out("small")
    assert((sd, st) == ((10L, 100L)))
    assert(sf == 4L && sxd == 0L && sxt == 0L && sp == 400L,
      s"small source must cap at 4 epochs: ${out("small")}")
    val (ld, lt, lf, lxd, lxt, lp) = out("large")
    assert((ld, lt) == ((10L, 900L)))
    assert(lf == 1L, s"large source gets 1 full epoch: ${out("large")}")
    assert(lxt <= 100L && lp == 900L + lxt,
      s"fractional prefix must fit the 100-token remainder: ${out("large")}")
    assert(lxd == lxt / 90L, "prefix docs are 90 tokens each")
  }

  test("docRepeats executes exactly the plan: exploded stream totals match") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"source",
        size(graft.functions.TextFns.tokens($"text")).as("n_toks"))
    val plan = EpochPlan.plan(docs, $"source", $"doc_id", $"n_toks")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(3), r.getLong(4), r.getLong(6)))).toMap
    val reps = EpochPlan.docRepeats(docs, $"source", $"doc_id", $"n_toks")
      .groupBy($"source")
      .agg(sum($"repeats" * $"n_toks").as("streamed_tokens"),
        max($"repeats").as("max_rep"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    plan.foreach { case (src, (fullEpochs, _, plannedTokens)) =>
      val (streamed, maxRep) = reps(src)
      assert(streamed == plannedTokens,
        s"$src: exploded stream $streamed != planned $plannedTokens")
      assert(maxRep <= fullEpochs + 1, s"$src: repeat above plan: $maxRep")
    }
  }

  test("epoch plan is deterministic and never exceeds the per-source cap") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"source",
        size(graft.functions.TextFns.tokens($"text")).as("n_toks"))
    def run() = EpochPlan.plan(docs, $"source", $"doc_id", $"n_toks")
      .orderBy($"source").collect().toSeq
    val a = run()
    assert(a == run(), "plan not deterministic")
    a.foreach { r =>
      val (tokens, planned) = (r.getLong(2), r.getLong(6))
      assert(planned <= 4 * tokens, s"cap exceeded: $r")
    }
  }
}
