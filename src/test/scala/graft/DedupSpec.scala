package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite with SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def docs: DataFrame = Tables.documents(spark, sf)

  /** Ground truth: brute-force word-2-shingle Jaccard >= 0.5 pairs. */
  private lazy val bruteForcePairs: Set[(Long, Long)] = {
    import spark.implicits._
    val sh = docs.select($"doc_id", functions.TextFns.tokens($"text").as("toks"))
      .select($"doc_id", Dedup.wordShinglesOf($"toks", 2).as("s"))
    val a = sh.select($"doc_id".as("id_a"), $"s".as("sh_a"))
    val b = sh.select($"doc_id".as("id_b"), $"s".as("sh_b"))
    a.join(b, $"id_a" < $"id_b")
      .filter(Dedup.jaccard($"sh_a", $"sh_b") >= 0.5)
      .select($"id_a", $"id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("minhash LSH finds every brute-force near-dup pair (recall = 1)") {
    import spark.implicits._
    val lsh = Dedup.minhashLshPairs(docs, $"text", $"doc_id",
        shingleK = 2, numHashes = 64, bands = 16, threshold = 0.5)
      .select($"id_a", $"id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bruteForcePairs.nonEmpty, "corpus should contain planted near-dups")
    val missed = bruteForcePairs -- lsh
    assert(missed.isEmpty, s"LSH missed ${missed.size}/${bruteForcePairs.size} pairs")
    // and no false positives: every emitted pair passed exact verification
    assert((lsh -- bruteForcePairs).isEmpty)
  }

  test("incremental keep agrees with the brute-force greedy policy") {
    import spark.implicits._
    // increment = doc_id % 5 == 0, existing = the rest (the q_dedup_
    // incremental split); derive keep/drop from the brute-force pair set
    val isInc = (id: Long) => id % 5 == 0
    val expected = docs.select($"doc_id").as[Long].collect().filter(isInc).map { d =>
      val partners = bruteForcePairs.collect {
        case (a, b) if a == d => b
        case (a, b) if b == d => a
      }
      val nExisting = partners.count(!isInc(_))
      val nEarlier = partners.count(p => isInc(p) && p < d)
      d -> (nExisting.toLong, nEarlier.toLong, nExisting == 0 && nEarlier == 0)
    }.toMap
    val pairs = Dedup.minhashLshPairs(docs, $"text", $"doc_id",
      shingleK = 2, numHashes = 64, bands = 16, threshold = 0.5)
    val got = Dedup.incrementalKeep(pairs, docs, $"doc_id",
        isExisting = $"doc_id" % 5 =!= 0)
      .collect().toSeq.map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(bag(got) == bag(expected.toSeq))
    // the increment must contain BOTH dropped and kept docs or the test
    // proves nothing
    assert(expected.values.exists(_._3) && expected.values.exists(!_._3),
      "corpus split should exercise both keep and drop")
  }

  test("simhash finds the planted near-dups at small hamming distance") {
    import spark.implicits._
    val sim = Dedup.simhashPairs(docs, $"text", $"doc_id", maxHamming = 3)
      .select($"id_a", $"id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // simhash is an approximation: require it to catch most planted pairs
    val caught = bruteForcePairs.intersect(sim)
    assert(caught.size >= bruteForcePairs.size / 2,
      s"simhash caught only ${caught.size}/${bruteForcePairs.size}")
  }

  test("simhash sub-band split is loss-free: every bucket split == no split") {
    import spark.implicits._
    // splitThreshold=2 forces EVERY bucket of >= 3 docs through the 12-bit
    // sub-band path; the pigeonhole argument says output must be identical
    def pairs(t: Int) = Dedup.simhashPairs(docs, $"text", $"doc_id",
        maxHamming = 3, splitThreshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val noSplit = pairs(Int.MaxValue)
    assert(noSplit.nonEmpty)
    assert(pairs(2) == noSplit)
  }

  test("simhash survives a pathological homogeneous corpus (no silent drops)") {
    import spark.implicits._
    // 80 docs that differ only in a short suffix: signatures cluster, so
    // 16-bit band buckets go hot — the old maxBucket cutoff would have
    // dropped them wholesale
    val base = "the quick brown fox jumps over the lazy dog again and again "
    val hom = (0L until 80L).map(i => (i, base * 3 + s"tail$i")).toDF("doc_id", "text")
    def pairs(t: Int) = Dedup.simhashPairs(hom, $"text", $"doc_id",
        maxHamming = 3, splitThreshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val noSplit = pairs(Int.MaxValue)
    assert(noSplit.nonEmpty, "homogeneous corpus should produce near-dup pairs")
    assert(pairs(4) == noSplit, "split output must equal unsplit output")
    // telemetry: the hot buckets are visible, not silent
    val stats = Dedup.simhashBucketStats(hom, $"text", $"doc_id", splitThreshold = 4)
    assert(stats.count() > 0)
  }

  test("minhash hot-bucket sub-blocking keeps the planted near-dups") {
    import spark.implicits._
    // force sub-blocking of every band bucket; planted pairs (J >= 0.8)
    // survive a single-element sub-band with p = 1-(1-J)^4 per band and
    // appear in ~bands buckets — require full recall here, deterministic
    val lsh = Dedup.minhashLshPairs(docs, $"text", $"doc_id",
        shingleK = 2, numHashes = 64, bands = 16, threshold = 0.5,
        splitThreshold = 4)
      .select($"id_a", $"id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = bruteForcePairs -- lsh
    assert(missed.size <= bruteForcePairs.size / 10,
      s"sub-blocked LSH missed ${missed.size}/${bruteForcePairs.size} pairs")
    assert((lsh -- bruteForcePairs).isEmpty, "exact verify must kill false positives")
  }

  test("clique collapse emits exactly the direct path's pairs (minhash + simhash)") {
    import spark.implicits._
    // clique-heavy corpus: 5 distinct texts × 6 exact copies each, two of
    // the texts near-dups of each other, plus one doc with no tokens
    // (empty shingle set — must never pair) → distinct/raw = 6/31 < 0.8
    // triggers the collapsed path in both pipelines.
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta eta theta",
      "alpha beta gamma delta epsilon zeta eta iota", // near-dup of 0
      "one two three four five six seven eight nine ten",
      "lorem ipsum dolor sit amet consectetur adipiscing elit",
      "completely different content about distributed shuffles")
    val rows = for {
      (t, ti) <- texts.zipWithIndex
      c <- 0 until 6
    } yield ((ti * 100 + c).toLong, t)
    val corpus = (rows :+ ((9999L, "!!! ??? ..."))).toDF("doc_id", "text")

    // ground truth by brute force over all pairs; both sides compare as
    // multisets (row → count) so a duplicated expansion row fails
    val sh = corpus.select($"doc_id", functions.TextFns.tokens($"text").as("toks"))
      .select($"doc_id", Dedup.wordShinglesOf($"toks", 2).as("s"))
    val bf = bag(sh.select($"doc_id".as("id_a"), $"s".as("sh_a"))
      .join(sh.select($"doc_id".as("id_b"), $"s".as("sh_b")), $"id_a" < $"id_b")
      .filter(size($"sh_a") > 0 && size($"sh_b") > 0)
      .select($"id_a", $"id_b", round(Dedup.jaccard($"sh_a", $"sh_b"), 6).as("j"))
      .filter($"j" >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    // 5 cliques of 6 → 5·C(6,2)=75 intra pairs, plus 36 cross pairs of
    // the near-dup clique pair if its jaccard clears 0.5
    assert(bf.size >= 75, s"expected at least the 75 intra-clique pairs, got ${bf.size}")

    val mh = bag(Dedup.minhashLshPairs(corpus, $"text", $"doc_id",
        shingleK = 2, numHashes = 64, bands = 16, threshold = 0.5)
      .select($"id_a", $"id_b", $"jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    assert(mh == bf, s"collapsed minhash != brute force " +
      s"(missed ${(bf.toSet -- mh.toSet).size}, extra ${(mh.toSet -- bf.toSet).size})")

    // simhash: the collapsed path must equal the direct banding over all
    // docs (same sigs, same pigeonhole guarantee). Derive the expected
    // set by brute-forcing hamming over the signature table.
    val sigs = Dedup.simhashSignatures(corpus, $"text", $"doc_id")
    val sbf = bag(sigs.select($"doc_id".as("id_a"), $"sig".as("sig_a"))
      .join(sigs.select($"doc_id".as("id_b"), $"sig".as("sig_b")), $"id_a" < $"id_b")
      .withColumn("h", bit_count($"sig_a".bitwiseXOR($"sig_b")).cast("long"))
      .filter($"h" <= 3)
      .select($"id_a", $"id_b", $"h")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    val sp = bag(Dedup.simhashPairs(corpus, $"text", $"doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    assert(sp == sbf, s"collapsed simhash != brute force " +
      s"(missed ${(sbf.toSet -- sp.toSet).size}, extra ${(sp.toSet -- sbf.toSet).size})")
  }

  test("exact dedup keeps one representative per distinct content") {
    import spark.implicits._
    val withDup = docs.select($"doc_id", $"text")
      .union(docs.select($"doc_id" + 10000, $"text").limit(5))
    val groups = Dedup.exactGroups(withDup, $"text", $"doc_id")
    assert(groups.filter($"n_copies" > 1).count() == 5)
    val deduped = Dedup.exact(withDup, $"text", $"doc_id")
    assert(deduped.count() == docs.count())
  }

  test("jaccard of identical sets is 1, disjoint sets is 0") {
    import spark.implicits._
    val df = Seq(
      (Seq("a b", "b c"), Seq("a b", "b c")),
      (Seq("a b"), Seq("x y"))).toDF("x", "y")
    val j = df.select(Dedup.jaccard($"x", $"y").as("j")).collect().map(_.getDouble(0))
    assert(j(0) == 1.0 && j(1) == 0.0)
  }
}
