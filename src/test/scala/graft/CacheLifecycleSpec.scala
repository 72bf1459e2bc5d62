package graft

import graft.operators.{Dedup, OpCaches, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cache lifecycle of the dedup/similarity pipelines: intermediates the
  * returned lazy plan still needs stay cached (registered in OpCaches);
  * intermediates whose last consumer runs inside the operator are freed
  * eagerly; and one OpCaches.releaseAll() after materialization leaves
  * the block manager EMPTY — a long-lived library session must not
  * accumulate MEMORY_AND_DISK blocks across pipeline calls. */
class CacheLifecycleSpec extends AnyFunSuite with SparkSpec {

  /** Clear every cached block any earlier suite/test left behind. */
  private def freshStart(): Unit = {
    spark.catalog.clearCache()
    OpCaches.releaseAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def docs(): DataFrame = Tables.documents(spark, sf)

  /** Duplicate-heavy corpus: each text appears 4×, so the distinct
    * fraction (0.25) is far below collapseDupFraction and the clique
    * collapse engages. */
  private def dupHeavyDocs(): DataFrame = {
    import spark.implicits._
    docs().select($"doc_id", $"text")
      .crossJoin(Seq(0L, 1L, 2L, 3L).toDF("copy"))
      .select(($"doc_id" * 4 + $"copy").as("doc_id"), $"text")
  }

  test("minhashLshPairs (collapsed): raw freed eagerly, releaseAll empties the block manager") {
    freshStart()
    import spark.implicits._
    val pairs = Dedup.minhashLshPairs(dupHeavyDocs(), $"text", $"doc_id",
      shingleK = 2, numHashes = 64, bands = 16, threshold = 0.5)
    // construction is eager through the candidate count; the raw shingle
    // table's last consumer (the member-map join) has already run, so
    // exactly distinct + memb + cand remain registered
    assert(OpCaches.trackedCount == 3,
      s"collapsed core should hold 3 live caches, got ${OpCaches.trackedCount}")
    assert(pairs.count() > 0)
    OpCaches.releaseAll()
    assert(OpCaches.trackedCount == 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "no cached blocks may survive releaseAll")
  }

  test("minhashLshPairs (direct): distinct untracked, releaseAll empties the block manager") {
    freshStart()
    import spark.implicits._
    val pairs = Dedup.minhashLshPairs(docs(), $"text", $"doc_id",
      shingleK = 2, numHashes = 64, bands = 16, threshold = 0.5)
    // direct regime keeps raw (it IS the doc table downstream) + cand
    assert(OpCaches.trackedCount == 2,
      s"direct core should hold 2 live caches, got ${OpCaches.trackedCount}")
    assert(pairs.count() > 0)
    OpCaches.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("simhashPairs (collapsed): sigs freed eagerly, releaseAll empties the block manager") {
    freshStart()
    import spark.implicits._
    val pairs = Dedup.simhashPairs(dupHeavyDocs(), $"text", $"doc_id", maxHamming = 3)
    assert(pairs.count() > 0)
    // sigs' last consumer (member map) ran in-operator: sigTab + memb live
    assert(OpCaches.trackedCount == 2,
      s"collapsed simhash should hold 2 live caches, got ${OpCaches.trackedCount}")
    OpCaches.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("cosineNearDupPairs: releaseAll empties the block manager in both regimes") {
    freshStart()
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    // direct regime (embeddings are mostly distinct)
    val direct = Similarity.cosineNearDupPairs(emb, threshold = 0.3,
      sampleMod = 5, nPlanes = 6, dim = 64, probeRadius = 1)
    direct.count()
    // collapsed regime: every embedding duplicated 4×
    val dupVecs = emb.select($"vec_id", $"embedding")
      .crossJoin(Seq(0L, 1L, 2L, 3L).toDF("copy"))
      .select(($"vec_id" * 4 + $"copy").as("vec_id"), $"embedding")
    val collapsed = Similarity.cosineNearDupPairs(dupVecs, threshold = 0.3,
      sampleMod = 1, nPlanes = 6, dim = 64, probeRadius = 1)
    assert(collapsed.count() > 0)
    OpCaches.releaseAll()
    assert(OpCaches.trackedCount == 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("scoped handles isolate concurrent pipelines from releaseAll") {
    freshStart()
    import spark.implicits._
    // build one pipeline under a private scope: its caches must land in
    // the handle, NOT the shared registry — so another caller's
    // releaseAll() (the concurrent-pipeline hazard) can't unpersist them
    val (pairs, handle) = OpCaches.scoped {
      Dedup.minhashLshPairs(dupHeavyDocs(), $"text", $"doc_id",
        shingleK = 2, numHashes = 64, bands = 16, threshold = 0.5)
    }
    assert(OpCaches.trackedCount == 0,
      "a scoped build must register nothing in the shared registry")
    assert(handle.count == 3, s"handle should own the 3 live caches, got ${handle.count}")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    OpCaches.releaseAll() // a concurrent caller's global cleanup...
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore,
      "...must not unpersist the scoped pipeline's intermediates")
    assert(pairs.count() > 0)
    handle.release()
    assert(handle.count == 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "releasing the handle frees exactly its own blocks")
  }

  test("scoped build that throws releases its already-persisted caches") {
    freshStart()
    import spark.implicits._
    // the handle never reaches the caller on a throw, and scoped caches
    // are invisible to releaseAll — they must be freed on the error path
    val ex = intercept[RuntimeException] {
      OpCaches.scoped {
        val pairs = Dedup.minhashLshPairs(dupHeavyDocs(), $"text", $"doc_id",
          shingleK = 2, numHashes = 64, bands = 16, threshold = 0.5)
        pairs.count() // materialize so the persists are live blocks
        throw new RuntimeException("build failed")
      }
    }
    assert(ex.getMessage == "build failed")
    assert(OpCaches.trackedCount == 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "a failed scoped build must not leak unreleasable caches")
  }

  test("releaseAll is idempotent and results recompute correctly after release") {
    freshStart()
    import spark.implicits._
    val pairs = Dedup.minhashLshPairs(dupHeavyDocs(), $"text", $"doc_id",
      shingleK = 2, numHashes = 64, bands = 16, threshold = 0.5)
    val before = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    OpCaches.releaseAll()
    OpCaches.releaseAll() // second call is a no-op, not an error
    // the returned plan stays CORRECT after release — it recomputes
    val after = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before)
  }

  test("Ckpt.Rotation keeps the newest two generations, deletes older (r16)") {
    import graft.operators.Ckpt
    import spark.implicits._
    def ckptChildren(): Set[String] =
      spark.sparkContext.getCheckpointDir.map { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.listStatus(p).map(_.getPath.getName).toSet
        else Set.empty[String]
      }.getOrElse(Set.empty)
    val rot = new Ckpt.Rotation()
    var frame = Ckpt.viaParquet((1L to 100L).toDF("v")) // un-rotated base
    val baseChildren = ckptChildren()
    for (i <- 1 to 5) {
      frame = rot.next(frame.select(($"v" + 1).as("v")))
      // newest two rotated generations + the base must be all that's left
      assert((ckptChildren() -- baseChildren).size <= 2,
        s"round $i left more than 2 rotated generations on disk")
    }
    // the chain still reads correctly from the surviving newest files
    assert(frame.agg(sum($"v")).collect().head.getLong(0)
      == (1L to 100L).map(_ + 5).sum)
    // the un-rotated base survived the rotation
    assert(baseChildren.subsetOf(ckptChildren()))
  }

  test("Ckpt.viaParquet's read-back adds no job beyond the write") {
    import graft.operators.Ckpt
    import spark.implicits._
    val df = (1L to 100L).toDF("v").repartition(2).select($"v", ($"v" % 7).as("m"))
    val plain = java.nio.file.Files.createTempDirectory("ckpt-plain")
    val (_, writeJobs) = jobsDuring(
      df.write.mode("overwrite").parquet(plain.toString))
    val (out, jobs) = jobsDuring { val o = Ckpt.viaParquet(df); o.schema; o }
    assert(jobs == writeJobs, s"write alone ran $writeJobs job(s), viaParquet $jobs")
    assert(out.schema == spark.read.parquet(plain.toString).schema)
    assert(bag(out.collect().toSeq) == bag(df.collect().toSeq))
    graft.Fs.deleteRec(plain)
  }

  test("Ckpt.clearAll empties the checkpoint dir; later queries recheckpoint fine") {
    import graft.operators.Ckpt
    import spark.implicits._
    Ckpt.viaParquet((1L to 10L).toDF("v"))
    Ckpt.clearAll(spark)
    val d = spark.sparkContext.getCheckpointDir.get
    val p = new org.apache.hadoop.fs.Path(d)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(p).isEmpty, "clearAll must empty the dir")
    // the dir itself survives and new truncations work
    val again = Ckpt.viaParquet((1L to 10L).toDF("v"))
    assert(again.count() == 10L)
  }
}
