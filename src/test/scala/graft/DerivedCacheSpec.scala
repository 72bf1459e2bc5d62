package graft

import graft.operators.DerivedCache
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicInteger

/** The write-once derived-table primitive must (a) build exactly once
  * per key under concurrent callers, (b) tolerate a build that reads
  * ANOTHER derived table (the nested shape that crashed the
  * computeIfAbsent version with "Recursive update" on bin-colliding
  * keys), and (c) hand every caller the same rows. */
class DerivedCacheSpec extends AnyFunSuite with SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  test("builds exactly once per key under concurrent callers") {
    import spark.implicits._
    val builds = new AtomicInteger(0)
    val key = s"spec#concurrent-${System.nanoTime()}"
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence((1 to 8).map(_ => Future {
      rows(DerivedCache.table(spark, key) {
        builds.incrementAndGet()
        (1L to 100L).toDF("v")
      })
    })), 120.seconds)
    assert(builds.get() == 1, s"built ${builds.get()} times")
    assert(results.forall(_ == (1L to 100L).toSet))
  }

  test("a build may read another derived table (the nested shape)") {
    import spark.implicits._
    val tag = System.nanoTime()
    // many key pairs so SOME land in the same hash bin — the condition
    // that made nested computeIfAbsent throw "Recursive update"
    (1 to 20).foreach { i =>
      val inner = s"spec#inner-$tag-$i"
      val outer = s"spec#outer-$tag-$i"
      val out = DerivedCache.table(spark, outer) {
        val base = DerivedCache.table(spark, inner)((1L to 10L).toDF("v"))
        base.selectExpr("v * 2 as v")
      }
      assert(rows(out) == (1L to 10L).map(_ * 2).toSet)
    }
  }

  test("second call returns the written table without re-building") {
    import spark.implicits._
    val builds = new AtomicInteger(0)
    val key = s"spec#rebuild-${System.nanoTime()}"
    def get() = rows(DerivedCache.table(spark, key) {
      builds.incrementAndGet(); (1L to 5L).toDF("v")
    })
    assert(get() == get())
    assert(builds.get() == 1)
  }

  test("a second read runs no job and exposes the file's inferred schema") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val key = s"spec#schema-${System.nanoTime()}"
    def get() = DerivedCache.table(spark, key) {
      Seq((1L, Seq(1.5f, 2.5f), Map("a" -> 2), java.sql.Date.valueOf("2020-01-02"),
          BigDecimal("1.25"), 0.5))
        .toDF("l", "arr", "m", "d", "dec", "x")
        .withColumn("st", struct($"l", $"arr", $"d"))
    }
    val first = get()
    val (schema, jobs) = jobsDuring(get().schema)
    assert(jobs == 0, s"a read of a written derivation ran $jobs job(s)")
    val dir = new org.apache.hadoop.fs.Path(first.inputFiles.head).getParent.toString
    assert(schema == spark.read.parquet(dir).schema)
    assert(get().collect().toSeq == spark.read.parquet(dir).collect().toSeq)
  }

  test("tableFor rebuilds when an input file changes, caches when it doesn't") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("derived-ver")
    val input = dir.resolve("t.txt")
    Files.writeString(input, "v1")
    val builds = new AtomicInteger(0)
    val key = s"spec#versioned-${System.nanoTime()}"
    def get() = rows(DerivedCache.tableFor(spark, key, Seq(input.toString)) {
      builds.incrementAndGet(); (1L to 5L).toDF("v")
    })
    get(); get()
    assert(builds.get() == 1, "unchanged input must hit the cache")
    // mutate the input: size changes -> new fingerprint -> rebuild
    Files.writeString(input, "v2-but-longer")
    get()
    assert(builds.get() == 2, "a changed input must trigger a rebuild")
    get()
    assert(builds.get() == 2)
    graft.Fs.deleteRec(dir)
  }

  test("same-size in-place rewrite within mtime granularity still re-fingerprints") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("derived-tail")
    val input = dir.resolve("t.bin")
    Files.write(input, Array.fill[Byte](8192)(1))
    val fp1 = DerivedCache.fingerprint(Seq(input.toString))
    // same byte length, same forced mtime — only CONTENT differs (the
    // blind spot of a metadata-only fingerprint)
    val mtime = input.toFile.lastModified()
    val b = Array.fill[Byte](8192)(1); b(8000) = 2
    Files.write(input, b)
    input.toFile.setLastModified(mtime)
    val fp2 = DerivedCache.fingerprint(Seq(input.toString))
    assert(fp1 != fp2, "content rewrite was invisible to the fingerprint")
    graft.Fs.deleteRec(dir)
  }

  test("a rebuild evicts the superseded derivation's parquet") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("derived-evict")
    val input = dir.resolve("t.txt")
    Files.writeString(input, "v1")
    val key = s"spec#evict-${System.nanoTime()}"
    val first = DerivedCache.tableFor(spark, key, Seq(input.toString)) {
      (1L to 5L).toDF("v")
    }
    val firstPath = first.inputFiles.head
      .replaceFirst("^file:", "").replaceFirst("/[^/]*$", "")
    assert(Files.exists(Paths.get(firstPath)))
    Files.writeString(input, "v2-but-longer")
    rows(DerivedCache.tableFor(spark, key, Seq(input.toString)) {
      (1L to 7L).toDF("v")
    })
    assert(!Files.exists(Paths.get(firstPath)),
      s"superseded derivation not evicted: $firstPath")
    graft.Fs.deleteRec(dir)
  }

  test("a stale-fingerprint caller cannot evict the current derivation") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("derived-race")
    val input = dir.resolve("t.txt")
    Files.writeString(input, "v1")
    val key = s"spec#race-${System.nanoTime()}"
    // caller A fingerprints BEFORE the rewrite...
    val staleFp = DerivedCache.fingerprint(Seq(input.toString))
    // ...a concurrent rewrite lands and caller B builds against it
    Files.writeString(input, "v2-but-longer")
    val fresh = DerivedCache.tableFor(spark, key, Seq(input.toString)) {
      (1L to 7L).toDF("v")
    }
    val freshPath = fresh.inputFiles.head
      .replaceFirst("^file:", "").replaceFirst("/[^/]*$", "")
    assert(Files.exists(Paths.get(freshPath)))
    // caller A now finishes its table() + eviction with the stale fp:
    // it must NOT delete B's current derivation out from under B
    DerivedCache.tableAt(spark, key, Seq(input.toString), staleFp) {
      (1L to 5L).toDF("v")
    }
    assert(Files.exists(Paths.get(freshPath)),
      "stale caller evicted the CURRENT derivation")
    assert(rows(spark.read.parquet(freshPath)) == (1L to 7L).toSet)
    // the next current-fingerprint caller sweeps A's stale entry
    val again = DerivedCache.tableFor(spark, key, Seq(input.toString)) {
      (1L to 7L).toDF("v")
    }
    assert(rows(again) == (1L to 7L).toSet)
    graft.Fs.deleteRec(dir)
  }

  test("double-rewrite race: a concurrently-born fresh entry survives a stale evictor") {
    // The r14 ADVICE accepted-risk TOCTOU, closed in r15 by the
    // birth-order cutoff. Interleaving (driven deterministically
    // through the factored eviction core): an evictor captures its
    // view of the input state (cutoff, then current fingerprint);
    // the input is rewritten AGAIN and a fresh caller builds and
    // registers the newest entry; THEN the evictor's delete runs.
    // The fresh entry was born after the cutoff and must survive —
    // the pre-r15 code deleted it (neither keep nor current).
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    def parquetDir(df: org.apache.spark.sql.DataFrame): java.nio.file.Path =
      Paths.get(df.inputFiles.head
        .replaceFirst("^file:", "").replaceFirst("/[^/]*$", ""))
    val dir = Files.createTempDirectory("derived-race2")
    val input = dir.resolve("t.txt")
    Files.writeString(input, "v1")
    val key = s"spec#race2-${System.nanoTime()}"
    // entry A at fp1 — the evictor's own `keep` (registered directly
    // through table() so no eviction pass muddies the interleaving)
    val fp1 = DerivedCache.fingerprint(Seq(input.toString))
    val a = DerivedCache.table(spark, s"$key@$fp1")((1L to 5L).toDF("v"))
    val aPath = parquetDir(a)
    // rewrite #1 lands; the evictor captures cutoff BEFORE its
    // refingerprint (exactly what evictSuperseded does), current = fp2
    Files.writeString(input, "v2-but-longer")
    val cutoff = DerivedCache.birthSeq
    val fp2 = DerivedCache.fingerprint(Seq(input.toString))
    // rewrite #2 lands and a concurrent fresh caller builds + registers
    // the newest-fingerprint entry before the evictor's delete runs
    Files.writeString(input, "v3-even-longer!!")
    val fp3 = DerivedCache.fingerprint(Seq(input.toString))
    val fresh = DerivedCache.table(spark, s"$key@$fp3")((1L to 9L).toDF("v"))
    val freshPath = parquetDir(fresh)
    // the evictor's delete finally runs with its STALE view
    DerivedCache.evictStaleSiblings(
      stale = Seq(s"$key@$fp3"), keep = s"$key@$fp1",
      current = s"$key@$fp2", cutoff = cutoff)
    assert(Files.exists(freshPath),
      "fresh entry deleted by a stale evictor — the r14 TOCTOU is back")
    assert(rows(spark.read.parquet(freshPath.toString)) == (1L to 9L).toSet)
    // ...while a LATER evictor with a fresh view (cutoff postdating
    // every birth) does collect the genuinely stale fp1 entry
    DerivedCache.evictStaleSiblings(
      stale = Seq(s"$key@$fp1"), keep = s"$key@$fp3",
      current = s"$key@$fp3", cutoff = DerivedCache.birthSeq)
    assert(!Files.exists(aPath), "genuinely stale entry not collected")
    graft.Fs.deleteRec(dir)
  }
}
