package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** SubstringDedup vs a brute-force oracle: enumerate every length-n gram
  * STRING, count occurrences corpus-wide, merge duplicated positions into
  * maximal spans — the definition, executed literally. The operator must
  * agree exactly (its rolling-hash index is a pure optimization; the
  * exact-gram verify step is what makes collisions unobservable). */
class SubstringDedupSpec extends AnyFunSuite with SparkSpec {

  private val vocab = Array("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line",
    "sort", "window", "the", "a")

  /** Deterministic word-soup corpus with planted duplication:
    *  - docs 0-19: random text;
    *  - docs 20-24 share one long boilerplate sentence at varying offsets;
    *  - doc 25 repeats its own first 60 chars (internal duplication);
    *  - doc 26 is an exact copy of doc 3 (whole-doc span);
    *  - doc 27 is shorter than the gram length (no positions at all). */
  private def corpus(): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(42)
    def soup(words: Int): String =
      (0 until words).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val boiler = "this boilerplate sentence is repeated verbatim across documents"
    val base = (0L until 20L).map(i => i -> soup(30 + rnd.nextInt(40)))
    val planted = (20L until 25L).map { i =>
      i -> (soup(rnd.nextInt(10)) + " " + boiler + " " + soup(rnd.nextInt(10)))
    }
    val selfRep = { val h = soup(15).take(60); 25L -> (h + " " + soup(5) + " " + h) }
    val copy = 26L -> base(3)._2
    val short = 27L -> "tiny"
    base ++ planted ++ Seq(selfRep, copy, short)
  }

  /** Brute-force maximal duplicated spans (half-open, code points). */
  private def bruteSpans(docs: Seq[(Long, String)], n: Int): Seq[(Long, Long, Long)] = {
    val counts = new scala.collection.mutable.HashMap[String, Int]()
    docs.foreach { case (_, t) =>
      (0 to t.length - n).foreach(i => counts.updateWith(t.substring(i, i + n)) {
        c => Some(c.getOrElse(0) + 1)
      })
    }
    docs.flatMap { case (id, t) =>
      val dup = (0 to t.length - n).filter(i => counts(t.substring(i, i + n)) >= 2)
      val spans = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
      dup.foreach { p =>
        spans.lastOption match {
          case Some((d, s, e)) if p <= e => spans.update(spans.length - 1, (d, s, p + n))
          case _ => spans += ((id, p.toLong, (p + n).toLong))
        }
      }
      spans.toSeq
    }
  }

  private def toDf(docs: Seq[(Long, String)]) = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }

  test("duplicate spans equal the brute-force gram-count definition") {
    val docs = corpus()
    val n = 20
    val got = SubstringDedup.duplicateSpans(toDf(docs), col("doc_id"), col("text"), n)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = bruteSpans(docs, n).sorted
    assert(got == want)
    // the corpus actually exercises the interesting cases
    assert(want.exists(s => (20L to 24L).contains(s._1)), "planted boilerplate found")
    assert(want.exists(_._1 == 25L), "internal repetition found")
    assert(want.count(_._1 == 25L) >= 2, "internal repetition yields a span per copy")
    val len3 = docs.find(_._1 == 3L).get._2.length.toLong
    assert(want.contains((26L, 0L, len3)), "exact copy is one whole-document span")
    assert(!want.exists(_._1 == 27L), "sub-gram-length doc has no positions")
  }

  test("adjacent and overlapping position runs merge into one maximal span") {
    import spark.implicits._
    // two docs sharing one long run: every in-run position duplicates, so
    // positions 0..len-n must merge into exactly ONE span covering the run
    val shared = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGH"
    val docs = Seq(1L -> s"xx!$shared!yy", 2L -> s"zz?$shared?qq")
    val n = 10
    val got = SubstringDedup.duplicateSpans(docs.toDF("doc_id", "text"),
        col("doc_id"), col("text"), n)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 3L, (3 + shared.length).toLong),
      (2L, 3L, (3 + shared.length).toLong)))
  }

  test("stripSpans cuts every occurrence and passes clean docs through") {
    val docs = corpus()
    val n = 20
    val spanByDoc = bruteSpans(docs, n).groupBy(_._1)
    val want = docs.map { case (id, t) =>
      val spans = spanByDoc.getOrElse(id, Seq.empty).sortBy(_._2)
      val sb = new StringBuilder
      var cur = 0L
      spans.foreach { case (_, s, e) => sb.append(t.substring(cur.toInt, s.toInt)); cur = e }
      sb.append(t.substring(cur.toInt))
      id -> sb.toString
    }.toMap
    val df = toDf(docs)
    val rows = SubstringDedup.stripSpansFrom(df, col("doc_id"), col("text"),
        SubstringDedup.duplicateSpans(df, col("doc_id"), col("text"), n))
      .collect().toSeq.map(r => r.getLong(0) -> r.getString(1))
    assert(bag(rows) == bag(want.toSeq))
    val got = rows.toMap
    assert(got(27L) == "tiny", "doc below gram length is untouched")
    assert(got(26L) == "", "whole-document duplicate strips to empty")
    // at least one planted doc keeps its unique head/tail around the cut
    assert(got.exists { case (id, t) => id >= 20 && id <= 24 && t.nonEmpty })
  }

  test("window hashes: equal grams hash equal, rolling matches direct") {
    import spark.implicits._
    // cross-check the O(1) rolling update against a from-scratch polynomial
    // evaluation on unicode text (code-point windows, incl. a surrogate pair)
    val s = "päli😀ce päli😀ce!"
    val n = 4
    val arr = Seq(s).toDF("t")
      .select(SubstringDedup.windowHashes(col("t"), n).as("h"))
      .collect()(0).getSeq[Long](0)
    val cps = s.codePoints().toArray
    val B = 0x100000001b3L
    val direct = (0 to cps.length - n).map { i =>
      var h = 0L; (0 until n).foreach(j => h = h * B + cps(i + j)); h
    }
    assert(arr == direct)
    // the repeated word: window "päli😀" at code points 0 and 8 must collide
    assert(arr(0) == arr(8))
    assert(arr(1) == arr(9))
  }
}
