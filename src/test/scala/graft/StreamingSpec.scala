package graft

import graft.streaming.StreamOps
import graft.streaming.StreamOps.{Event, SessionOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite with SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowed counts over a memory stream (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    in.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(5), 1, "click", 2.0),
      Event(3, ts(10), 2, "view", 3.0))
    val q = StreamOps.windowedCounts(in.toDF(), windowLen = "1 hour")
      .writeStream.outputMode("complete")
      .format("memory").queryName("wc")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("SELECT event_type, n_events FROM wc").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("click") == 2 && rows("view") == 1)
  }

  test("streaming ETL: foreachBatch conforms and writes date partitions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.etl.{Conform, PartitionedWriter}
    val loc = s"target/test-tmp/stream-etl-${System.nanoTime()}"
    val in = MemoryStream[Event]
    val q = in.toDF().writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the reference's per-arrival glue job: conform + partitioned write
        PartitionedWriter.write(
          Conform.injectDatePartitions(batch, batch("ts")), loc)
      }
      .start()
    in.addData(
      Event(1, Timestamp.valueOf("2024-02-01 10:00:00"), 1, "click", 1.0),
      Event(2, Timestamp.valueOf("2024-02-02 11:00:00"), 2, "view", 2.0))
    q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet(loc)
    assert(back.count() == 2)
    assert(back.select($"day").distinct().count() == 2)
    // layout parity (r15): the BATCH conform+stamp pipeline on the same
    // rows must produce the identical partition layout and rows — the
    // strongest check a filesystem sink admits (its output is a layout,
    // not a result table, hence no driver-query parity pin)
    val loc2 = s"target/test-tmp/stream-etl-batch-${System.nanoTime()}"
    val sameRows = Seq(
      Event(1, Timestamp.valueOf("2024-02-01 10:00:00"), 1, "click", 1.0),
      Event(2, Timestamp.valueOf("2024-02-02 11:00:00"), 2, "view", 2.0)).toDF()
    PartitionedWriter.write(
      Conform.injectDatePartitions(sameRows, sameRows("ts")), loc2)
    def layout(path: String): (Set[String], Set[(Long, Int, Int, Int)]) = {
      val d = spark.read.parquet(path)
      val dirs = new java.io.File(path).listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      (dirs, d.select($"event_id", $"year".cast("int"),
        $"month".cast("int"), $"day".cast("int"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getInt(3))).toSet)
    }
    assert(layout(loc) == layout(loc2))
  }

  test("streaming exact dedup keeps first occurrence, drops later duplicates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    // event_type stands in for document text here
    val q = StreamOps.dedupExact(in.toDF(), textCol = "event_type", tsCol = "ts")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup")
      .start()
    in.addData(
      Event(1, ts(0), 1, "doc-A", 1.0),
      Event(2, ts(1), 2, "doc-B", 2.0),
      Event(3, ts(2), 3, "doc-A", 3.0))   // same content as event 1 → dropped
    q.processAllAvailable()
    in.addData(Event(4, ts(3), 4, "doc-A", 4.0)) // still within watermark → dropped
    q.processAllAvailable()
    val kept = spark.sql("SELECT event_id FROM dedup").collect().map(_.getLong(0)).toSet
    q.stop()
    assert(kept == Set(1L, 2L), s"expected first occurrences only, got $kept")
  }

  test("stateful sessionization closes sessions across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = StreamOps.sessionize(in.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess").start()
    // batch 1: two events 5 min apart (one open session)
    in.addData(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(5), 7, "click", 2.0))
    q.processAllAvailable()
    // batch 2: an event 2h later → closes the first session
    in.addData(Event(3, Timestamp.valueOf("2024-01-01 12:30:00"), 7, "click", 1.0))
    q.processAllAvailable()
    val closed = spark.sql("SELECT * FROM sess").as[SessionOut].collect()
    q.stop()
    assert(closed.length == 1)
    assert(closed.head.user_id == 7 && closed.head.n_events == 2)
    assert(closed.head.total_value == 3.0)
  }

  test("streaming OHLC bars equal the batch windowed form, any batching") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 3 users × 8 events inside one hour; a fixed permutation scatters
    // arrival order across three micro-batches — bar values must come
    // out identical to the batch computation on the same rows
    val evs = (for (u <- 1 to 3; i <- 0 until 8) yield
      Event(u * 100L + i, ts((i * 7) % 60), u.toLong, "e",
        math.sin(u * 10 + i) * 100)).toVector
    val perm = Vector(17, 3, 21, 8, 0, 14, 23, 5, 11, 19, 2, 9,
      22, 6, 13, 1, 18, 10, 4, 16, 7, 20, 12, 15).map(evs)
    val in = MemoryStream[Event]
    val q = StreamOps.ohlcBars(in.toDF(), windowLen = "1 hour")
      .writeStream.outputMode("complete")
      .format("memory").queryName("bars").start()
    perm.grouped(8).foreach { b => in.addData(b); q.processAllAvailable() }
    val got = spark.sql("SELECT * FROM bars").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet
    q.stop()
    // batch reference: the q_resample_ohlc recipe on the same rows
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val want = evs.toDF()
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"user_id")))
      .groupBy($"user_id")
      .agg(max(when($"rn" === 1, $"value")).as("open"),
        max(when($"rn" === $"cnt", $"value")).as("close"),
        max($"value").as("high"), min($"value").as("low"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5))).toSet
    assert(got == want, s"stream bars ${got} != batch ${want}")
  }

  test("stream-stream join matches clicks to purchases within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = StreamOps.clickPurchaseJoin(clicks.toDF(), purchases.toDF(),
        horizon = "2 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj").start()
    purchases.addData(
      Event(100, Timestamp.valueOf("2024-01-01 10:00:00"), 1, "purchase", 50.0))
    clicks.addData(
      Event(1, Timestamp.valueOf("2024-01-01 10:30:00"), 1, "click", 1.0), // match
      Event(2, Timestamp.valueOf("2024-01-01 13:00:00"), 1, "click", 1.0), // > 2h after
      Event(3, Timestamp.valueOf("2024-01-01 10:15:00"), 2, "click", 1.0)) // other user
    q.processAllAvailable()
    val got = spark.sql("SELECT click_id, purchase_id, purchase_value FROM ssj")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    q.stop()
    assert(got.toSeq == Seq((1L, 100L, 50.0)))
  }

  test("stream-stream join equals the batch range join on real events (sorted replay)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // parity pin (r15): the horizon is part of the JOIN PREDICATE, so
    // the batch twin is the same range join on the static table — under
    // event-time-ordered replay nothing is ever late, the watermark
    // only frees state behind the frontier, and the streamed inner
    // matches must equal the batch matches exactly.
    val evs = Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().sortBy(e =>
        (e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L,
          e.event_id)).toVector
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = StreamOps.clickPurchaseJoin(
        clicks.toDF().filter($"event_type" === "view"),
        purchases.toDF().filter($"event_type" === "purchase"),
        horizon = "2 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssjpar").start()
    evs.grouped(900).foreach { b =>
      clicks.addData(b); purchases.addData(b); q.processAllAvailable()
    }
    val streamed = spark.sql("SELECT click_id, purchase_id FROM ssjpar")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    val ev = Tables.events(spark, sf)
    val v = ev.filter($"event_type" === "view")
      .select($"user_id", $"ts".as("click_ts"), $"event_id".as("click_id"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("purchase_ts"),
        $"event_id".as("purchase_id"))
    val want = v.join(p, $"user_id" === $"p_user" &&
        $"click_ts" >= $"purchase_ts" &&
        $"click_ts" < $"purchase_ts" + expr("INTERVAL 2 HOURS"))
      .select($"click_id", $"purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == want,
      s"stream/batch diverge: onlyStream=${(streamed -- want).take(3)} " +
        s"onlyBatch=${(want -- streamed).take(3)}")
    assert(want.nonEmpty)
  }

  test("streaming exact dedup equals the batch min-id keep set on real documents + planted duplicates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the real corpus carries near-dups but no byte-exact duplicates
    // (streamed == batch == everything kept — checked below), so exact
    // duplicates are PLANTED: every 7th doc re-enters under a higher id.
    // Replay in id order with a CONSTANT event time — the watermark
    // never passes, so the watermark-bounded stream dedup degenerates
    // to exact global dedup, and first-arrival-wins under id-ordered
    // replay IS the batch min-id keep rule (Dedup.exact, the operator
    // behind the oracle-checked q_dedup_exact).
    val real = Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toVector
    val planted = real.filter(_._1 % 7 == 0)
      .map { case (id, txt) => (id + 1000000L, txt) }
    val all = (real ++ planted).sortBy(_._1)
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamOps.dedupExact(
        in.toDF().toDF("doc_id", "text", "ts"),
        textCol = "text", tsCol = "ts", watermark = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedpar").start()
    all.grouped(120).foreach { b =>
      in.addData(b.map(d => (d._1, d._2, t0))); q.processAllAvailable()
    }
    val kept = spark.sql("SELECT doc_id FROM dedpar").collect()
      .map(_.getLong(0)).toSet
    q.stop()
    val want = operators.Dedup.exact(
        all.toDF("doc_id", "text"), $"text", $"doc_id")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == want,
      s"stream/batch diverge: onlyStream=${(kept -- want).take(5)} " +
        s"onlyBatch=${(want -- kept).take(5)}")
    // every planted copy dropped, every real doc kept
    assert(kept == real.map(_._1).toSet)
  }

  test("streaming sessionization equals the q_events_sessionize driver query on real events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // fourth driver-oracle-anchored streaming parity: sessions over the
    // real events table, replayed in event-time order. The stream emits
    // CLOSED sessions only, so each user's final session is excluded
    // from the batch side (the funnel protocol). Compared on
    // (user, start, end, n, total) — total is exact because the stream
    // accumulates integer cents, matching the batch DECIMAL sum.
    val evs = Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().sortBy(e =>
        (e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L,
          e.event_id)).toVector
    val in = MemoryStream[Event]
    val q = StreamOps.sessionize(in.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("sesspar").start()
    evs.grouped(700).foreach { b => in.addData(b); q.processAllAvailable() }
    val streamed = spark.sql("SELECT * FROM sesspar").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    q.stop()
    val batch = SparkEntry.queries("q_events_sessionize")(spark, sf)
      .select($"user_id", $"session_start", $"session_end",
        $"n_events", $"total_value")
    val lastStart = batch.groupBy($"user_id")
      .agg(max($"session_start").as("last_start"))
    val want = batch.join(lastStart, "user_id")
      .filter($"session_start" < $"last_start")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(streamed == want,
      s"stream/batch diverge: onlyStream=${(streamed -- want).take(3)} " +
        s"onlyBatch=${(want -- streamed).take(3)}")
    assert(want.nonEmpty)
  }

  test("streaming OHLC bars equal the q_resample_ohlc driver query on real events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // third driver-oracle-anchored streaming parity (after the funnel
    // and attribution): day bars over the REAL events table, replayed
    // in a scrambled deterministic order — complete mode revises open
    // bars, so the final table must equal the oracle-checked batch
    // query exactly, including the tie rules (open/close by (ts,
    // event_id); window start == date_trunc day for aligned windows)
    val evs = Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().sortBy(e => e.event_id * 2654435761L % 1000003).toVector
    val in = MemoryStream[Event]
    val q = StreamOps.ohlcBars(in.toDF(), windowLen = "1 day")
      .writeStream.outputMode("complete")
      .format("memory").queryName("barspar").start()
    evs.grouped(1000).foreach { b => in.addData(b); q.processAllAvailable() }
    val got = spark.sql("SELECT * FROM barspar").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet
    q.stop()
    val want = SparkEntry.queries("q_resample_ohlc")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet
    assert(got == want,
      s"stream/batch diverge: onlyStream=${(got -- want).take(3)} " +
        s"onlyBatch=${(want -- got).take(3)}")
    assert(want.nonEmpty)
  }

  test("left-outer stream-stream join emits unmatched clicks with nulls at watermark expiry") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = StreamOps.clickPurchaseJoinOuter(clicks.toDF(), purchases.toDF(),
        horizon = "2 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_outer").start()
    purchases.addData(
      Event(100, Timestamp.valueOf("2024-01-01 10:00:00"), 1, "purchase", 50.0))
    clicks.addData(
      Event(1, Timestamp.valueOf("2024-01-01 10:30:00"), 1, "click", 1.0), // match
      Event(2, Timestamp.valueOf("2024-01-01 13:00:00"), 1, "click", 1.0), // > 2h after
      Event(3, Timestamp.valueOf("2024-01-01 10:15:00"), 2, "click", 1.0)) // other user
    q.processAllAvailable()
    // matched row may emit now; unmatched rows must NOT have emitted yet
    // (a late purchase inside the watermark could still match them)
    val early = spark.sql("SELECT click_id FROM ssj_outer WHERE purchase_id IS NULL")
      .collect()
    assert(early.isEmpty, s"nulls emitted before watermark proof: ${early.toSeq}")
    // advance both watermarks far past every click + horizon → the
    // unmatched clicks are now provably unmatched and must emit with nulls
    purchases.addData(Event(900, Timestamp.valueOf("2024-01-02 12:00:00"), 9, "p", 1.0))
    clicks.addData(Event(901, Timestamp.valueOf("2024-01-02 12:00:00"), 9, "c", 1.0))
    q.processAllAvailable()
    clicks.addData(Event(902, Timestamp.valueOf("2024-01-02 13:00:00"), 9, "c", 1.0))
    purchases.addData(Event(903, Timestamp.valueOf("2024-01-02 13:00:00"), 9, "p", 1.0))
    q.processAllAvailable()
    val got = spark.sql(
        "SELECT click_id, purchase_id FROM ssj_outer WHERE click_id IN (1, 2, 3)")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    q.stop()
    assert(got == Set((1L, 100L), (2L, -1L), (3L, -1L)), s"got $got")
  }

  test("left-outer stream-stream join equals the batch left range join on real events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // parity lane (r18, VERDICT r17 ask 6): the inner parity pin's
    // discipline on the LEFT OUTER flavor — the batch twin is the same
    // LEFT range join on the static table. Under event-time-ordered
    // replay nothing is late; outer null rows are withheld until the
    // watermark proves no qualifying purchase can still arrive, so
    // after a far-future flush on BOTH streams every real view must
    // have emitted exactly once: matched with its purchase, or with a
    // NULL purchase once provably unmatched.
    val evs = Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().sortBy(e =>
        (e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L,
          e.event_id)).toVector
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = StreamOps.clickPurchaseJoinOuter(
        clicks.toDF().filter($"event_type" === "view"),
        purchases.toDF().filter($"event_type" === "purchase"),
        horizon = "2 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssjoutpar").start()
    evs.grouped(900).foreach { b =>
      clicks.addData(b); purchases.addData(b); q.processAllAvailable()
    }
    // advance both watermarks past every click + horizon. Two rounds:
    // the watermark computed at a batch's END drives the NEXT batch's
    // eviction/emission. Flush ids sit far above the real id range and
    // are excluded from the comparison below.
    val far1 = new Timestamp(evs.map(_.ts.getTime).max + 10L * 86400 * 1000)
    val far2 = new Timestamp(far1.getTime + 3600 * 1000)
    Seq(far1, far2).zipWithIndex.foreach { case (t, i) =>
      clicks.addData(Event(900000001L + i, t, 999999, "view", 0.0))
      purchases.addData(Event(900000011L + i, t, 999999, "purchase", 0.0))
      q.processAllAvailable()
    }
    val streamed = spark.sql(
        "SELECT click_id, purchase_id FROM ssjoutpar WHERE click_id < 900000000")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    q.stop()
    val ev = Tables.events(spark, sf)
    val v = ev.filter($"event_type" === "view")
      .select($"user_id", $"ts".as("click_ts"), $"event_id".as("click_id"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("purchase_ts"),
        $"event_id".as("purchase_id"))
    val want = v.join(p, $"user_id" === $"p_user" &&
        $"click_ts" >= $"purchase_ts" &&
        $"click_ts" < $"purchase_ts" + expr("INTERVAL 2 HOURS"), "left")
      .select($"click_id", $"purchase_id")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(streamed == want,
      s"stream/batch diverge: onlyStream=${(streamed -- want).take(3)} " +
        s"onlyBatch=${(want -- streamed).take(3)}")
    // the lane's reason to exist: both branches must be exercised
    assert(want.exists(_._2 == -1L), "no unmatched views — outer branch vacuous")
    assert(want.exists(_._2 != -1L), "no matched views — inner branch vacuous")
  }

  test("stream-stream join state is EVICTED as the watermark advances") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the 100 TB property: buffered join state must be bounded by
    // (horizon × rate), not by stream history — i.e. rows older than the
    // watermark minus the horizon actually leave the state store
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = StreamOps.clickPurchaseJoin(clicks.toDF(), purchases.toDF(),
        horizon = "2 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_evict").start()
    def hour(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    def stateRows(): Long =
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    // batch 1: 40 purchases + 40 clicks at hour 1 — all buffered
    purchases.addData((0 until 40).map(i => Event(1000 + i, hour(1), i, "p", 1.0)): _*)
    clicks.addData((0 until 40).map(i => Event(2000 + i, hour(1), i, "c", 1.0)): _*)
    q.processAllAvailable()
    val afterB1 = stateRows()
    assert(afterB1 >= 80, s"both sides buffered, got $afterB1")
    // batch 2: advance BOTH watermarks far past hour 1 + horizon; the
    // batch-1 state is now unreachable and must be evicted, so total
    // state cannot keep the 80 batch-1 rows plus the 2 new ones
    purchases.addData(Event(3000, hour(20), 999, "p", 1.0))
    clicks.addData(Event(3001, hour(20), 999, "c", 1.0))
    q.processAllAvailable()
    // one more empty-ish cycle lets the store finalize eviction metrics
    purchases.addData(Event(3002, hour(21), 998, "p", 1.0))
    clicks.addData(Event(3003, hour(21), 998, "c", 1.0))
    q.processAllAvailable()
    val afterB3 = stateRows()
    assert(afterB3 < afterB1,
      s"watermark must evict horizon-expired join state ($afterB1 -> $afterB3)")
    q.stop()
  }

  test("sessionization state is bounded by open sessions, not events processed") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = StreamOps.sessionize(in.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_bound").start()
    // 3 batches × 200 events over the SAME 10 users: state must stay at
    // 10 rows (one open session per user) no matter how many events flow
    (0 until 3).foreach { b =>
      in.addData((0 until 200).map { i =>
        Event(b * 1000 + i, ts(b * 10 + i / 100), (i % 10).toLong, "click", 1.0)
      }: _*)
      q.processAllAvailable()
    }
    val state = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    assert(state == 10,
      s"session state must equal open sessions (10 users), got $state")
    q.stop()
  }

  test("stream-static enrichment joins each event to its dim row, stateless") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val events = MemoryStream[Event]
    val dim = Seq((7L, "gold"), (8L, "basic")).toDF("dim_user", "tier")
    val q = StreamOps.enrichWithDim(events.toDF(), dim, "user_id", "dim_user")
      .select($"event_id", $"user_id", $"tier")
      .writeStream.outputMode("append")
      .format("memory").queryName("enriched").start()
    events.addData(
      Event(1, Timestamp.valueOf("2024-01-01 10:00:00"), 7, "click", 1.0),
      Event(2, Timestamp.valueOf("2024-01-01 10:01:00"), 9, "click", 1.0))
    q.processAllAvailable()
    val got = spark.sql("SELECT event_id, tier FROM enriched ORDER BY event_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    q.stop()
    // user 7 enriched; user 9 (no dim row) kept with null tier
    assert(got.toSeq == Seq((1L, "gold"), (2L, null)))
    // batch parity (r15): the zero-state projection IS the batch left
    // join by construction — assert it literally on the same feed
    val want = Seq(
      Event(1, Timestamp.valueOf("2024-01-01 10:00:00"), 7, "click", 1.0),
      Event(2, Timestamp.valueOf("2024-01-01 10:01:00"), 9, "click", 1.0))
      .toDF().join(dim, $"user_id" === $"dim_user", "left")
      .select($"event_id", $"tier").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got.toSeq == want)
  }

  test("streaming CDC upsert maintains a keyed parquet snapshot across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = s"target/test-tmp/cdc-snap-${System.nanoTime()}"
    // changelog rows: (key, op, value, version)
    val in = MemoryStream[(Long, String, Double, Long)]
    val changes = in.toDF().toDF("k", "op", "v", "ver")
    val q = StreamOps.cdcUpsert(changes, dir,
      keys = Seq("k"), opCol = "op", version = Seq("ver"))
    // batch 1: two inserts
    in.addData((1L, "U", 10.0, 1L), (2L, "U", 20.0, 1L))
    q.processAllAvailable()
    // batch 2: update k=1 (two changes in-batch, latest ver wins), delete k=2, insert k=3
    in.addData((1L, "U", 11.0, 2L), (1L, "U", 12.0, 3L),
      (2L, "D", 0.0, 2L), (3L, "U", 30.0, 1L))
    q.processAllAvailable()
    q.stop()
    val snap = spark.read.parquet(dir)
      .select($"k", $"v", $"ver").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(snap == Map(1L -> ((12.0, 3L)), 3L -> ((30.0, 1L))))
  }

  test("streaming heavy hitters carries the MG summary across batches, bounded at k") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[StreamOps.HHItem]
    val q = StreamOps.heavyHitters(in.toDS(), k = 2)
      .writeStream.outputMode("update")
      .format("memory").queryName("hh").start()
    // batch 1: 'a' dominates
    in.addData(Seq.fill(5)(StreamOps.HHItem("en", "a")) ++
      Seq(StreamOps.HHItem("en", "b")): _*)
    q.processAllAvailable()
    val after1 = spark.sql("SELECT token, count_lb FROM hh").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after1("a") == 5L, s"batch-1 summary wrong: $after1")
    // batch 2: state persists — 'a' keeps accumulating across batches;
    // flooding distinct tokens can evict 'b' but never 'a' (the MG
    // no-false-negative-above-support guarantee), and the candidate set
    // stays bounded at k despite 4 distinct tokens seen
    in.addData(Seq.fill(4)(StreamOps.HHItem("en", "a")) ++
      Seq(StreamOps.HHItem("en", "c"), StreamOps.HHItem("en", "d")): _*)
    q.processAllAvailable()
    // memory sink in update mode appends refreshed rows; latest batch wins
    val latest = spark.sql(
      "SELECT token, count_lb FROM hh").collect()
      .map(r => r.getString(0) -> r.getLong(1)).groupBy(_._1)
      .map { case (t, vs) => t -> vs.map(_._2).max }
    q.stop()
    assert(latest("a") >= 9L - 2L && latest("a") <= 9L,
      s"'a' lost across batches: $latest")
    assert(latest.size <= 4, s"emitted tokens exceed expectations: $latest")
  }

  test("streaming heavy hitters + exact recount equal the q_approx_heavy_hitters driver query") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // parity lane (r18, VERDICT r17 ask 6): Misra–Gries summaries are
    // arrival-order-dependent, so intermediate candidate COUNTS cannot
    // be pinned — but the production CONTRACT can. The streamed summary
    // is a candidate generator whose no-false-negative guarantee says
    // every token with true count > n/(k+1) survives in the final
    // state, and the batch lane (q_approx_heavy_hitters) finishes with
    // an exact recount + support filter that erases both the order
    // dependence and the false positives. So: stream the real corpus
    // tokens through the carried-state summary, exact-recount every
    // token the stream EVER emitted (a superset of the final candidate
    // set — supersets are harmless, the support filter removes exactly
    // what the batch lane's filter removes), and the resulting
    // (token, cnt, support) rows must equal the hash-green driver query
    // row for row.
    val toksDf = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFns.tokens($"text")).as("token"))
    val rows = toksDf.collect().map(r => StreamOps.HHItem("all", r.getString(0)))
    val in = MemoryStream[StreamOps.HHItem]
    val q = StreamOps.heavyHitters(in.toDS(), k = 256)
      .writeStream.outputMode("update")
      .format("memory").queryName("hhpar").start()
    rows.grouped(3000).foreach { b => in.addData(b.toSeq: _*); q.processAllAvailable() }
    val cands = spark.sql("SELECT DISTINCT token FROM hhpar")
      .collect().map(_.getString(0)).toSet
    q.stop()
    val total = rows.length.toDouble
    val recount = toksDf.filter($"token".isInCollection(cands))
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" >= lit(total) * 0.01)
      .select($"token", $"cnt", round($"cnt" / lit(total), 6).as("support"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val want = SparkEntry.queries("q_approx_heavy_hitters")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(recount == want,
      s"stream/batch diverge: onlyStream=${(recount -- want).take(3)} " +
        s"onlyBatch=${(want -- recount).take(3)}")
    assert(want.nonEmpty)
  }

  test("streaming CMS sketch is bit-identical to the batch sketch, any batching") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val w = 64
    val li = Tables.lineitem(spark, sf)
    val rows = li.select($"l_suppkey").collect()
      .map(r => StreamOps.CmsItem("all", r.getLong(0)))
    val perm = rows.sortBy(r => (r.key * 2654435761L) % 104729)
    val in = MemoryStream[StreamOps.CmsItem]
    val q = StreamOps.cmsSketch(in.toDS(), w)
      .writeStream.outputMode("update")
      .format("memory").queryName("cms").start()
    perm.grouped(997).foreach { b => in.addData(b.toSeq: _*); q.processAllAvailable() }
    // counters only grow: final state per cell = max over emissions
    val got = spark.sql("SELECT row, bucket, max(cnt) FROM cms GROUP BY 1, 2")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    q.stop()
    val batch = graft.operators.CountMin.sketch(li, $"l_suppkey", w)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == batch,
      s"sketch mismatch: ${got.size} streamed cells vs ${batch.size} batch")
  }

  test("streaming KMV distinct matches the batch sketch under shuffled delivery") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val k = 64
    val li = Tables.lineitem(spark, sf)
    val rows = li.select($"l_returnflag", $"l_partkey").collect()
      .map(r => StreamOps.KmvItem(r.getString(0), r.getLong(1)))
    // deterministic shuffle, delivered in uneven batches
    val perm = rows.sortBy(r => (r.key * 2654435761L + r.group.hashCode) % 104729)
    val in = MemoryStream[StreamOps.KmvItem]
    val q = StreamOps.kmvDistinct(in.toDS(), k)
      .writeStream.outputMode("update")
      .format("memory").queryName("kmv").start()
    perm.grouped(1234).foreach { b => in.addData(b.toSeq: _*); q.processAllAvailable() }
    // final state per group = max sketch_size, then min kth (size only
    // grows; once at k, the k-th min only shrinks)
    val got = spark.sql("SELECT * FROM kmv").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).view
      .mapValues(_.minBy(t => (-t._2, t._3))).toMap
    q.stop()
    val batch = graft.operators.KmvSketch.estimates(
      graft.operators.KmvSketch.sketch(li, $"l_returnflag", $"l_partkey", k), k)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getAs[Double]("est_distinct"))).toMap
    assert(got.keySet == batch.keySet)
    batch.foreach { case (g, (n, kth, est)) =>
      val (_, gn, gkth, gest) = got(g)
      assert((gn, gkth) == (n, kth), s"group $g sketch mismatch")
      assert(gest == est, s"group $g estimate mismatch: $gest vs $est")
    }
  }

  test("streaming session funnel: greedy chain per closed session, exact under out-of-order delivery") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = StreamOps.sessionFunnel(in.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel").start()
    // session 1 for user 7: click arrives BEFORE the view that precedes
    // it in event time (out of order within the open session), then a
    // purchase; greedy must still chain view(2) -> click(5) -> purchase(9)
    in.addData(Event(2, ts(5), 7, "click", 0), Event(3, ts(9), 7, "purchase", 0))
    q.processAllAvailable()
    in.addData(Event(1, ts(2), 7, "view", 0))
    q.processAllAvailable()
    // a click-only session for user 8 (no view => zero steps complete)
    in.addData(Event(4, ts(3), 8, "click", 0))
    q.processAllAvailable()
    // 2h-later events close both sessions
    in.addData(Event(9, Timestamp.valueOf("2024-01-01 13:00:00"), 7, "view", 0),
      Event(10, Timestamp.valueOf("2024-01-01 13:00:00"), 8, "view", 0))
    q.processAllAvailable()
    val out = spark.sql("SELECT * FROM funnel").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        Option(r.getTimestamp(4)), Option(r.getTimestamp(5)),
        Option(r.getTimestamp(6)))).toSet
    q.stop()
    assert(out == Set(
      (7L, 3L, 3L, Some(ts(2)), Some(ts(5)), Some(ts(9))),
      (8L, 1L, 0L, None, None, None)), s"got $out")
  }

  test("streaming session funnel: purchase before view completes only the view step") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = StreamOps.sessionFunnel(in.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel2").start()
    // purchase(1) < view(4) < click(8): greedy gives view, then click>view,
    // but NO purchase strictly after the click
    in.addData(Event(1, ts(1), 5, "purchase", 0), Event(2, ts(4), 5, "view", 0),
      Event(3, ts(8), 5, "click", 0))
    q.processAllAvailable()
    in.addData(Event(4, Timestamp.valueOf("2024-01-01 14:00:00"), 5, "view", 0))
    q.processAllAvailable()
    val out = spark.sql("SELECT * FROM funnel2").collect()
      .map(r => (r.getLong(0), r.getLong(3),
        Option(r.getTimestamp(4)), Option(r.getTimestamp(5)),
        Option(r.getTimestamp(6)))).toSet
    q.stop()
    assert(out == Set((5L, 2L, Some(ts(4)), Some(ts(8)), None)), s"got $out")
  }

  test("streaming session funnel equals the q_funnel_sessions driver query on real events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // replay the sf0.001 events table in event-time order through the
    // stream; the batch query is the oracle-checked ground truth. The
    // stream can only emit CLOSED sessions (a session closes when a
    // later event arrives), so each user's final session is excluded
    // from the batch side.
    val evs = Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id)).toVector
    val in = MemoryStream[Event]
    val q = StreamOps.sessionFunnel(in.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnelpar").start()
    evs.grouped(500).foreach { b => in.addData(b); q.processAllAvailable() }
    val streamed = spark.sql("SELECT * FROM funnelpar").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getLong(3),
        Option(r.getTimestamp(4)), Option(r.getTimestamp(5)),
        Option(r.getTimestamp(6)))).toSet
    q.stop()
    val batch = SparkEntry.queries("q_funnel_sessions")(spark, sf)
    val lastStart = batch.groupBy($"user_id")
      .agg(max($"session_start").as("last_start"))
    val want = batch.join(lastStart, "user_id")
      .filter($"session_start" < $"last_start")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getLong(3),
        Option(r.getTimestamp(4)), Option(r.getTimestamp(5)),
        Option(r.getTimestamp(6)))).toSet
    assert(streamed == want,
      s"stream/batch diverge: onlyStream=${(streamed -- want).take(3)} " +
        s"onlyBatch=${(want -- streamed).take(3)}")
    assert(want.nonEmpty)
  }

  test("streaming attribution: inclusive instant, horizon cutoff, tie collapse, none lane") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = StreamOps.attributionLastTouch(in.toDS(), horizonDays = 3)
      .writeStream.outputMode("append")
      .format("memory").queryName("attr1").start()
    val d0 = Timestamp.valueOf("2024-01-10 12:00:00")
    def at(days: Double): Timestamp =
      new Timestamp(d0.getTime + (days * 86400000L).toLong)
    in.addData(
      // user 1: view then same-instant click with HIGHER id at purchase
      // time — click wins the collapse AND the inclusive instant match
      Event(1, at(-1), 1, "view", 0),
      Event(2, at(0), 1, "view", 0), Event(3, at(0), 1, "click", 0),
      Event(4, at(0), 1, "purchase", 10.0),
      // user 2: only touch is outside the 3-day horizon -> none
      Event(5, at(-3.5), 2, "view", 0), Event(6, at(0), 2, "purchase", 7.0),
      // user 3: touch exactly AT the horizon boundary counts (inclusive)
      Event(7, at(-3.0), 3, "view", 0), Event(8, at(0), 3, "purchase", 5.0))
    q.processAllAvailable()
    val got = spark.sql("SELECT user_id, touch_type FROM attr1").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    q.stop()
    assert(got == Set((1L, "click"), (2L, "none"), (3L, "view")), s"got $got")
  }

  test("attribution late-event counter surfaces cross-batch ordering violations") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("attr-late-test")
    val in = MemoryStream[Event]
    val q = StreamOps.attributionLastTouch(in.toDS(), horizonDays = 3,
        lateEvents = Some(acc))
      .writeStream.outputMode("append")
      .format("memory").queryName("attrlate").start()
    // batch 1 in order (in-batch disorder doesn't count: it's sorted)
    in.addData(Event(2, ts(10), 1, "view", 0), Event(1, ts(0), 1, "click", 0))
    q.processAllAvailable()
    assert(acc.value == 0L, "ordered delivery must leave the counter at 0")
    // batch 2 violates the contract: ts(5) is behind user 1's high-water
    // mark ts(10) — parity may degrade, and the counter must say so
    in.addData(Event(3, ts(5), 1, "click", 0), Event(4, ts(20), 1, "purchase", 9.0))
    q.processAllAvailable()
    q.stop()
    assert(acc.value == 1L, s"the late touch must be counted, got ${acc.value}")
  }

  test("streaming attribution equals the q_attribution driver query on real events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // replay the events table in event-time order (touches before
    // purchases at equal instants — the batch's inclusive rule; a
    // stream delivery that splits an instant across batches the other
    // way round is indistinguishable from late data). Unlike the
    // funnel, NO exclusion is needed: every purchase emits immediately,
    // so the streamed rows must aggregate to the batch lanes exactly.
    val evs = Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
      .sortBy(e => (e.ts.getTime,
        if (e.event_type == "purchase") 1 else 0, e.event_id)).toVector
    val in = MemoryStream[Event]
    val q = StreamOps.attributionLastTouch(in.toDS(), horizonDays = 3)
      .writeStream.outputMode("append")
      .format("memory").queryName("attrpar").start()
    evs.grouped(500).foreach { b => in.addData(b); q.processAllAvailable() }
    val streamed = spark.sql("SELECT * FROM attrpar").toDF()
      .groupBy($"touch_type")
      .agg(count(lit(1)).as("n_purchases"),
        sum($"value".cast("decimal(18,2)")).cast("double")
          .as("attributed_value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    val want = SparkEntry.queries("q_attribution")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == want,
      s"stream/batch diverge: onlyStream=${streamed -- want} " +
        s"onlyBatch=${want -- streamed}")
    assert(want.nonEmpty)
  }

  test("streaming decontamination equals the q_decontaminate driver query on real documents") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // ninth driver-oracle-anchored streaming parity: the training slice
    // of the real corpus streams through the stateless gram-explode +
    // broadcast benchmark probe; the per-doc hit counts must equal the
    // oracle-checked batch query row for row, and be invariant to how
    // the feed is batched (gram extraction is row-local, the count is
    // an order-free aggregate).
    val docs = Tables.documents(spark, sf)
    val benchGrams = operators.Decontaminate
      .docGrams(docs.filter($"doc_id" % 97 === 0), $"text", $"doc_id", n = 5)
      .select($"gram").distinct()
    val train = docs.filter($"doc_id" % 97 =!= 0)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toVector
    def replay(chunk: Int, name: String): Map[Long, Long] = {
      val in = MemoryStream[(Long, String)]
      val q = StreamOps.decontaminate(
          in.toDF().toDF("doc_id", "text"), benchGrams)
        .writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      train.grouped(chunk).foreach { b => in.addData(b); q.processAllAvailable() }
      val out = spark.table(name).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      q.stop(); out
    }
    val streamed = replay(120, "deconpar1")
    val want = SparkEntry.queries("q_decontaminate")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == want,
      s"stream/batch diverge: onlyStream=${(streamed.keySet -- want.keySet).take(5)} " +
        s"onlyBatch=${(want.keySet -- streamed.keySet).take(5)}")
    assert(replay(7, "deconpar2") == want, "batching changed the verdicts")
  }

  test("streaming sentence dedup equals the q_sentence_dedup keep set on real documents") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // eleventh driver-oracle-anchored streaming parity: the corpus
    // replays in doc-id order with a CONSTANT event time (the watermark
    // never passes, so the horizon-bounded stream dedup degenerates to
    // the global policy), and first-arrival-wins must reproduce the
    // batch min-(doc_id, position) keep set sentence for sentence.
    val feed = Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toVector
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamOps.sentenceDedup(
        in.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.outputMode("append")
      .format("memory").queryName("sentpar").start()
    feed.grouped(150).foreach { b =>
      in.addData(b.map(d => (d._1, d._2, t0))); q.processAllAvailable()
    }
    val streamed = spark.table("sentpar").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    q.stop()
    // batch keep set: first (doc_id, pos) per normalized sentence —
    // re-derived with the same machinery the oracle-checked query uses
    val sents = Tables.documents(spark, sf)
      .select($"doc_id", posexplode(split($"text", "[.!?]"))
        .as(Seq("pos", "raw")))
      .select($"doc_id", $"pos".cast("long").as("pos"),
        concat_ws(" ", graft.functions.TextFns.tokens($"raw")).as("norm"))
      .filter(length($"norm") > 0)
    val firstSeen = sents.groupBy($"norm")
      .agg(min($"doc_id" * 1000000L + $"pos").as("first_key"))
    val want = sents.join(firstSeen, "norm")
      .filter($"doc_id" * 1000000L + $"pos" === $"first_key")
      .select($"doc_id", $"pos", $"norm")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(streamed == want,
      s"stream/batch diverge: onlyStream=${(streamed -- want).take(3)} " +
        s"onlyBatch=${(want -- streamed).take(3)}")
  }

  test("streaming per-key EWMA equals the q_ewma driver query on real events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // parity lane 12: the sequential smoother under the ordered-log
    // contract — events feed in global (ts, event_id) order across
    // arbitrary batch boundaries; the final per-key state must equal
    // the batch fold (identical 0.75/0.25 double literals) exactly.
    val evs = Tables.events(spark, sf).as[Event].collect()
      .sortBy(e => (e.ts.getTime * 1000 + (e.ts.getNanos / 1000) % 1000,
        e.event_id)).toVector
    val in = MemoryStream[Event]
    val q = StreamOps.ewmaLast(in.toDF().as[Event])
      .writeStream.outputMode("update")
      .format("memory").queryName("ewmapar").start()
    evs.grouped(700).foreach { b => in.addData(b); q.processAllAvailable() }
    val streamed = spark.table("ewmapar")
      .groupBy($"user_id")
      .agg(max(struct($"n_events", $"ewma_last")).as("fin"))
      .select($"user_id", $"fin.n_events",
        round($"fin.ewma_last", 6).as("ewma_last"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    val want = SparkEntry.queries("q_ewma")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == want,
      s"stream/batch diverge: onlyStream=${(streamed -- want).take(3)} " +
        s"onlyBatch=${(want -- streamed).take(3)}")
  }

  test("streaming quality-LR scoring equals the q_quality_lr driver query on real documents") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // driver-oracle-anchored streaming parity for the discriminative
    // quality filter: the logistic model is trained once over the
    // batch corpus (bit-deterministic, so this retrain IS the model
    // the batch query cached) and frozen; the same corpus streams
    // through the ZERO-STATE row-local scorer the batch lane runs
    // (append mode — no aggregation, no watermark), so the streamed
    // confusion surface must equal the batch query row for row
    // regardless of batching.
    val docs = Tables.documents(spark, sf)
    val toks = graft.functions.TextFns.tokens(col("text"))
    val keep = graft.functions.TextFns.qualityKeep(
      length(col("text")).cast("long"), size(toks).cast("long"),
      graft.functions.TextFns.meanWordLen(toks))
    val m = operators.QualityLr.train(docs, $"text", $"doc_id",
      when(keep, 1.0).otherwise(0.0))
    val feed = docs.select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toVector
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.qualityLrScore(in.toDF().toDF("doc_id", "text"), m,
        when(keep, 1L).otherwise(0L))
      .writeStream.outputMode("append")
      .format("memory").queryName("qlrpar").start()
    feed.grouped(90).foreach { b => in.addData(b); q.processAllAvailable() }
    val streamed = spark.table("qlrpar").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    q.stop()
    val want = SparkEntry.queries("q_quality_lr")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(streamed == want,
      s"stream/batch diverge: onlyStream=${(streamed -- want).take(3)} " +
        s"onlyBatch=${(want -- streamed).take(3)}")
  }

  test("streaming IVF ANN serving equals the q_ann_ivf driver query on real embeddings") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // streaming twin of the similarity-search family (r16 — the 13th
    // parity lane): the IVF quantizer is trained once over the batch
    // corpus (bit-deterministic, so this retrain IS the model the
    // batch lane cached) and frozen; the q_ann_ivf QUERY set then
    // arrives as a stream in three micro-batches and probes the static
    // index through the zero-state foreachBatch server. Each query id
    // arrives exactly once and the index is static, so per-batch
    // ranking is exact — the appended serving log must equal the batch
    // query's top-k row for row regardless of batching.
    val e = Tables.embeddings(spark, sf)
    val m = operators.IvfAnn.train(e, "vec_id", "embedding", k = 16)
    val feed = e.filter($"vec_id" < 10)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toVector
    val outDir = s"target/test-tmp/ann-serve-${System.nanoTime()}"
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.annIvfServe(
      in.toDF().toDF("vec_id", "embedding"), e, outDir,
      k = 5, m, nProbe = 4)
    feed.grouped(4).foreach { b => in.addData(b); q.processAllAvailable() }
    q.stop()
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSet
    val want = SparkEntry.queries("q_ann_ivf")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSet
    assert(streamed == want,
      s"stream/batch diverge: onlyStream=${(streamed -- want).take(3)} " +
        s"onlyBatch=${(want -- streamed).take(3)}")
    graft.Fs.deleteRec(java.nio.file.Paths.get(outDir))
  }

  test("streaming DSIR scoring equals the q_dsir_weights driver query on real documents") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // tenth driver-oracle-anchored streaming parity: the λ model is
    // trained once over the batch corpus and frozen; the SAME corpus
    // then streams through the stateless scorer. Decimal λ sums are
    // order-independent, so the streamed weights must equal the batch
    // query row for row regardless of batching.
    val docs = Tables.documents(spark, sf)
    val lam = operators.Dsir.lambdaWithin(docs, $"lang" === "en",
      $"text", $"doc_id", numBuckets = 4096)
    val feed = docs.select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toVector
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.dsirScore(in.toDF().toDF("doc_id", "text"), lam)
      .writeStream.outputMode("complete")
      .format("memory").queryName("dsirpar").start()
    feed.grouped(90).foreach { b => in.addData(b); q.processAllAvailable() }
    val streamed = spark.table("dsirpar").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    val want = SparkEntry.queries("q_dsir_weights")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == want,
      s"stream/batch diverge: onlyStream=${(streamed -- want).take(3)} " +
        s"onlyBatch=${(want -- streamed).take(3)}")
  }

  test("streaming drift scoring equals the q_drift_psi driver query on real orders") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // sixth driver-oracle-anchored streaming parity: the first-era
    // orders flow through driftHistogram (one 20000-day window bucket
    // holds the whole era, q_drift_psi's $25k bins) and are scored
    // against the second era as the baseline — exactly the driver
    // query's orientation ((a_share - b_share) * ln(a/b)), so every
    // per-bin psi_component must come out BIT-identical to the
    // oracle-checked batch monitor, union domain included.
    val orders = Tables.orders(spark, sf)
      .select($"o_orderkey".as("event_id"), $"o_orderdate".as("ts"),
        $"o_custkey".as("user_id"), lit("order").as("event_type"),
        $"o_totalprice".as("value"))
      .as[Event].collect()
    val (eraA, eraB) = orders.partition(
      _.ts.before(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
    val in = MemoryStream[Event]
    val q = StreamOps.driftHistogram(in.toDF(), binCents = 2500000L,
        windowLen = "20000 days")
      .writeStream.outputMode("complete")
      .format("memory").queryName("driftpar").start()
    eraA.grouped(300).foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
    q.stop()
    val hist = spark.table("driftpar").toDF("bucket", "bin", "n")
    assert(hist.select($"bucket").distinct().count() == 1,
      "era A must land in a single window bucket")
    val baseline = eraB.toSeq.toDF()
      .groupBy(expr(
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) div 2500000")
        .as("bin"))
      .agg(count(lit(1)).as("n_base"))
    val got = StreamOps.scoreDrift(hist, baseline).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    val want = SparkEntry.queries("q_drift_psi")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == want,
      s"stream/batch diverge: onlyStream=${got.toSet -- want.toSet} " +
        s"onlyBatch=${want.toSet -- got.toSet}")
    assert(want.nonEmpty && want.values.exists(_._3 != 0.0))
  }

  test("streaming drift histogram equals the batch histogram, any batching; scoring matches the PSI arithmetic") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val evs = (0 until 24).map(i =>
      Event(i.toLong, ts((i * 5) % 60), 1, "e", (i % 7) * 3.25)).toVector
    val perm = Vector(13, 2, 21, 7, 0, 17, 11, 23, 5, 9, 19, 3,
      15, 1, 22, 8, 12, 6, 18, 10, 4, 20, 14, 16).map(evs)
    val in = MemoryStream[Event]
    val q = StreamOps.driftHistogram(in.toDF(), binCents = 500,
        windowLen = "1 hour")
      .writeStream.outputMode("complete")
      .format("memory").queryName("drift").start()
    perm.grouped(6).foreach { b => in.addData(b); q.processAllAvailable() }
    val got = spark.sql("SELECT * FROM drift").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    val want = evs.toDF()
      .groupBy(window($"ts", "1 hour").as("w"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) div 500")
          .as("bin"))
      .agg(count(lit(1)).as("n"))
      .select($"w.start", $"bin", $"n").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"stream hist $got != batch $want")
    // scoring: identical shares must score psi == 0 for every bin, and
    // a shifted baseline must score strictly positive total
    val hist = spark.sql("SELECT * FROM drift").toDF("bucket", "bin", "n")
    val same = hist.select($"bin", $"n".as("n_base"))
      .groupBy($"bin").agg(sum($"n_base").as("n_base"))
    val zero = StreamOps.scoreDrift(hist, same)
      .agg(sum(abs($"psi_component"))).collect().head.getDouble(0)
    assert(zero == 0.0)
    val shifted = same.select(($"bin" + 1).as("bin"), $"n_base")
    val pos = StreamOps.scoreDrift(hist, shifted)
      .agg(sum($"psi_component")).collect().head.getDouble(0)
    assert(pos > 0.0)
    // vanished-mass coverage: a bin with baseline mass but NO window
    // rows must still produce a scored row (n = 0, psi > 0) — the
    // batch monitor scores any bin observed in either era, and drift
    // from disappeared mass is exactly what a left join would miss
    val extra = same.union(Seq((999L, 5L)).toDF("bin", "n_base"))
    val vanished = StreamOps.scoreDrift(hist, extra)
      .filter($"bin" === 999L).collect()
    assert(vanished.nonEmpty, "baseline-only bin produced no scored row")
    assert(vanished.forall(r => r.getLong(2) == 0L && r.getDouble(4) > 0.0))
  }

  test("streaming CDC upsert equals the q_cdc_merge driver query on real customers") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // parity lane (r15): the CDC sink replayed over the REAL changelog
    // q_cdc_merge derives from orders, against the REAL customer base
    // snapshot. Changes are delivered in version order across 5 uneven
    // batches (the CDC log-order contract — cross-batch, arrival IS the
    // version order; versions re-order only within a batch). The final
    // snapshot must equal the hash-green driver query exactly: same key
    // set, same balances, and change_applied <=> the snapshot row
    // carries a changelog version column (schema evolution fills those
    // only on upserted rows).
    val dir = java.nio.file.Files.createTempDirectory("cdc_parity_")
      .toString + "/snap"
    Tables.customer(spark, sf)
      .select($"c_custkey",
        $"c_acctbal".cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .as("acctbal"))
      .write.mode("overwrite").parquet(dir)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"o_orderdate", $"o_orderkey")
    val changes = Tables.orders(spark, sf).select(
        $"o_custkey".as("c_custkey"),
        when($"o_orderstatus" === "F", lit("D")).otherwise(lit("U")).as("op"),
        $"o_totalprice".cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .as("acctbal"),
        $"o_orderdate", $"o_orderkey")
      .withColumn("b", ((row_number().over(w) - 1) / 400).cast("int"))
    val nBatches = changes.agg(max($"b")).head.getInt(0)
    (0 to nBatches).foreach { b =>
      StreamOps.mergeBatch(changes.filter($"b" === b).drop("b"), dir,
        keys = Seq("c_custkey"), opCol = "op",
        version = Seq("o_orderdate", "o_orderkey"))
    }
    val got = spark.read.parquet(dir)
      .select($"c_custkey", $"acctbal".cast("double"),
        $"o_orderkey".isNotNull)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
      .toSet
    val want = SparkEntry.queries("q_cdc_merge")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
      .toSet
    assert(got == want,
      s"stream/batch diverge: onlyStream=${(got -- want).take(3)} " +
        s"onlyBatch=${(want -- got).take(3)}")
    // every customer has orders at this sf, so the untouched branch is
    // vacuous here; the change_applied <=> version-column equivalence is
    // still pinned row-by-row by the set equality above
    assert(want.exists(_._3))
  }

  test("partition-scoped CDC upsert equals the q_cdc_merge driver query on real customers") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // parity lane (r18, VERDICT r17 ask 6): the COPY-ON-WRITE partition
    // sink replayed over the SAME real changelog as the cdcUpsert
    // parity above, against the real customer base partitioned by
    // pk = c_custkey % 8. pk is a pure function of the merge KEY — the
    // documented constraint that makes partition-scoped merging
    // semantics-preserving: a key's rows can never live outside its own
    // partition, so rewriting only the batch's partition footprint
    // touches every row the full-snapshot merge would. The union of the
    // partition slices must therefore equal the hash-green q_cdc_merge
    // rows exactly (the r15 layout/crash specs in SnapshotSwapSpec stay
    // the contract for what this variant ADDS; this lane anchors its
    // row-set behavior to the driver oracle).
    val dir = java.nio.file.Files.createTempDirectory("cdc_part_parity_")
      .toString + "/snap"
    Tables.customer(spark, sf)
      .select($"c_custkey",
        $"c_acctbal".cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .as("acctbal"),
        pmod($"c_custkey", lit(8)).cast("int").as("pk"))
      .write.partitionBy("pk").mode("overwrite").parquet(dir)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"o_orderdate", $"o_orderkey")
    val changes = Tables.orders(spark, sf).select(
        $"o_custkey".as("c_custkey"),
        when($"o_orderstatus" === "F", lit("D")).otherwise(lit("U")).as("op"),
        $"o_totalprice".cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .as("acctbal"),
        $"o_orderdate", $"o_orderkey",
        pmod($"o_custkey", lit(8)).cast("int").as("pk"))
      .withColumn("b", ((row_number().over(w) - 1) / 400).cast("int"))
    val nBatches = changes.agg(max($"b")).head.getInt(0)
    (0 to nBatches).foreach { b =>
      StreamOps.mergeBatchPartitioned(changes.filter($"b" === b).drop("b"),
        dir, keys = Seq("c_custkey"), opCol = "op",
        version = Seq("o_orderdate", "o_orderkey"), partitionKey = "pk")
    }
    val got = spark.read.parquet(dir)
      .select($"c_custkey", $"acctbal".cast("double"), $"o_orderkey".isNotNull)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
      .toSet
    val want = SparkEntry.queries("q_cdc_merge")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
      .toSet
    assert(got == want,
      s"stream/batch diverge: onlyStream=${(got -- want).take(3)} " +
        s"onlyBatch=${(want -- got).take(3)}")
    assert(want.exists(_._3))
  }

  test("streaming CMS sketch estimates equal the q_cms_freq driver query on real events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // parity lane (r15): the carried sketch state, estimated through
    // CountMin.estimatesFrom (the maintained-sketch read path), must
    // reproduce the hash-green q_cms_freq rows exactly — same width
    // (256), same keys (events.user_id), same exact-count harness.
    val ev = Tables.events(spark, sf)
    val rows = ev.select($"user_id").collect()
      .map(r => StreamOps.CmsItem("all", r.getLong(0)))
    val perm = rows.sortBy(r => (r.key * 2654435761L) % 104729)
    val in = MemoryStream[StreamOps.CmsItem]
    val q = StreamOps.cmsSketch(in.toDS(), width = 256)
      .writeStream.outputMode("update")
      .format("memory").queryName("cmspar").start()
    perm.grouped(997).foreach { b => in.addData(b.toSeq: _*); q.processAllAvailable() }
    // counters only grow: final state per cell = max over emissions
    val cells = spark.sql("SELECT row, bucket, max(cnt) AS cnt FROM cmspar GROUP BY 1, 2")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    q.stop()
    val streamedSk = cells.toSeq.toDF("row", "bucket", "cnt")
    val est = graft.operators.CountMin.estimatesFrom(streamedSk,
      ev.select($"user_id".as("key")).distinct(), width = 256)
    val exact = ev.groupBy($"user_id".as("key"))
      .agg(count(lit(1)).as("true_count"))
    val got = est.join(exact, "key")
      .select($"key", $"est_count", $"true_count",
        ($"est_count" - $"true_count").as("overcount"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = SparkEntry.queries("q_cms_freq")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want,
      s"stream/batch diverge: onlyStream=${(got -- want).take(3)} " +
        s"onlyBatch=${(want -- got).take(3)}")
    assert(want.nonEmpty)
  }

  test("streaming KMV distinct equals the q_kmv_distinct driver query on real lineitem") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // parity lane (r15): the streaming sketch at the DRIVER LANE's
    // operating point (k=256 over (l_returnflag, l_partkey)), final
    // state assembled into exactly the hash-green q_kmv_distinct rows
    // (sketch_size, kth_hash, est_distinct + the exact-count harness).
    val li = Tables.lineitem(spark, sf)
    val rows = li.select($"l_returnflag", $"l_partkey").collect()
      .map(r => StreamOps.KmvItem(r.getString(0), r.getLong(1)))
    val perm = rows.sortBy(r => (r.key * 2654435761L + r.group.hashCode) % 104729)
    val in = MemoryStream[StreamOps.KmvItem]
    val q = StreamOps.kmvDistinct(in.toDS(), k = 256)
      .writeStream.outputMode("update")
      .format("memory").queryName("kmvpar").start()
    perm.grouped(1234).foreach { b => in.addData(b.toSeq: _*); q.processAllAvailable() }
    // final state per group: size only grows; at k, the k-th min shrinks
    val got = spark.sql("SELECT * FROM kmvpar").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).view
      .mapValues(_.minBy(t => (-t._2, t._3))).toMap
    q.stop()
    val exact = li.select($"l_returnflag".as("g"), $"l_partkey").distinct()
      .groupBy($"g").agg(count(lit(1)).as("exact_distinct"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamedRows = got.map { case (g, (_, n, kth, est)) =>
      (g, n, kth, est, exact(g))
    }.toSet
    val want = SparkEntry.queries("q_kmv_distinct")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
      .toSet
    assert(streamedRows == want,
      s"stream/batch diverge: onlyStream=${(streamedRows -- want).take(3)} " +
        s"onlyBatch=${(want -- streamedRows).take(3)}")
    assert(want.nonEmpty)
  }
}
