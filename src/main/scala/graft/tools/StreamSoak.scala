package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming STATE soak: drive the two stateful streaming operators that
  * had specs but no scale datapoint — gap sessionization
  * (flatMapGroupsWithState) and the watermarked stream-stream range join
  * — with a scaled event log replayed in event-time order, and report
  * per-batch wall time plus the state store's row count after every
  * micro-batch.
  *
  * What "healthy" looks like, and what this soak exists to catch:
  *  - sessionization state rows must track the number of users with an
  *    OPEN session (bounded by the user population), not the number of
  *    events processed — a leak here grows with throughput and dies in
  *    days on a production stream;
  *  - join state rows must plateau at (horizon × ingest rate) once the
  *    watermark starts evicting buffered rows — monotone growth means
  *    eviction is broken (a missing/ineffective watermark) and the join
  *    eventually OOMs regardless of cluster size;
  *  - per-batch seconds at constant batch size must stay flat: growth
  *    means some per-batch cost scales with TOTAL state or history.
  *
  * Usage: runMain graft.tools.StreamSoak [sfDir] [nBatches] [batchRows]
  */
object StreamSoak {

  final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                      event_type: String, value: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "tmp/sf10"
    val nBatches = if (args.length > 1) args(1).toInt else 12
    val batchRows = if (args.length > 2) args(2).toInt else 100000
    val spark = graft.Harness.session("graft-stream-soak")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the replay feed: events in EVENT-TIME order (the shape a resumed
    // backlog or a Kafka topic keyed by time delivers), chunked into
    // fixed-size micro-batches so per-batch numbers are comparable
    val need = nBatches * batchRows
    val feed = graft.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .orderBy($"ts", $"event_id")
      .limit(need)
      .as[Ev]
      .collect()
    println(s"soak: replaying ${feed.length} events in $nBatches batches of $batchRows")
    val users = feed.map(_.user_id).distinct.length

    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      Option(q.lastProgress).map(_.stateOperators)
        .filter(_.nonEmpty).map(_.map(_.numRowsTotal).sum).getOrElse(-1L)

    // ---- sessionization --------------------------------------------------
    {
      val in = MemoryStream[Ev]
      val sessions = graft.streaming.StreamOps.sessionize(
        in.toDS().map(e => graft.streaming.StreamOps.Event(
          e.event_id, e.ts, e.user_id, e.event_type, e.value)), gapMinutes = 30)
      val q = sessions.writeStream.format("noop").outputMode("append").start()
      var b = 0
      while (b < nBatches) {
        val t0 = System.nanoTime()
        in.addData(feed.slice(b * batchRows, (b + 1) * batchRows))
        q.processAllAvailable()
        println(f"soak: sessionize batch $b%2d ${(System.nanoTime() - t0) / 1e9}%7.2f s " +
          f"stateRows=${stateRows(q)}%d")
        b += 1
      }
      println(s"soak: sessionize distinct users in feed = $users " +
        "(state must be bounded by this, not by events processed)")
      q.stop()
    }

    // ---- session funnel (round 10): open-session buffers ----------------
    // state = per-user open-session step events; healthy = rows bounded
    // by (users with an open session) × (step events per open session),
    // flat per-batch cost. The buffer holds step-type events only, so
    // state rows must sit a small multiple above sessionize's, never
    // track total events processed.
    {
      val in = MemoryStream[Ev]
      val funnels = graft.streaming.StreamOps.sessionFunnel(
        in.toDS().map(e => graft.streaming.StreamOps.Event(
          e.event_id, e.ts, e.user_id, e.event_type, e.value)), gapMinutes = 30)
      val q = funnels.writeStream.format("noop").outputMode("append").start()
      var b = 0
      while (b < nBatches) {
        val t0 = System.nanoTime()
        in.addData(feed.slice(b * batchRows, (b + 1) * batchRows))
        q.processAllAvailable()
        println(f"soak: funnel     batch $b%2d ${(System.nanoTime() - t0) / 1e9}%7.2f s " +
          f"stateRows=${stateRows(q)}%d")
        b += 1
      }
      println(s"soak: funnel distinct users in feed = $users")
      q.stop()
    }

    // ---- last-touch attribution (round 11): horizon-pruned buffers ------
    // state = per-user TOUCH buffer pruned to the 3-day horizon of the
    // newest event; healthy = rows bounded by users × (touches inside
    // the horizon), never total events — purchases are never buffered,
    // they emit on arrival.
    {
      val in = MemoryStream[Ev]
      val attr = graft.streaming.StreamOps.attributionLastTouch(
        in.toDS().map(e => graft.streaming.StreamOps.Event(
          e.event_id, e.ts, e.user_id, e.event_type, e.value)),
        horizonDays = 3)
      val q = attr.writeStream.format("noop").outputMode("append").start()
      var b = 0
      while (b < nBatches) {
        val t0 = System.nanoTime()
        in.addData(feed.slice(b * batchRows, (b + 1) * batchRows))
        q.processAllAvailable()
        println(f"soak: attrib     batch $b%2d ${(System.nanoTime() - t0) / 1e9}%7.2f s " +
          f"stateRows=${stateRows(q)}%d")
        b += 1
      }
      println(s"soak: attrib distinct users in feed = $users")
      q.stop()
    }

    // ---- stream-stream watermarked range join ---------------------------
    {
      val clicks = MemoryStream[Ev]
      val purchases = MemoryStream[Ev]
      val joined = graft.streaming.StreamOps.clickPurchaseJoin(
        clicks.toDF(), purchases.toDF(), horizon = "2 hours")
      val q = joined.writeStream.format("noop").outputMode("append").start()
      var b = 0
      while (b < nBatches) {
        val t0 = System.nanoTime()
        val chunk = feed.slice(b * batchRows, (b + 1) * batchRows)
        // alternate event ids into the two roles so both sides advance
        // their watermark every batch (watermark = min across inputs)
        clicks.addData(chunk.filter(_.event_id % 2 == 0))
        purchases.addData(chunk.filter(_.event_id % 2 == 1))
        q.processAllAvailable()
        println(f"soak: ss-join    batch $b%2d ${(System.nanoTime() - t0) / 1e9}%7.2f s " +
          f"stateRows=${stateRows(q)}%d")
        b += 1
      }
      q.stop()
    }
    spark.stop()
  }
}
