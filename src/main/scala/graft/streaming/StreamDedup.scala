package graft.streaming

import graft.functions.TextFns
import graft.plans.Signatures
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.LongType
import java.sql.Timestamp

/** Streaming NEAR-duplicate dedup — MinHash LSH with watermark-bounded
  * band-bucket state.
  *
  * [[StreamOps.dedupExact]] drops byte-identical repeats; this operator
  * is its near-dup sibling: a continuously arriving document stream is
  * checked against every document that arrived within the dedup horizon,
  * using EXACTLY the batch engine's candidate generation and verify
  * (token k-shingles as sorted distinct 64-bit hashes →
  * [[Signatures.minhashSig]] → banded `xxhash64` keys → exact Jaccard
  * over the hash sets, graft.operators.Dedup's pipeline re-keyed by
  * time instead of by corpus).
  *
  * Shape: each doc explodes to its `bands` (band, band_hash) rows; state
  * lives PER BUCKET (the LSH locality unit — two docs can only be
  * candidates if they share a bucket, so each bucket's members are the
  * complete candidate set for a probe landing in it). A probe is
  * verified in-bucket against members with a SMALLER doc id, mirroring
  * the batch greedy first-wins policy (graft.operators.Dedup
  * .incrementalKeep): `kept` = no verified partner with a smaller
  * id — a per-doc property, NOT transitive closure, so retained-set
  * membership of the partner is irrelevant and all members stay
  * comparable. Parity with the batch engine therefore requires ids
  * monotone in arrival order (the natural ingest-id contract); ties
  * inside one micro-batch are resolved by processing each bucket's
  * probes in id order.
  *
  * State and scale: a bucket member is (doc_id, event-time, shingle-hash
  * set), so state is `bands` copies of each in-horizon doc's shingle
  * set — the price of one-pass bucket-local EXACT verification. The
  * watermark is the bound: members older than the watermark can no
  * longer partner any future probe (late data beyond the delay is
  * dropped by the watermark itself) and are evicted on every bucket
  * visit, plus an event-time timeout sweeps idle buckets, so state size
  * is (ingest within horizon) × bands regardless of total stream age —
  * the same bounded-state contract as dedupExact. At 100 TB/day the
  * horizon is the knob: near-dup state covers the horizon window only;
  * cross-horizon dedup belongs to the batch engine's incremental pass
  * (Dedup.incrementalKeep) over compacted output, exactly like
  * the exact-dedup split. (The signature-only alternative — state holds
  * sigs, verify estimates Jaccard from band agreement — trades state
  * ×8/numHashes for approximate verdicts; this operator keeps the batch
  * engine's exact-verify semantics so streaming and batch answers agree
  * row-for-row.)
  *
  * Emission contract ([[BandHit]]): every verified (probe, partner)
  * pair, any band, `partner >= 0`; plus one presence row (`partner =
  * -1`) from the probe's band-0 bucket so docs with no partners still
  * surface. All rows for a doc are emitted in the micro-batch the doc
  * arrives in (bucket lookup is synchronous), so the per-doc verdict
  * [[verdicts]] is a STATELESS per-batch rollup — run it inside
  * `foreachBatch` or over the sink table; no second stateful operator
  * is needed.
  */
object StreamDedup {

  /** One band-bucket probe: the doc's event time, shingle-hash set and
    * the (band, band_hash) key row it landed on. */
  final case class Probe(doc_id: Long, ts: Timestamp, sh: Array[Long],
                         band: Int, band_hash: Long)

  final case class Member(doc_id: Long, tsMs: Long, sh: Array[Long])
  final case class BucketState(members: List[Member])

  /** `partner = -1` is the presence row (no partner found in band 0). */
  final case class BandHit(doc_id: Long, ts: Timestamp, band: Int,
                           partner: Long, jaccard: Double)

  /** Per-doc verdict: `kept` = no verified partner with a smaller id
    * anywhere in the horizon. */
  final case class Verdict(doc_id: Long, n_dup_partners: Long, kept: Boolean)

  /** Exact Jaccard over two sorted distinct long arrays — the plain-JVM
    * twin of [[Signatures.jaccardSortedLongs]] (empty ∪ empty = 0.0,
    * matching the batch verify's empty-set convention). */
  private[streaming] def jaccard(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union.toDouble
  }

  /** Verified near-dup hits for a streaming doc frame (`idCol` LONG,
    * `tsCol` TIMESTAMP, `textCol` STRING). `horizon` is both the
    * watermark delay and the dedup window: two docs farther apart in
    * event time are never compared. */
  def nearDupHits(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id", tsCol: String = "ts",
                  shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
                  threshold: Double = 0.5,
                  horizon: String = "1 hour"): Dataset[BandHit] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(threshold > 0.0, "degenerate threshold (see Dedup)")
    val rows = numHashes / bands
    val spark = docs.sparkSession
    import spark.implicits._

    val probes = docs
      .select(col(idCol).cast(LongType).as("doc_id"), col(tsCol).as("ts"),
        Signatures.shingleHashes(TextFns.tokens(col(textCol)), shingleK)
          .as("sh"))
      .withColumn("sig", Signatures.minhashSig(col("sh"), numHashes))
      .withColumn("b", explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          xxhash64(b, slice(col("sig"), b * rows + 1, lit(rows)))
            .as("band_hash")))))
      .select(col("doc_id"), col("ts"), col("sh"),
        col("b.band").as("band"), col("b.band_hash").as("band_hash"))
      .withWatermark("ts", horizon)
      .as[Probe]

    probes
      .groupByKey(p => (p.band, p.band_hash))
      .flatMapGroupsWithState[BucketState, BandHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, Long), it: Iterator[Probe],
         state: GroupState[BucketState]) =>
          val wm = state.getCurrentWatermarkMs()
          // members older than the watermark can never partner a future
          // probe (later probes' event times are >= wm by the watermark
          // contract) — evict on every visit
          var members = state.getOption.map(_.members).getOrElse(Nil)
            .filter(_.tsMs >= wm)
          val out = List.newBuilder[BandHit]
          // id order inside the batch = the batch engine's tie-break
          it.toSeq.sortBy(_.doc_id).foreach { p =>
            var found = false
            members.foreach { m =>
              if (m.doc_id < p.doc_id) {
                val j = jaccard(m.sh, p.sh)
                if (j >= threshold) {
                  found = true
                  out += BandHit(p.doc_id, p.ts, key._1, m.doc_id, j)
                }
              }
            }
            if (!found && key._1 == 0)
              out += BandHit(p.doc_id, p.ts, 0, -1L, 0.0)
            members ::= Member(p.doc_id, p.ts.getTime, p.sh)
          }
          if (members.isEmpty) state.remove()
          else {
            state.update(BucketState(members))
            // sweep the bucket when its OLDEST member expires even if no
            // probe ever lands here again (timeout must sit past the
            // current watermark)
            state.setTimeoutTimestamp(
              math.max(members.map(_.tsMs).min, wm) + 1L)
          }
          out.result().iterator
      }
  }

  /** Stateless per-batch rollup of [[nearDupHits]] output to one row per
    * doc. Cross-band repeats of the same partner collapse (a pair
    * sharing several bands is still one partner). */
  def verdicts(hits: DataFrame): DataFrame =
    hits.groupBy(col("doc_id"))
      .agg(count_distinct(when(col("partner") >= 0, col("partner")))
        .as("n_dup_partners"))
      .select(col("doc_id"), col("n_dup_partners"),
        (col("n_dup_partners") === 0L).as("kept"))
}
