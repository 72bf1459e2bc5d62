package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

import graft.plans.WindowHashes

/** Span-level EXACT substring deduplication — the training-data dedup mode
  * document-level near-dup (MinHash/SimHash, [[Dedup]]) cannot express:
  * two long documents that each embed the same boilerplate paragraph are
  * nowhere near duplicates as WHOLES, but a language model still memorizes
  * the repeated span. The standard remedy is to find every maximal run of
  * text whose length-n grams occur more than once in the corpus and cut
  * those spans out of every copy (the suffix-array recipe of Lee et al.,
  * "Deduplicating Training Data Makes Language Models Better", 2021).
  *
  * Scale shape — a distributed n-gram index, NEVER a driver-side suffix
  * array:
  *
  *  1. one scan-stage codegen kernel ([[graft.plans.WindowHashes]]) rolls
  *     a 64-bit Rabin-Karp hash across every code-point position — O(len)
  *     per document, no gram strings materialize;
  *  2. hash occurrence counts (groupBy h — map-side partial aggregation
  *     collapses each document's repeats before the shuffle, and the
  *     shuffled record is a 16-byte (h, count)) keep only hashes seen at
  *     least twice: the CANDIDATE positions, a corpus-duplication-sized
  *     set, not a corpus-sized one;
  *  3. candidates re-extract their exact gram text (join back to the
  *     document table on doc_id — only candidate positions pay the string
  *     materialization) and are verified by exact-gram counts, so a hash
  *     collision can only ever be REMOVED, never invent a duplicate;
  *  4. verified duplicate positions merge into maximal spans per document
  *     (interval union via a per-document window — state bounded by one
  *     document's positions, and every interval has width n so a single
  *     lag() comparison decides island breaks).
  *
  * Both shuffles in the candidate path (steps 3-4) carry only duplicated
  * content, so a mostly-unique 100 TB corpus pays one O(corpus) hash
  * shuffle of 16-byte records and then works on the small duplicate core.
  * AQE's skew handling covers the adversarial corpus whose duplicates all
  * share one gram (the groupBy side partially aggregates; the join side
  * broadcasts the gram-count table when it is small).
  *
  * Reference analogue: none — the reference ETL
  * (aws-cdk-pipelines-datalake-etl) has no text pipeline; this family is
  * part of the beyond-reference LLM-curation surface.
  */
object SubstringDedup {

  /** All per-position window hashes of `text` (array<bigint>). */
  def windowHashes(text: Column, n: Int): Column =
    ColumnBridge.column(WindowHashes(ColumnBridge.expression(text), n))

  /** Maximal duplicated spans per document.
    *
    * A code-point position is DUPLICATED when the length-`n` gram starting
    * there occurs at least twice in the corpus (in another document or at
    * another position of the same one — internal repetition is real
    * duplication for a training corpus). Overlapping and touching position
    * intervals [pos, pos+n) merge into maximal spans.
    *
    * Output: (doc_id, span_start, span_end) — half-open [start, end) in
    * code points, one row per maximal span, documents without duplicated
    * spans absent.
    */
  def duplicateSpans(docs: DataFrame, idCol: Column, textCol: Column,
                     n: Int): DataFrame = {
    require(n >= 2, s"substring dedup needs gram length n >= 2, got $n")
    val d = docs.select(idCol.as("doc_id"), textCol.as("__text"))
    val grams = d.select(col("doc_id"),
      posexplode(windowHashes(col("__text"), n)).as(Seq("pos", "h")))
    // hashes with >= 2 occurrences anywhere — the candidate filter. count
    // partial-aggregates map-side, so the shuffle carries one record per
    // distinct hash per task, not one per position.
    val dupHash = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("hcnt")).filter(col("hcnt") >= 2)
      .select(col("h"))
    val cand = grams.join(dupHash, Seq("h"))
    // exact verification: only candidate positions materialize their gram
    // text; grouping by (h, g) keeps the exact string check while the
    // shuffle still partitions on the cheap 8-byte hash prefix.
    // withG feeds BOTH the gram-count aggregation and the verified-
    // position join below; without a persist that diamond recomputes the
    // whole candidate subtree — including TWO more corpus-wide rolling-
    // hash scans — once per consumer (measured: 6 parquet scans / 4
    // WindowHashes passes in the unpersisted plan, 3 / 2 with it).
    // withG is duplication-sized (one 40-char gram per CANDIDATE
    // position), so the cache is bounded by duplicate content, never the
    // corpus; registered with OpCaches for the caller-release lifecycle
    // every dedup pipeline uses. The persist also hands AQE a real size
    // for the (h, g) self-join, letting it pick a broadcast build.
    val withG = OpCaches.track(cand.join(d, Seq("doc_id"))
      .select(col("doc_id"), col("pos"), col("h"),
        col("__text").substr(col("pos") + 1, lit(n)).as("g"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val dupGram = withG.groupBy(col("h"), col("g"))
      .agg(count(lit(1)).as("gcnt")).filter(col("gcnt") >= 2)
      .select(col("h"), col("g"))
    val dupPos = withG.join(dupGram, Seq("h", "g"))
      .select(col("doc_id"), col("pos"))
    // merge positions into maximal spans: every interval is [pos, pos+n),
    // so with positions sorted the previous interval's end is lag(pos)+n
    // and a new island starts exactly when pos > lag(pos) + n
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dupPos
      .withColumn("prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") > col("prev") + n, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast(LongType).as("span_start"),
        (max(col("pos")) + n).cast(LongType).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** The corpus with every duplicated span CUT OUT of every occurrence
    * (the Lee-et-al. policy: all copies go, not all-but-one — a span that
    * was duplicated is boilerplate, and removing only later copies still
    * leaves the model one memorizable instance per n-gram while keeping
    * order-dependence the distributed pipeline can't afford).
    *
    * Applied to a PRECOMPUTED span table (the [[duplicateSpans]] output,
    * possibly read back from a write-once derived table — the production
    * pipeline shape: find spans once, let both the report and the strip
    * consume the same artifact). Output: (doc_id, clean_text) for EVERY
    * input document; documents without duplicated spans pass through
    * unchanged. Removal is a per-document fold over that document's
    * sorted span list (bounded by the document's own length) — nothing
    * is collected. */
  def stripSpansFrom(docs: DataFrame, idCol: Column, textCol: Column,
                     spanTable: DataFrame): DataFrame = {
    val spans = spanTable
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(
        col("span_start"), col("span_end")))).as("spans"))
    val d = docs.select(idCol.as("doc_id"), textCol.as("__text"))
    // fold over the sorted, non-overlapping spans: acc carries the kept
    // prefix and the cursor (end of the last cut); each span appends the
    // clear segment [cur, start) and advances the cursor to its end
    val cleaned = aggregate(
      col("spans"),
      struct(lit("").as("acc"), lit(0L).as("cur")),
      (st, sp) => struct(
        concat(st.getField("acc"),
          col("__text").substr(
            (st.getField("cur") + 1).cast("int"),
            (sp.getField("span_start") - st.getField("cur")).cast("int")))
          .as("acc"),
        sp.getField("span_end").as("cur")),
      st => concat(st.getField("acc"),
        col("__text").substr((st.getField("cur") + 1).cast("int"),
          (length(col("__text")) - st.getField("cur")).cast("int"))))
    d.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("spans").isNull, col("__text"))
          .otherwise(cleaned).as("clean_text"))
  }
}
