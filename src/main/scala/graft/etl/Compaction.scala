package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Latest-record-wins compaction — the merge/upsert primitive of an
  * append-only lake: collapse a CDC/append history to the newest row per
  * business key (the batch form of what the reference's audit-trail
  * lambda does per-update in DynamoDB, generalized to any key/version).
  *
  * One shuffle on the key; with the GraftExtensions rules in place the
  * row_number()=1 shape rewrites to the bounded TopKPerGroup operator
  * (k=1 heaps map-side), so the shuffle carries at most one candidate
  * row per key per input partition instead of the whole history. */
object Compaction {

  /** Newest row per `keys`, "newest" = greatest `version` tuple
    * (compared lexicographically; make it total for determinism). */
  def latestByKey(df: DataFrame, keys: Seq[Column], version: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(version.map(_.desc): _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Small-file compaction PLANNING (the OPTIMIZE/bin-packing step of a
    * lakehouse table service): assign every file of a partition to an
    * output bin of ~`target` size.
    *
    * Files are laid out largest-first (size desc, id asc — total order)
    * and cut into bins wherever the running size before a file crosses a
    * `target` multiple: bin = floor(preceding_size / target). Each bin
    * spans one `target`-wide band of the cumulative size, so a partition
    * packs into exactly floor(total/target)+1 bins — within one output
    * file of the size-floor optimum (a bin can undershoot `target` only
    * by as much as its predecessor's last file overshot, and the
    * largest-first layout pushes the small files to the tail where
    * overshoot shrinks).
    * Unlike greedy first-fit (a sequential fold no engine parallelizes),
    * the cumulative-sum rule is ONE window over the file inventory —
    * pure metadata, ~1 row per file: planning 100 TB of files shuffles
    * megabytes, and the plan then drives the actual rewrite's
    * repartition-by-bin write.
    *
    * Returns the inventory with `bin` appended. */
  def binPack(files: DataFrame, partKeys: Seq[Column], size: Column,
              id: Column, target: Long): DataFrame = {
    val w = Window.partitionBy(partKeys: _*)
      .orderBy(size.desc, id.asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    files.withColumn("_before", coalesce(sum(size).over(w), lit(0L)))
      .withColumn("bin", (col("_before") / target).cast(
        org.apache.spark.sql.types.LongType))
      .drop("_before")
  }
}
