package graft.etl

import org.apache.spark.sql.DataFrame

/** Conformed/purpose-built zone writer.
  *
  * Mirrors etl_raw_to_conformed.py:191-216: dynamic partition overwrite +
  * `partitionBy(year, month, day)` parquet. Dynamic mode means a re-run of
  * one ingest date replaces only that date's partitions — at 100 TB the
  * write touches a single date directory, never the whole table.
  */
object PartitionedWriter {
  val DefaultPartitionKeys: Seq[String] = Seq("year", "month", "day")

  /** Formats the conformed/purpose-built zones support. Parquet is the
    * reference's classification and the default; ORC for engines that
    * prefer it; CSV/JSON for export zones (no column pruning or predicate
    * pushdown — not for analytical reads at scale). */
  val SupportedFormats: Set[String] = Set("parquet", "orc", "csv", "json")

  def write(df: DataFrame, location: String,
            partitionKeys: Seq[String] = DefaultPartitionKeys,
            format: String = "parquet"): Unit = {
    require(SupportedFormats.contains(format), s"unsupported format: $format")
    // per-write option, not the session conf: a later mode("overwrite")
    // elsewhere in the JVM keeps the session's own mode
    var w = df.write
      .partitionBy(partitionKeys: _*)
      .format(format)
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
    if (format == "csv") w = w.option("header", "true")
    w.save(location)
  }
}
