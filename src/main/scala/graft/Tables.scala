package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TPC-H-ish test tables (TESTDATA.md).
  *
  * One parquet file per table under an sf directory. All graft queries read
  * through here so the scan options (and any future source abstraction)
  * stay in one place.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per input path, the schema Spark inferred for it and the version it
    * was inferred at: the files' [[operators.DerivedCache.fingerprint]]
    * plus the session's parquet read confs (`nanosAsLong` changes a
    * column's type). One entry per path; a new version replaces it. */
  private val known =
    new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]()

  /** The table `name` under `sfDir`. The first read of a file version
    * infers its schema through Spark (a one-task footer job); later reads
    * of the same version hand Spark that schema and run no job. Spark
    * marks a file relation all-nullable either way, so both reads expose
    * the same schema. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val version = operators.DerivedCache.fingerprint(Seq(path)) + "|" +
      spark.conf.getAll.toSeq.sorted.collect {
        case (k, v) if k.startsWith("spark.sql.parquet.") ||
          k.startsWith("spark.sql.legacy.parquet.") => s"$k=$v"
      }.mkString(",")
    Option(known.get(path)) match {
      case Some((`version`, schema)) => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        known.put(path, (version, df.schema))
        df
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** The events table's `ts` physical type depends on the generator
    * vintage: older drops wrote parquet TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects — read nanos as long via the legacy conf,
    * then divide to µs; exact, the generator emits µs precision), newer
    * drops write TIMESTAMP(MICROS) directly. Dispatch on the actual
    * loaded type so both vintages read identically. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // parquet isAdjustedToUTC=false reads as TIMESTAMP_NTZ, which
        // rejects casts (e.g. to BIGINT) that every consumer of the old
        // long-nanos path relied on; normalize to the session-zoned type
        // (sessions here pin UTC) so all vintages expose one ts type.
        raw.withColumn("ts",
          raw("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every table as a temp view (used by the SQL-transform path,
    * mirroring how the reference registers Glue catalog tables for
    * `spark.sql`; etl_conformed_to_purposebuilt.py:199). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
}
