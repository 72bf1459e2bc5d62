package graft

import graft.etl._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class EtlSpec extends AnyFunSuite with SparkSpec {

  private def tmpDir(name: String): String = {
    val p = Paths.get(s"target/test-tmp/$name-${System.nanoTime()}")
    Files.createDirectories(p)
    p.toString
  }

  test("CSV ingest: header + inferSchema + DROPMALFORMED") {
    val dir = tmpDir("csv")
    Files.writeString(Paths.get(s"$dir/in.csv"),
      "id,amount,when\n1,10.5,2024-01-01\n2,20.25,2024-01-02\nbad-row-no-commas\n3,x,2024-01-03\n")
    val df = CsvIngest.read(spark, s"$dir/in.csv")
    // malformed rows dropped; schema inferred (id int, amount maybe string because of 'x')
    assert(df.columns.toSeq == Seq("id", "amount", "when"))
    assert(df.count() >= 2)
  }

  test("Conform: null columns cast to string, partitions injected zero-padded") {
    import spark.implicits._
    val df = Seq((1L, "2024-03-07")).toDF("id", "d")
      .withColumn("d", $"d".cast("timestamp"))
      .withColumn("all_null", lit(null))
    val out = Conform.injectDatePartitions(Conform.castNullColumns(df), $"d")
    assert(out.schema("all_null").dataType.typeName == "string")
    val r = out.select($"year", $"month", $"day").collect().head
    assert(r.getString(0) == "2024" && r.getString(1) == "03" && r.getString(2) == "07")
  }

  test("Conform: catalog type normalization (decimal(10,0) → int)") {
    import org.apache.spark.sql.types._
    assert(Conform.normalizeType(DecimalType(10, 0)) == IntegerType)
    assert(Conform.normalizeType(NullType) == StringType)
    assert(Conform.normalizeType(DoubleType) == DoubleType)
  }

  test("PartitionedWriter: dynamic overwrite replaces only touched partitions") {
    import spark.implicits._
    val loc = tmpDir("pw")
    val day1 = Seq((1L, "2024", "01", "01"), (2L, "2024", "01", "02"))
      .toDF("id", "year", "month", "day")
    PartitionedWriter.write(day1, loc)
    // overwrite only day 02 with new content
    val day2 = Seq((99L, "2024", "01", "02")).toDF("id", "year", "month", "day")
    PartitionedWriter.write(day2, loc)
    val back = spark.read.parquet(loc)
    assert(back.filter($"day" === "01").count() == 1, "untouched partition survived")
    val d2 = back.filter($"day" === "02").select($"id").collect().map(_.getLong(0))
    assert(d2.toSeq == Seq(99L), "touched partition replaced")
  }

  test("PartitionedWriter: the overwrite mode is per write, the session conf is unchanged") {
    import spark.implicits._
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      val loc = tmpDir("pw-conf")
      PartitionedWriter.write(Seq((1L, "2024", "01", "01"), (2L, "2024", "01", "02"))
        .toDF("id", "year", "month", "day"), loc)
      assert(spark.conf.get(key) == "static")
      // a re-run of one date replaces only that date's partition
      PartitionedWriter.write(Seq((99L, "2024", "01", "02"))
        .toDF("id", "year", "month", "day"), loc)
      assert(spark.conf.get(key) == "static")
      val back = spark.read.parquet(loc).select($"id", $"day".cast("int")).as[(Long, Int)]
      assert(bag(back.collect().toSeq) == bag(Seq((1L, 1), (99L, 2))))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("partitioned layout enables partition pruning at read time") {
    import spark.implicits._
    val loc = tmpDir("prune")
    val conformed = Conform.injectDatePartitions(
      Tables.orders(spark, sf), $"o_orderdate")
    PartitionedWriter.write(conformed, loc)
    val pruned = spark.read.parquet(loc).filter($"year" === "1996")
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("isnotnull(year") || scan.contains("(year"),
      s"no partition filter pushed: $scan")
    // pruning means only 1996 files are listed, not the whole table
    assert(pruned.count() ==
      conformed.filter($"year" === "1996").count())
  }

  test("PartitionedWriter: orc/csv/json round-trips preserve rows") {
    import spark.implicits._
    val df = Seq((1L, 3.5, "2024", "01", "01"), (2L, 4.5, "2024", "01", "02"))
      .toDF("id", "v", "year", "month", "day")
    Seq("orc", "csv", "json").foreach { fmt =>
      val loc = tmpDir(s"fmt-$fmt")
      PartitionedWriter.write(df, loc, format = fmt)
      val back = spark.read.format(fmt)
        .option("header", "true").option("inferSchema", "true").load(loc)
      assert(back.count() == 2, s"$fmt round-trip lost rows")
      assert(back.columns.toSet == df.columns.toSet, s"$fmt round-trip lost columns")
    }
    intercept[IllegalArgumentException] {
      PartitionedWriter.write(df, tmpDir("bad"), format = "avro")
    }
  }

  test("SkewJoin: salted join equals plain join") {
    import spark.implicits._
    val fact = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_suppkey", $"l_quantity")
    val build = Tables.supplier(spark, sf)
      .select($"s_suppkey".as("l_suppkey"), $"s_name")
    val plain = fact.join(build, "l_suppkey")
    val salted = operators.SkewJoin.saltedInnerJoin(
      fact, build, "l_suppkey", $"l_orderkey", saltBuckets = 8)
    assert(salted.count() == plain.count())
    // same multiset of (orderkey, suppkey, name)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy($"l_orderkey", $"l_suppkey", $"s_name").count()
    assert(key(plain).except(key(salted)).count() == 0)
    assert(key(salted).except(key(plain)).count() == 0)
  }

  test("CatalogRegistry: upsert registers view, normalizes types, bumps version") {
    import spark.implicits._
    val reg = new CatalogRegistry(spark)
    val df = Seq((1L, "x")).toDF("id", "name")
    val m0 = reg.upsert(df, "db1", "t1", partitionKeys = Nil)
    assert(m0.version == 0 && reg.tableExists("db1", "t1"))
    val m1 = reg.upsert(df, "db1", "t1", partitionKeys = Nil)
    assert(m1.version == 1)
    assert(spark.sql("SELECT count(*) FROM t1").collect().head.getLong(0) == 1)
    val cat = reg.toDF
    assert(cat.filter($"table_name" === "t1" && $"table_version" === 1).count() == 2)
  }

  test("Conform: static partition injection stamps every row with the job args") {
    import spark.implicits._
    // a file spanning event dates still lands wholly in the run's partition
    // (add_partition, etl_raw_to_conformed.py:163-173)
    val df = Seq(("2024-03-07", 1L), ("2023-12-31", 2L)).toDF("d", "id")
      .withColumn("d", $"d".cast("timestamp"))
    val out = Conform.injectStaticPartitions(df, "2024", "03", "07")
    val parts = out.select($"year", $"month", $"day").distinct().collect()
    assert(parts.length == 1)
    assert(parts.head.toSeq == Seq("2024", "03", "07"))
  }

  test("CatalogRegistry: metastore table over a partitioned write + RECOVER PARTITIONS") {
    import spark.implicits._
    val loc = new java.io.File(tmpDir("ext")).getAbsolutePath
    val reg = new CatalogRegistry(spark)
    val day1 = Seq((1L, 10.5, "2024", "01", "01"), (2L, 20.5, "2024", "01", "02"))
      .toDF("id", "v", "year", "month", "day")
    PartitionedWriter.write(day1, loc)
    val meta = reg.upsertExternal(day1, "graft_ext", "t_ext", loc)
    assert(meta.storage.serdeLibrary.contains("ParquetHiveSerDe"))
    // queryable BY NAME, with partition pruning available
    assert(spark.sql("SELECT count(*) FROM graft_ext.t_ext").collect().head.getLong(0) == 2)
    // out-of-band partition arrival (another writer drops a new date dir)
    Seq((3L, 30.5)).toDF("id", "v").write.mode("overwrite")
      .parquet(s"$loc/year=2024/month=01/day=03")
    reg.recoverPartitions("graft_ext", "t_ext")
    assert(spark.sql("SELECT count(*) FROM graft_ext.t_ext WHERE day = '03'")
      .collect().head.getLong(0) == 1)
    assert(spark.sql("SELECT count(*) FROM graft_ext.t_ext").collect().head.getLong(0) == 3)
    // upsert again: version bumps, data untouched (external semantics)
    val meta2 = reg.upsertExternal(day1, "graft_ext", "t_ext", loc)
    assert(meta2.version == 1)
    assert(spark.sql("SELECT count(*) FROM graft_ext.t_ext").collect().head.getLong(0) == 3)
  }

  test("SqlTransform: resource SQL runs against registered views") {
    Tables.registerAll(spark, sf)
    val out = SqlTransform.fromResource(spark, "purpose_built_lineitem")
    assert(out.columns.contains("total_qty") && out.count() > 0)
  }

  test("AuditLog: latest state per execution with correct update counts") {
    import spark.implicits._
    val log = Seq(
      ("e1", "STARTED", "2024-01-01 10:00:00", 1L),
      ("e1", "RUNNING", "2024-01-01 10:05:00", 2L),
      ("e1", "SUCCEEDED", "2024-01-01 10:30:00", 3L),
      ("e2", "STARTED", "2024-01-01 11:00:00", 4L),
      ("e2", "FAILED", "2024-01-01 11:02:00", 5L))
      .toDF("exec", "status", "ts", "seq")
      .withColumn("ts", $"ts".cast("timestamp"))
    val latest = AuditLog.latestState(log, $"exec", $"status", $"ts", $"seq")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(4))).toMap
    assert(latest("e1") == ("SUCCEEDED", 3L))
    assert(latest("e2") == ("FAILED", 2L))
  }

  test("Multimodal: featurize is deterministic over payload bytes") {
    import spark.implicits._
    val media = operators.Multimodal.asMedia(
      Tables.documents(spark, sf).limit(10), $"doc_id", $"text")
    val out = operators.Multimodal.featurize(media).collect()
    assert(out.length == 10)
    out.foreach { m =>
      val (w, h, f) = operators.Multimodal.decodeStub(Array.fill(m.n_bytes.toInt)(0), m.fmt)
      assert(m.width == w && m.height == h && m.n_frames == f)
    }
  }
}
