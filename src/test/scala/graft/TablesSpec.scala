package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Tables.load infers a file version's schema once: later loads of the
  * same version run no job, a rewritten file is re-inferred, and the
  * session's parquet read confs are part of the version. */
class TablesSpec extends AnyFunSuite with SparkSpec {

  private def withDir[T](f: Path => T): T = {
    val d = Files.createTempDirectory("tables-spec")
    try f(d) finally Fs.deleteRec(d)
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  test("a second load of an unchanged file runs no job") {
    withDir { d =>
      import spark.implicits._
      Seq((1L, "a", Seq(1.5f)), (2L, "b", Seq.empty[Float])).toDF("k", "s", "arr")
        .write.parquet(s"$d/t.parquet")
      val first = Tables.load(spark, d.toString, "t")
      val (again, jobs) = jobsDuring {
        val df = Tables.load(spark, d.toString, "t"); df.schema; df
      }
      assert(jobs == 0, s"re-reading a known file version ran $jobs job(s)")
      assert(again.schema == first.schema)
      assert(bag(again.collect().toSeq) == bag(first.collect().toSeq))
    }
  }

  test("rewriting the file with an extra column shows it on the next load") {
    withDir { d =>
      import spark.implicits._
      val path = s"$d/t.parquet"
      Seq((1L, "a")).toDF("k", "s").write.parquet(path)
      assert(Tables.load(spark, d.toString, "t").columns.toSeq == Seq("k", "s"))
      Seq((1L, "a", 3.0)).toDF("k", "s", "extra").write.mode("overwrite").parquet(path)
      val now = Tables.load(spark, d.toString, "t")
      assert(now.columns.toSeq == Seq("k", "s", "extra"))
      assert(now.schema == spark.read.parquet(path).schema)
      assert(now.collect().toSeq.map(_.getDouble(2)) == Seq(3.0))
    }
  }

  test("events under nanosAsLong true and false gets the schema inference gives under each") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    withDir { d =>
      // the older generator vintage: ts as parquet TIMESTAMP(NANOS)
      val path = s"$d/events.parquet"
      val pq = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; " +
          "required int64 ts (TIMESTAMP(NANOS,true)); }")
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
        .withType(pq).build()
      try w.write(new SimpleGroupFactory(pq).newGroup()
        .append("event_id", 1L).append("ts", 1600000000123456000L))
      finally w.close()

      val before = spark.conf.getOption(NanosAsLong)
      // the schema, or the class of the error reading it raises
      def outcome(t: scala.util.Try[org.apache.spark.sql.types.StructType]) =
        t.toEither.left.map(_.getClass.getName)
      def inferred() = outcome(scala.util.Try(spark.read.parquet(path).schema))
      def loaded() =
        outcome(scala.util.Try(Tables.load(spark, d.toString, "events").schema))
      try {
        spark.conf.set(NanosAsLong, "false")
        val underFalse = inferred()
        assert(loaded() == underFalse)

        val ev = Tables.events(spark, d.toString)
        assert(spark.conf.get(NanosAsLong) == "true")
        assert(inferred().map(_("ts").dataType) == Right(LongType))
        assert(loaded() == inferred())
        assert(ev.schema("ts").dataType == TimestampType)
        assert(ev.select(unix_micros(col("ts"))).head().getLong(0) == 1600000000123456L)

        // back to false: the schema known for `true` must not be served
        spark.conf.set(NanosAsLong, "false")
        assert(loaded() == underFalse)
      } finally before match {
        case Some(v) => spark.conf.set(NanosAsLong, v)
        case None => spark.conf.unset(NanosAsLong)
      }
    }
  }
}
