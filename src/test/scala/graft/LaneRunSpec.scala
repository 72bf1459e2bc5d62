package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The lane meter (Harness.runLane): failures are records, stage counts
  * are per run, and one listener serves every run of a session. */
class LaneRunSpec extends AnyFunSuite with SparkSpec {

  private val oneShuffle: (SparkSession, String) => DataFrame = (s, _) =>
    s.range(0, 1000, 1, 4).groupBy((col("id") % 10).as("k")).count()

  private val threeShuffles: (SparkSession, String) => DataFrame = (s, _) =>
    s.range(0, 1000, 1, 4).groupBy((col("id") % 100).as("k")).count()
      .groupBy((col("k") % 10).as("k")).agg(sum(col("count")).as("n"))
      .join(s.range(0, 10, 1, 3).withColumnRenamed("id", "k"), "k")

  test("a lane that throws is recorded with its error, not rethrown") {
    val atBuild = Harness.runLane(spark,
      (_, _) => throw new IllegalStateException("boom at construction"), sf)
    assert(atBuild.error.contains("IllegalStateException: boom at construction"))
    assert(atBuild.seconds >= 0)
    assert(atBuild.stages == 0)

    val failing = udf((x: Long) => {
      if (x == 7) throw new IllegalArgumentException("bad row"); x })
    val atRun = Harness.runLane(spark,
      (s, _) => s.range(0, 100, 1, 2).select(failing(col("id")).as("x")), sf)
    assert(atRun.error.isDefined, "a task failure must surface as the error")
    assert(atRun.seconds >= 0)
    assert(atRun.json.contains("\"error\":\""))
  }

  test("a one-shuffle lane reports a map stage and a result stage") {
    val r = Harness.runLane(spark, oneShuffle, sf)
    assert(r.error.isEmpty, r.error)
    assert(r.stages >= 2, s"expected >= 2 stages, got ${r.stages}")
    assert(r.stageWall >= 0 && r.buildSeconds >= 0 && r.codegenCompiles >= 0)
    assert(r.topStages.forall(_.wall > 0.5))
    assert(r.json.contains(s""""n_stages":${r.stages}"""))
    assert(r.jobs >= 1, s"expected >= 1 job, got ${r.jobs}")
    assert(r.json.contains(s""""n_jobs":${r.jobs}"""))
  }

  test("repeated runs share one listener and never inherit earlier stages") {
    val sc = spark.sparkContext
    assert(StageMeter.on(sc) eq StageMeter.on(sc), "one meter per SparkContext")
    // a slow listener on the same bus queue holds back every event behind
    // it, so stage events are still in flight when a run returns
    val slow = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Thread.sleep(150)
    }
    sc.addSparkListener(slow)
    val (first, bigger, again) = try {
      val first = Harness.runLane(spark, oneShuffle, sf)
      val bigger = Harness.runLane(spark, threeShuffles, sf)
      // Spark work outside any metered run must not land in the next record
      spark.range(0, 1000, 1, 4).repartition(3).groupBy(col("id") % 5).count()
        .collect()
      (first, bigger, Harness.runLane(spark, oneShuffle, sf))
    } finally sc.removeSparkListener(slow)
    assert(Seq(first, bigger, again).forall(_.error.isEmpty))
    assert(first.stages >= 2, s"late stage events missed: $first")
    assert(first.jobs >= 1, s"late job events missed: $first")
    assert(bigger.stages > first.stages, s"$bigger vs $first")
    // double counting (two listeners) or carry-over would inflate them
    assert(again.stages == first.stages, s"$again vs $first")
    assert(again.jobs == first.jobs, s"$again vs $first")
  }
}
