package graft

import org.apache.spark.sql.SparkSession

/** Shared session for all suites (getOrCreate → one JVM-wide session),
  * built by the same factory as Bench and Verify. */
trait SparkSpec {
  lazy val spark: SparkSession = Harness.session("graft-spec", cores = 4,
    warehouseDir = Some("target/test-warehouse"))

  val sf: String = "/root/testdata/sf0.001"

  /** Row → count: equality over these fails on a duplicated or dropped
    * row, which a Set comparison lets pass. */
  def bag[T](rows: Iterable[T]): Map[T, Int] =
    rows.groupBy(identity).view.mapValues(_.size).toMap

  /** `body`'s value and the Spark jobs it started, counted by the lane
    * meter ([[Harness.runLane]]'s `n_jobs`). */
  def jobsDuring[T](body: => T): (T, Long) = {
    val sc = spark.sparkContext
    val meter = StageMeter.on(sc)
    meter.drain(sc)
    meter.snapshot()
    val r = body
    meter.drain(sc)
    (r, meter.snapshot()._2)
  }
}
