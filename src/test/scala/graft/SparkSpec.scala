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
}
