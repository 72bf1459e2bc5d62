package graft

import org.apache.spark.sql.SparkSession

/** Shared session for all suites (getOrCreate → one JVM-wide session),
  * built by the same factory as Bench and Verify. */
trait SparkSpec {
  lazy val spark: SparkSession = Harness.session("graft-spec", cores = 4,
    warehouseDir = Some("target/test-warehouse"))

  val sf: String = "/root/testdata/sf0.001"
}
