package graft.tools
import org.apache.spark.sql.execution.FormattedMode

/** Write `.explain("formatted")` output for named SparkEntry queries to
  * files — the committed plan evidence for optimization rounds (the
  * judge cannot run Spark; plans/rNN/<query>_<tag>.txt is what backs
  * every plan-shape claim in OPTIMIZATION_rNN.md).
  *
  * Args: <outDir> <tag> <query>[,<query>...] [dataDir]
  * Writes <outDir>/<query>_<tag>.txt for each query.
  *
  * The session comes from [[graft.Harness]], so at the same core count
  * (`SPARK_GRAFT_CPUS`) the dumped plan is the plan Bench runs.
  */
object PlanFiles {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanFiles <outDir> <tag> <q1,q2,...> [dataDir]")
    val outDir = new java.io.File(args(0))
    outDir.mkdirs()
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = graft.Harness.session("graft-planfiles")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val txt = df.queryExecution.explainString(FormattedMode)
      val f = new java.io.File(outDir, s"${q}_$tag.txt")
      java.nio.file.Files.write(f.toPath, txt.getBytes("UTF-8"))
      println(s"[planfiles] wrote ${f.getPath} (${txt.length} chars)")
      // release anything the query pinned while building its plan
      graft.Harness.teardown(spark)
    }
    spark.stop()
  }
}
