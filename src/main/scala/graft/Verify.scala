package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val spark = Harness.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // box-state bounds for the correctness run too (VERDICT r16 ask 7):
    // the verify pass is the same long-lived JVM shape as the bench, so
    // when a future round argues about a slow verify, the record should
    // carry the same (cpu, shuffle, write) fixed-work triples. Written
    // to the REPO root, not outDir — the driver treats outDir entries
    // as query results.
    val sentinels = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def sentinelPoint(tag: String): Unit = {
      val c = Sentinel.cpuRun(spark)
      val sh = Sentinel.shuffleRun(spark)
      val wr = Sentinel.writeRun(spark)
      val (ccU, ccM) = Sentinel.codeCacheMb()
      sentinels(tag) =
        f"""{"cpu":$c%.3f,"shuffle":$sh%.3f,"write":$wr%.3f,"code_cache_mb":[$ccU%.3f,$ccM%.3f]}"""
      System.err.println(
        f"[verify-sentinel $tag] cpu $c%.3f s  shuffle $sh%.3f s  write $wr%.3f s  code-cache $ccU%.0f/$ccM%.0f MB")
    }
    sentinelPoint("early")
    val plan = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }.toSeq
    val midAt = plan.size / 2
    plan.zipWithIndex.foreach { case ((name, fn), idx) =>
      if (idx == midAt && idx > 0) sentinelPoint("mid")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Harness.teardown(spark)
    }
    sentinelPoint("late")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    try Files.writeString(Paths.get("verify_sentinel.json"),
      sentinels.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}"))
    catch { case e: Throwable =>
      System.err.println(s"[verify] writing verify_sentinel.json failed: $e")
    }
    spark.stop()
  }
}
