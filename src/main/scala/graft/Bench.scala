package graft

/** Catalog benchmark: one JSON line with the catalog's total first-
  * execution seconds, and one record per lane run in bench_detail.json.
  *
  * Honesty rules:
  *  - every lane runs through [[Harness.runLane]]: the noop sink, not
  *    count() (count() lets Catalyst prune projected columns and drop
  *    sorts), construction inside the timer, one [[LaneRun]] record per
  *    run;
  *  - nothing runs a lane before its timed first execution: the cold
  *    number includes codegen, JIT and every once-per-JVM derived-table
  *    build the lane triggers (its `build_s` splits the builds out);
  *  - each lane runs cold then immediately warm (adjacent, so the warm
  *    number is steady state for THAT lane, not whatever the JVM looked
  *    like 200 lanes later), with Harness.teardown after each run so one
  *    run's cached state never taxes the next;
  *  - failures are never swallowed into a fake timing: a failed lane
  *    reports -1 AND its error;
  *  - the contract line is COMPACT and printed LAST: its reader keeps a
  *    bounded output tail and parses the line with json.loads, so it
  *    must be short, bare (no sbt "[info] " prefix — see build.sbt
  *    outputStrategy), and final.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("graft-bench")
    val cpus = Harness.cpus
    // file-index + parquet-footer bootstrap and one noop scan of every
    // table, so the OS page cache is hot before the first lane (r14: the
    // first lane against `documents` otherwise paid the one-time disk
    // read — 7.19 s cold, 1.13 s warm). Table I/O is catalog state, not
    // lane work; Spark's own caches are still cleared per run. Guarded
    // per table: a loader failure here must not kill the bench (r9) —
    // the lane that reads the table reports the real error.
    Tables.names.foreach { n =>
      try {
        val t = if (n == "events") Tables.events(spark, sfDir)
                else Tables.load(spark, sfDir, n)
        t.write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] warmup for table $n failed: ${e.getMessage}")
      }
    }

    // SPARK_GRAFT_SKIP: comma-separated lane names to exclude — for
    // off-contract scale runs only (the driver never sets it). Exists
    // because q_allpairs' FULL pair list is output-wall-bound at 100×
    // under ScaleGen replication (~9.7B rows — inherent to the
    // semantics, SCALE.md; its linear-size compact form stays in).
    // Skipped names are listed in the contract line so a filtered run
    // can never pass as a full one.
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // fixed-work (cpu, shuffle, write) probes + code-cache occupancy at
    // (early, mid, late): box/JVM drift within the run is bounded by
    // three records, so "box moved" separates from "lane regressed".
    // The early point is also the JVM's first Spark job, so session and
    // compiler start-up land there instead of on the first lane.
    val sentinels = scala.collection.mutable.LinkedHashMap.empty[String, Sentinel.Point]
    sentinels("early") = Sentinel.point(spark)
    // deterministic run order (Map hash order changes whenever a lane
    // is added, silently shifting which lane absorbs residual JIT)
    val plan = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => skip.contains(n) }
    val midAt = plan.size / 2
    val results = plan.zipWithIndex.map { case ((n, f), idx) =>
      if (idx == midAt && idx > 0) sentinels("mid") = Sentinel.point(spark)
      val cold = Harness.runLane(spark, f, sfDir)
      // r14: tear down BETWEEN cold and warm too — the warm run builds
      // new DataFrames, so the cold run's pinned blocks are dead weight
      // it would pay for (r13: q_minhash_recall warm 2.7× cold).
      // JIT/codegen caches survive the teardown, which is what "warm"
      // measures.
      Harness.teardown(spark)
      val warm = Harness.runLane(spark, f, sfDir)
      Harness.teardown(spark)
      (n, cold, warm)
    }
    sentinels("late") = Sentinel.point(spark)

    def lanesJson(v: ((String, LaneRun, LaneRun)) => String): String =
      results.map(r => s"${Json.str(r._1)}:${v(r)}").mkString("{", ",", "}")
    def secs(r: LaneRun): String =
      if (r.error.isDefined) "-1" else Json.num(r.seconds)
    val errors = results
      .flatMap { case (n, c, w) =>
        c.error.orElse(w.error).map(e => s"${Json.str(n)}:${Json.str(e)}") }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, c, _) if c.error.isEmpty => c.seconds }.sum
    // r14 honesty assertion: warm must not exceed cold by more than
    // 1.2× + 0.5 s — looser than box wobble, tight enough to catch the
    // state-driven 2–5× inversions (r13's q_minhash_recall). Every
    // violation is named in the detail file.
    val warmInversions = results.collect {
      case (n, c, w) if c.error.isEmpty && w.error.isEmpty &&
        w.seconds > c.seconds * 1.2 + 0.5 => n
    }.sorted
    warmInversions.foreach(n =>
      System.err.println(s"[bench] WARM>COLD inversion: $n"))
    val detail =
      s"""{"metric":"total_cold","value":${Json.num(total)},"unit":"sec",""" +
      s""""queries_cold":${lanesJson(r => secs(r._2))},""" +
      s""""queries_warm":${lanesJson(r => secs(r._3))},""" +
      s""""build_cold":${lanesJson(r => Json.num(r._2.buildSeconds))},""" +
      s""""build_warm":${lanesJson(r => Json.num(r._3.buildSeconds))},""" +
      s""""errors":$errors,""" +
      s""""skipped":${skip.toSeq.sorted.map(Json.str).mkString("[", ",", "]")},""" +
      s""""warm_inversions":${warmInversions.map(Json.str).mkString("[", ",", "]")},""" +
      s""""sentinel":${sentinels.map { case (k, p) => s""""$k":${p.json}""" }
        .mkString("{", ",", "}")},""" +
      s""""lanes":${lanesJson(r => s"""{"cold":${r._2.json},"warm":${r._3.json}}""")},""" +
      s""""sf":${Json.str(sfDir)},"cpus":$cpus}"""
    // the fixed path the contract line names, plus a run-qualified copy
    // so a run at another core count or SF never overwrites this one's
    val sfName = new java.io.File(sfDir).getName
    Seq("bench_detail.json", s"bench_detail_c${cpus}_$sfName.json").foreach { f =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(f), detail.getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"[bench] writing $f failed: $e") }
    }

    spark.stop()
    // contract line: LAST line of stdout, bare JSON, compact. The driver
    // keeps only a ~2000-char output TAIL and json.loads the last line,
    // so the line carries only scalars and points at bench_detail.json
    // for the per-lane records. A lane counts as errored if EITHER run
    // failed, so the count always matches the errors map.
    val nErr = results.count { case (_, c, w) => c.error.orElse(w.error).isDefined }
    val skipNote = if (skip.isEmpty) "" else s""","skipped":${skip.size}"""
    val line = s"""{"metric":"total","value":${Json.num(total)},"unit":"sec","n":${results.size},"errors":$nErr$skipNote,"sf":"$sfDir","detail":"bench_detail.json"}"""
    // hard guarantee: never exceed the driver's tail, whatever sfDir is
    println(if (line.length <= 1500) line
            else s"""{"metric":"total","value":${Json.num(total)},"unit":"sec","n":${results.size}}""")
  }
}
