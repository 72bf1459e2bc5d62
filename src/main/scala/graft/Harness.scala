package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession, the one lane meter and the
  * one teardown run between catalog lanes. Bench, Verify, every
  * `graft.tools` main and the test suites all get their session here, so
  * a lane runs under the same confs whichever of them runs it.
  *
  * The confs are production settings, not switches: the parameters are
  * only the deployment facts callers differ on (app name, local core
  * count, warehouse dir). `GraftExtensions` is not installed here — every
  * `SparkEntry.queries` lane installs it on the session it is given.
  */
object Harness {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A local session on `cores` threads with one shuffle partition per
    * core. `getOrCreate`: a JVM that already has a session gets it back
    * unchanged. */
  def session(appName: String = "graft", cores: Int = cpus,
              warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // r17 (ADVICE): the triangle lane's broadcast-adjacency plan
      // collects up to 50 M-element adjacency rows (~400 MB raw, more
      // serialized) through TWO broadcast exchanges; the 1 g default
      // would abort near the threshold instead of degrading to the
      // shuffle plan. 8 g comfortably exceeds the worst case.
      .config("spark.driver.maxResultSize", "8g")
      // r17 (VERDICT r16 ask 4, measured A/B on a clean box — SCALE.md
      // "maxPartitionBytes 128 MB → 32 MB"): mid-size derived-table
      // scans (DocTerms ≈ 100–200 MB at sf1) pack into 1–2 splits at
      // the default 128 MB, idling 30 of 32 cores on exactly the scan
      // stages a degraded disk hurts most. 32 MB fans them out 4–8× at
      // negligible small-file cost (openCost packing still applies):
      // sf1 cold q_bmw 191→82 s, q_wand 34→14 s, q_bm25_pruned 15→7 s,
      // and the run-to-run spread collapses (0.01–0.3 s vs 16–29 s).
      .config("spark.sql.files.maxPartitionBytes", "33554432")
      // r17 (VERDICT r16 ask 2, SCALE.md "q_minhash_recall's repeated
      // warm heavy-CPU signature"): the default 100-entry whole-stage-
      // codegen cache THRASHES on stage-rich lanes (q_minhash_recall
      // alone generates 92 classes), so every repeat execution
      // recompiled ~40 generated classes and re-paid HotSpot JIT on
      // each (warm runs showed codegen_compiles=33-43 and jit_ms=12-15k
      // every run; at 4096 entries the repeats drop to 0 and steady
      // state improves 5.8->4.3 s at sf0.1). Static conf: it only takes
      // effect on the JVM's first session. ~100-200 MB worst-case heap
      // for cached sources.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // r17, same investigation: Spark embeds the per-query codegen
      // stage ID in the generated CLASS NAME, and AQE materializes
      // stages in a nondeterministic order, so identical plans get
      // renumbered between runs - every renumbered fragment is a
      // codegen-cache MISS even with the larger cache (q_bm25_pruned
      // recompiled 46-112 classes per repeat run; with the id out of
      // the class name, 0-2). The id is cosmetic (debug stack traces).
      .config("spark.sql.codegen.useIdInClassName", "false")
      // plan evidence and plan pins grep scan metadata (PushedFilters/
      // ReadSchema); the 100-char default silently truncates longer
      // filter lists, so a pin's hit-or-miss would depend on the PRINT
      // length of unrelated predicates earlier in the list
      .config("spark.sql.maxMetadataStringLength", "4096")
    warehouseDir.foreach(d => b.config("spark.sql.warehouse.dir", d))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.quietKnownNoise()
    spark
  }

  /** Run one lane through the noop sink and meter it. Construction sits
    * inside the timer (several operators do real work eagerly while the
    * DataFrame is built), and the noop sink materializes every row and
    * column — count() would let Catalyst prune the work being measured.
    * A failure is recorded in the returned [[LaneRun]], never rethrown.
    * Stage totals cover exactly this run: the listener bus is drained
    * before the run starts and again before the snapshot. */
  def runLane(spark: SparkSession,
              f: (SparkSession, String) => org.apache.spark.sql.DataFrame,
              dir: String): LaneRun = {
    val meter = StageMeter.on(spark.sparkContext)
    meter.drain(spark.sparkContext)
    meter.snapshot()
    val jit0 = Sentinel.jitMs()
    val cg0 = Sentinel.codegenCompiles()
    val b0 = operators.BuildMeter.seconds
    val t0 = System.nanoTime()
    val error =
      try { f(spark, dir).write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}")
      }
    val seconds = (System.nanoTime() - t0) / 1e9
    val build = operators.BuildMeter.seconds - b0
    val jit1 = Sentinel.jitMs()
    val cg1 = Sentinel.codegenCompiles()
    meter.drain(spark.sparkContext)
    val (top, stages, stageWall) = meter.snapshot()
    LaneRun(seconds, error, build,
      if (jit0 < 0 || jit1 < 0) None else Some(jit1 - jit0),
      cg1 - cg0, stages, stageWall, top)
  }

  /** Drop everything a finished lane left behind so the next one is
    * measured (and computed) independently: cached plans, persisted
    * and localCheckpoint'd RDDs, loop-checkpoint files, and the dead
    * broadcast/shuffle debris only a GC lets Spark reclaim. Nothing
    * from a finished lane is read again — each run builds fresh
    * DataFrames. Call it outside any timed window. */
  def teardown(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    // the library's operator cache registry; the getPersistentRDDs sweep
    // below then catches anything persisted outside it
    operators.OpCaches.releaseAll()
    // blocking (r15): an async unpersist lets block removal bleed into
    // the next timed run. Unpersist BEFORE the checkpoint files go: a
    // persisted frame whose lineage reads a checkpoint parquet becomes
    // unrecomputable once that file is deleted.
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    // r16: 480 runs' accumulated checkpoint generations otherwise share
    // the local disk + page cache with every later run's shuffles
    operators.Ckpt.clearAll(spark)
    // Spark's ContextCleaner reclaims dead broadcasts/shuffles/RDD
    // blocks only when the JVM GCs their weak references; without it
    // late lanes paid for earlier lanes' leftovers (identical queries
    // measured 5-8× slower at the tail of a run than in isolation).
    // One explicit GC costs ~100 ms.
    System.gc()
  }
}
