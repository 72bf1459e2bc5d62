package graftbench

import graft.{SparkEntry, Tables}
import graft.etl._
import graft.operators.{BuildMeter, Ckpt, Dedup, OpCaches}
import graft.plans.{Gram, SetKernels, Signatures, TextKernels}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLongArray
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One fresh-JVM run of one benchmark workload.
  *
  * The JVM sets up a session, loads the input file indexes and footers,
  * then drives a closed loop from this one thread: each operation (one
  * arriving file through the ETL job, or one catalog lane execution)
  * starts after the previous one finished. Everything is reached through
  * the program's public entry points. Results go to `<out>/run.json`;
  * lane outputs go to `<out>/lanes/<lane>/{first,settled}` for the
  * oracle check, ETL zones to `<out>/zones`.
  *
  * Usage: Main <workload> <inputs> <out> <seconds> <trace>
  *   <launch-epoch-ms> <lanes>
  */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, out, seconds, trace, launchMs, lanes) = args
    val cores = Runtime.getRuntime.availableProcessors
    val work = Paths.get(out).toAbsolutePath.toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "8g")
      .config("spark.sql.files.maxPartitionBytes", "33554432")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Logs.quietKnownNoise()
    val traced = trace == "1"
    val rec = new Recorder(spark, traced)
    val w: Workload = workload match {
      case "etl_arrivals" => new EtlArrivals(spark, inputs, work, rec)
      case "curate_corpus" | "lake_queries" =>
        new Lanes(spark, s"$inputs/lake", work, rec, lanes.split(",").toSeq,
          kernels = traced && workload == "curate_corpus")
    }
    w.load()
    val setupS = (System.currentTimeMillis() - launchMs.toLong) / 1e3
    val res = new Json
    res.num("setup_s", setupS)
    rec.start()
    val t0 = System.nanoTime()
    w.pass(0)
    val firstS = (System.nanoTime() - t0) / 1e9
    // settled passes until `seconds` have passed, at least one; a
    // negative `seconds` measures the first pass only
    var pass = 1
    if (seconds.toDouble >= 0)
      do { w.pass(pass); pass += 1 }
      while ((System.nanoTime() - t0) / 1e9 < seconds.toDouble)
    val bodyS = (System.nanoTime() - t0) / 1e9
    res.num("first_pass_s", firstS).num("body_s", bodyS).num("passes", pass)
      .num("peak_rss_mb", peakRssMb())
    // what the run leaves reachable on the heap once its work is done
    // (caches, derived-table state, anything a teardown missed); the
    // second collection runs after Spark's ContextCleaner had its turn
    // at the broadcasts and shuffles the first one made unreachable
    System.gc()
    Thread.sleep(500)
    System.gc()
    res.num("retained_heap_mb",
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
    res.raw("ops", rec.opsJson)
    w.finish(res)
    if (traced) res.raw("trace", rec.traceJson)
    Files.writeString(Paths.get(s"$work/run.json"), res.toString)
    // nothing of the session is needed any more (its files go with the
    // work dir): end the JVM without Spark's shutdown sequence
    Runtime.getRuntime.halt(0)
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

/** Minimal JSON object writer (the result files are flat numbers,
  * strings and pre-rendered arrays). */
final class Json {
  private val b = ArrayBuffer.empty[String]
  def num(k: String, v: Double): Json = { b += s""""$k":${Json.n(v)}"""; this }
  def str(k: String, v: String): Json = { b += s""""$k":${Json.q(v)}"""; this }
  def raw(k: String, v: String): Json = { b += s""""$k":$v"""; this }
  override def toString: String = b.mkString("{", ",", "}")
}
object Json {
  def n(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** A workload: `load` is its setup (file indexes and footers), `pass(k)`
  * runs every operation once, `finish` adds workload facts to the
  * result after the timed body. */
trait Workload {
  def load(): Unit
  def pass(k: Int): Unit
  def finish(res: Json): Unit
}

/** Operation timings (always) and, when traced, spans and counters.
  *
  * Spans: workload -> operation -> layer call, plus Spark jobs (from the
  * listener) as children of the operation they ran in. Counters are
  * read at operation boundaries from Spark's public listeners, Spark's
  * codegen metrics and the JIT/GC MXBeans. Everything stays in memory
  * and is rendered once at the end. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val t0 = System.nanoTime()
  private def now: Double = (System.nanoTime() - t0) / 1e9

  final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)
  private val spans = ArrayBuffer.empty[Span]
  private val ops = ArrayBuffer.empty[String]
  private val opCounters = ArrayBuffer.empty[String]
  private var current = 0 // innermost open span id; 0 is the workload
  private var nextId = 1

  // listener counters, indexed by Ctr
  private val c = new AtomicLongArray(Ctr.names.size)
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpans = ArrayBuffer.empty[(Double, Double)]
  private val wallToNano = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private def add(i: Int, v: Long): Unit = c.addAndGet(i, v)

  def start(): Unit = if (traced) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobStart.put(e.jobId, e.time)
        add(Ctr.Jobs, 1)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val s = jobStart.remove(e.jobId)
        if (s != null) jobSpans.synchronized {
          jobSpans += ((toRel(s), toRel(e.time)))
        }
        add(Ctr.JobsEnded, 1)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        add(Ctr.Stages, 1)
        add(Ctr.Tasks, i.numTasks)
        if (m != null) {
          add(Ctr.CpuNs, m.executorCpuTime)
          add(Ctr.ScanBytes, m.inputMetrics.bytesRead)
          add(Ctr.ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
          add(Ctr.ShuffleRead, m.shuffleReadMetrics.totalBytesRead)
          add(Ctr.FetchWaitMs, m.shuffleReadMetrics.fetchWaitTime)
          add(Ctr.Spill, m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        add(Ctr.PlanMs, qe.tracker.phases.values.map(_.durationMs).sum)
        Writes.of(qe).foreach { case (path, m) =>
          if (path.contains("/zones/conformed/"))
            add(Ctr.RowsConformed, m.getOrElse("numOutputRows", 0L))
          add(Ctr.FilesWritten, m.getOrElse("numFiles", 0L))
          add(Ctr.BytesWritten, m.getOrElse("numOutputBytes", 0L))
          add(Ctr.PartsWritten, m.getOrElse("numParts", 0L))
        }
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  private def toRel(epochMs: Long): Double =
    (epochMs * 1000000L - wallToNano - t0) / 1e9

  /** Wait until every started job's end event and the stage events
    * before it were delivered (listener delivery is asynchronous). */
  private def quiesce(): Unit = {
    var stable = 0
    var last = -1L
    var i = 0
    while ((stable < 2 || c.get(Ctr.Jobs) != c.get(Ctr.JobsEnded)) && i < 200) {
      val n = c.get(Ctr.Stages) + c.get(Ctr.JobsEnded)
      if (n == last) stable += 1 else { stable = 0; last = n }
      Thread.sleep(5)
      i += 1
    }
  }

  /** Record `f` as a child span of the innermost open span. */
  def span[T](name: String)(f: => T): T =
    if (!traced) f
    else {
      val id = nextId; nextId += 1
      val parent = current
      current = id
      val s = now
      try f
      finally {
        spans += Span(id, parent, name, s, now)
        current = parent
      }
    }

  private def snap(): Array[Long] = {
    val a = Array.tabulate(Ctr.names.size)(c.get)
    a(Ctr.JitMs) = graft.Sentinel.jitMs()
    a(Ctr.GcMs) = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    a(Ctr.CodegenNs) =
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    a(Ctr.CodegenCompiles) = graft.Sentinel.codegenCompiles()
    a(Ctr.BuildNs) = (BuildMeter.seconds * 1e9).toLong
    a(Ctr.DerivedDirs) = Derived.count()
    a
  }

  /** One operation of the closed loop; a failure is recorded, not thrown. */
  def op(name: String, pass: Int)(f: => Unit): Unit = {
    val before = if (traced) snap() else null
    val id = nextId; nextId += 1
    val s = now
    current = id
    val err = try { f; None } catch {
      case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    val e = now
    current = 0
    ops += new Json().str("name", name).num("pass", pass).num("start_s", s)
      .num("dur_s", e - s).raw("ok", err.isEmpty.toString)
      .str("error", err.getOrElse("")).toString
    err.foreach(m => System.err.println(s"[graftbench] $name (pass $pass) failed: $m"))
    if (traced) {
      spans += Span(id, 0, s"op:$name", s, e)
      quiesce()
      val after = snap()
      val j = new Json().num("span", id)
      Ctr.names.indices.foreach(i => j.num(Ctr.names(i), (after(i) - before(i)).toDouble))
      opCounters += j.toString
    }
  }

  def opsJson: String = ops.mkString("[", ",", "]")

  def traceJson: String = {
    val js = jobSpans.synchronized(jobSpans.toList)
    // job spans become children of the operation whose window holds them
    val opWins = spans.filter(_.parent == 0)
    val jobs = js.flatMap { case (s, e) =>
      opWins.find(o => s >= o.start - 1e-3 && s <= o.end).map(o =>
        Span(0, o.id, "spark.job", s, math.min(e, o.end)))
    }
    val all = (spans ++ jobs).map { sp =>
      new Json().num("id", sp.id).num("parent", sp.parent).str("name", sp.name)
        .num("start", sp.start).num("end", sp.end).toString
    }
    new Json().raw("spans", all.mkString("[", ",", "]"))
      .raw("op_counters", opCounters.mkString("[", ",", "]"))
      .num("cores", Runtime.getRuntime.availableProcessors).toString
  }
}

/** Counter slots; deltas are taken per operation. */
object Ctr {
  val names: Vector[String] = Vector("jobs", "jobs_ended", "stages", "tasks",
    "cpu_ns", "scan_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
    "fetch_wait_ms", "spill_bytes", "plan_ms", "files_written",
    "bytes_written", "partitions_written", "rows_conformed", "jit_ms", "gc_ms", "codegen_ns",
    "codegen_compiles", "build_ns", "derived_builds")
  private def at(n: String) = names.indexOf(n)
  val Jobs = at("jobs"); val JobsEnded = at("jobs_ended"); val Stages = at("stages")
  val Tasks = at("tasks"); val CpuNs = at("cpu_ns"); val ScanBytes = at("scan_bytes")
  val ShuffleWrite = at("shuffle_write_bytes"); val ShuffleRead = at("shuffle_read_bytes")
  val FetchWaitMs = at("fetch_wait_ms"); val Spill = at("spill_bytes")
  val PlanMs = at("plan_ms"); val FilesWritten = at("files_written")
  val BytesWritten = at("bytes_written"); val PartsWritten = at("partitions_written")
  val RowsConformed = at("rows_conformed")
  val JitMs = at("jit_ms"); val GcMs = at("gc_ms"); val CodegenNs = at("codegen_ns")
  val CodegenCompiles = at("codegen_compiles"); val BuildNs = at("build_ns")
  val DerivedDirs = at("derived_builds")
}

/** Write-command metrics (files, bytes, dynamic partitions) of a
  * finished query execution. */
object Writes extends AdaptiveSparkPlanHelper {
  def of(qe: QueryExecution): Seq[(String, Map[String, Long])] =
    collect(qe.executedPlan) { case d: DataWritingCommandExec =>
      val path = d.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
        case _ => ""
      }
      path -> d.cmd.metrics.map { case (k, m) => k -> m.value }
    }
}

/** Derived-table builds, counted as the directories DerivedCache wrote
  * under this JVM's temp dir. */
object Derived {
  def count(): Long = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("graft-derived"))
      .map(d => Option(d.listFiles).map(_.count(_.isDirectory)).getOrElse(0).toLong).sum
  }
}

/** `curate_corpus` and `lake_queries`: catalog lanes in the order given
  * (seeded for `lake_queries`).
  * Pass 0 is each lane's first execution in the JVM; later passes are
  * settled repeats. Each execution writes the lane's result as parquet. */
final class Lanes(spark: SparkSession, dir: String, work: String,
                  rec: Recorder, lanes: Seq[String], kernels: Boolean) extends Workload {
  private val catalog = SparkEntry.queries

  /** The generated tables (the corpus workload has only the two its
    * lanes and kernels read). */
  def load(): Unit =
    Tables.names.filter(n => new java.io.File(s"$dir/$n.parquet").exists).foreach { n =>
      val df = if (n == "events") Tables.events(spark, dir) else Tables.load(spark, dir, n)
      df.schema
      df.inputFiles
    }

  def pass(k: Int): Unit = lanes.foreach { lane =>
    val target = s"$work/lanes/$lane/${if (k == 0) "first" else "settled"}"
    rec.op(lane, k) {
      val df = rec.span("catalog.construct") { catalog(lane)(spark, dir) }
      rec.span("catalog.materialize") { df.write.mode("overwrite").parquet(target) }
    }
    // per-lane teardown, in Bench's order, outside the operation
    spark.catalog.clearCache()
    OpCaches.releaseAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Ckpt.clearAll(spark)
  }

  def finish(res: Json): Unit = {
    val oracle = SparkEntry.oracleSql
    res.raw("oracle_sql", lanes.filter(oracle.contains)
      .map(l => s"${Json.q(l)}:${Json.q(oracle(l))}").mkString("{", ",", "}"))
    if (kernels) {
      res.raw("kernels", Kernels.measure(spark, dir))
      res.raw("lsh", Kernels.lshCandidates(spark, dir).toString)
    }
  }
}

/** The `graft.plans` codegen kernels, rows/s through the generated code
  * and through the interpreted `eval` path, on the corpus. */
object Kernels {
  /** The corpus repeated `Copies` times, with each doc's tokens, sorted
    * shingle hashes and sorted distinct words, paired with the next doc
    * for the two-argument kernels; cached so the timings are the
    * kernels' own. */
  private val Copies = 40
  private def docs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), graft.functions.TextFns.tokens(col("text")).as("toks"))
      .withColumn("sh", array_sort(Signatures.shingleHashes(col("toks"), 2)))
      .withColumn("words", array_sort(array_distinct(col("toks"))))
    val b = d.select((col("doc_id") - 1).as("doc_id"), col("sh").as("sh_b"),
      col("words").as("words_b"))
    d.join(b, "doc_id").crossJoin(spark.range(Copies).toDF("copy"))
      .repartition(Runtime.getRuntime.availableProcessors).cache()
  }

  def measure(spark: SparkSession, dir: String): String = {
    val d = docs(spark, dir)
    val n = d.count()
    val emb = Tables.embeddings(spark, dir).crossJoin(spark.range(Copies).toDF("copy"))
      .repartition(Runtime.getRuntime.availableProcessors).cache()
    val nEmb = emb.count()
    val ks: Seq[(String, () => Unit, Long)] = Seq(
      ("minhash_sig", () => scalar(d, Signatures.minhashSig(col("sh"), 64)), n),
      ("simhash64", () => scalar(d, Signatures.simhash64(col("toks"))), n),
      ("char_shingle_hashes", () => scalar(d, Signatures.charShingleHashes(col("text"), 5)), n),
      ("jaccard_sorted", () => scalar(d, Signatures.jaccardSorted(col("sh"), col("sh_b"))), n),
      ("sorted_intersect", () => scalar(d, SetKernels.sortedIntersectSize(col("words"), col("words_b"))), n),
      ("token_entropy", () => scalar(d, TextKernels.tokenEntropy(col("toks"))), n),
      ("gram", () => emb.agg(Gram.sums64(col("embedding"))).collect(), nEmb))
    def rate(f: () => Unit, rows: Long): Double = {
      f() // compile and warm
      var reps = 0
      val t = System.nanoTime()
      while (reps < 2 || System.nanoTime() - t < 200000000L) { f(); reps += 1 }
      rows * reps / ((System.nanoTime() - t) / 1e9)
    }
    val conf = spark.conf
    val j = new Json
    ks.foreach { case (k, f, rows) =>
      j.num(s"plans.$k.rows_per_s", rate(f, rows))
      conf.set("spark.sql.codegen.wholeStage", "false")
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try j.num(s"plans.$k.interp_rows_per_s", rate(f, rows))
      finally {
        conf.unset("spark.sql.codegen.wholeStage")
        conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    d.unpersist(); emb.unpersist()
    j.toString
  }

  private def scalar(d: DataFrame, k: Column): Unit =
    d.select(hash(k).cast("long").as("h")).agg(sum("h")).collect()

  /** Distinct LSH band-candidate pairs at the dedup lanes' operating
    * point (word 2-shingles, 64 hashes, 16 bands of 4). */
  def lshCandidates(spark: SparkSession, dir: String): Long = {
    val sig = Tables.documents(spark, dir).select(col("doc_id"),
      Dedup.minhashSignature(Signatures.shingleHashes(
        graft.functions.TextFns.tokens(col("text")), 2), 64).as("sig"))
    val bands = sig.select(col("doc_id"), explode(Dedup.lshBands(col("sig"), 16, 4)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.band_hash").as("bh"))
    val a = bands.select(col("doc_id").as("id_a"), col("band"), col("bh"))
    val b = bands.select(col("doc_id").as("id_b"), col("band"), col("bh"))
    a.join(b, Seq("band", "bh")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct().count()
  }
}

/** `etl_arrivals`: the paper's raw -> conformed -> purpose-built job, run
  * once per arriving raw-zone file, in arrival order. Pass 0 processes
  * every arrival; later passes replay the same arrivals (re-deliveries
  * of the whole sequence), which leaves every zone in the same state. */
final class EtlArrivals(spark: SparkSession, inputs: String, work: String,
                        rec: Recorder) extends Workload {
  final case class Arrival(csv: String, day: String, changelog: Option[String])
  private val plan: Seq[Arrival] = {
    val t = scala.io.Source.fromFile(s"$inputs/arrivals.tsv").getLines().toSeq
    t.map(_.split("\t", -1)).map(a =>
      Arrival(s"$inputs/${a(0)}", a(1), Some(a(2)).filter(_.nonEmpty).map(c => s"$inputs/$c")))
  }
  private val conformed = s"$work/zones/conformed/lineitem"
  private val purpose = s"$work/zones/purpose_built/lineitem_daily"
  private val ordersZone = s"$work/zones/purpose_built/orders"
  private val registry = new CatalogRegistry(spark)
  private var ordersVersion = 0
  private def ordersAt(v: Int) = if (v == 0) s"$inputs/orders_base.parquet" else s"$ordersZone/v$v"

  def load(): Unit = {
    spark.read.text(s"$inputs/raw").inputFiles
    spark.read.parquet(s"$inputs/orders_base.parquet").schema
  }

  /** Purpose-built SQL of one day: counts, a coalesce, exact measure
    * sums, grouped by the date parts. */
  private def purposeSql(day: String): String = {
    val Array(y, m, d) = day.split("-")
    s"""SELECT l_returnflag AS returnflag,
       |  count(*) AS n_lines,
       |  count(l_comment) AS n_commented,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS qty,
       |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS revenue,
       |  CAST(sum(CAST(coalesce(l_discount, 0) AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS discount,
       |  CAST(sum(CAST(coalesce(l_tax, 0) AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS tax,
       |  coalesce(max(l_comment), 'none') AS comment,
       |  year, month, day
       |FROM conformed.lineitem
       |WHERE year = '$y' AND month = '$m' AND day = '$d'
       |GROUP BY year, month, day, l_returnflag""".stripMargin
  }

  def pass(k: Int): Unit = plan.zipWithIndex.foreach { case (a, i) =>
    rec.op(s"arrival_$i", k) {
      val raw = rec.span("etl.read") { CsvIngest.read(spark, a.csv) }
      val conf = rec.span("etl.conform") {
        Conform.injectDatePartitions(Conform.castNullColumns(raw), col("l_shipdate"))
      }
      rec.span("etl.write") { PartitionedWriter.write(conf, conformed) }
      rec.span("etl.catalog") {
        registry.upsertExternal(conf, "conformed", "lineitem", conformed)
      }
      val pb = rec.span("etl.transform") { SqlTransform.run(spark, purposeSql(a.day)) }
      rec.span("etl.write") { PartitionedWriter.write(pb, purpose) }
      a.changelog.foreach { c => rec.span("etl.merge") { merge(c) } }
    }
  }

  private def merge(changelog: String): Unit = {
    val base = spark.read.parquet(ordersAt(ordersVersion))
    val ch = CsvIngest.read(spark, changelog)
    val typed = ch.select(base.columns.map(n => col(n).cast(base.schema(n).dataType)).toSeq
      :+ col("op") :+ col("version"): _*)
    val merged = CdcMerge.merge(base, typed, Seq("o_orderkey"), col("op"), Seq(col("version")))
      .drop("change_applied")
    val next = ordersVersion + 1
    PartitionedWriter.write(merged, ordersAt(next), partitionKeys = Seq.empty)
    if (ordersVersion > 0) graft.Fs.deleteRec(new java.io.File(ordersAt(ordersVersion)))
    ordersVersion = next
  }

  def finish(res: Json): Unit =
    res.str("orders_state", ordersAt(ordersVersion))
}
