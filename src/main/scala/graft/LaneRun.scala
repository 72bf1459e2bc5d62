package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}

/** One stage of a lane run that took over 0.5 s wall. The columns split
  * CPU work from IO wait from memory pressure: wall, executor CPU, task
  * run time, GC, spill (memory + disk), shuffle fetch wait and shuffle
  * write time, plus the task count. Seconds, except `spillMb`. */
final case class StageRow(id: Int, wall: Double, cpu: Double, run: Double,
                          gc: Double, spillMb: Double, fetchWait: Double,
                          write: Double, tasks: Int) {
  /** `[id, wall, cpu, run, gc, spill_mb, fetch_wait, write, tasks]` */
  def json: String = Seq(wall, cpu, run, gc, spillMb, fetchWait, write)
    .map(Json.num).mkString(s"[$id,", ",", s",$tasks]")
}

/** The record of one lane execution through [[Harness.runLane]]: the
  * same record whichever main runs the lane, for every run.
  *
  * @param seconds         wall from DataFrame construction to the noop
  *                        sink's commit (also when the run failed)
  * @param error           `ExceptionClass: message` when the run failed
  * @param buildSeconds    once-per-JVM derived-table builds and model
  *                        trains charged inside the run (BuildMeter)
  * @param jitMs           HotSpot JIT milliseconds during the run; None
  *                        when the JVM cannot meter compilation time
  *                        ("no meter" is not "no JIT work")
  * @param codegenCompiles whole-stage-codegen compiles during the run — a
  *                        compile is a codegen-cache miss
  * @param jobs            Spark jobs started during the run — the fixed
  *                        per-job cost (scheduling, a result stage, a
  *                        listener round) is paid once each
  * @param stages          stages completed during the run
  * @param stageWall       their summed wall seconds
  * @param topStages       the slowest stages over 0.5 s (at most 20),
  *                        slowest first */
final case class LaneRun(seconds: Double, error: Option[String],
                         buildSeconds: Double, jitMs: Option[Long],
                         codegenCompiles: Long, jobs: Long, stages: Long,
                         stageWall: Double, topStages: Seq[StageRow]) {
  def json: String =
    s"""{"seconds":${Json.num(seconds)},""" +
    s""""error":${error.map(Json.str).getOrElse("null")},""" +
    s""""build_s":${Json.num(buildSeconds)},""" +
    s""""jit_ms":${jitMs.fold("null")(_.toString)},""" +
    s""""codegen_compiles":$codegenCompiles,"n_jobs":$jobs,""" +
    s""""n_stages":$stages,""" +
    s""""stage_wall_sum":${Json.num(stageWall)},""" +
    s""""stages":${topStages.map(_.json).mkString("[", ",", "]")}}"""
}

/** The stage listener behind [[Harness.runLane]], attached once per
  * SparkContext ([[StageMeter.on]]). It counts job starts, folds every
  * completed stage into a (count, wall) total and keeps a row per stage
  * over 0.5 s — slow lanes are often many sub-second stages, which only
  * the totals show.
  *
  * Listener events arrive asynchronously, so a stage of a finished run
  * could otherwise land in the next run's record. [[drain]] closes that:
  * it runs a one-task marker job and waits for the marker's job-end
  * event, which the bus delivers after every event queued before it.
  * The marker's own job and stage are not counted. */
private[graft] final class StageMeter extends SparkListener {
  private val rows = scala.collection.mutable.ArrayBuffer.empty[StageRow]
  private var jobs = 0L
  private var count = 0L
  private var wallMs = 0L
  private val markerJobs =
    scala.collection.mutable.Map.empty[Int, CountDownLatch]
  private val markerStages = scala.collection.mutable.Set.empty[Int]
  private val pending =
    new java.util.concurrent.ConcurrentHashMap[String, CountDownLatch]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(StageMeter.Marker))) match {
      case Some(token) =>
        markerStages ++= e.stageIds
        Option(pending.remove(token)).foreach(markerJobs(e.jobId) = _)
      case None => jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(markerJobs.remove(e.jobId)).foreach(_.countDown())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      if (!markerStages.remove(i.stageId)) {
        val ms = (for (a <- i.completionTime; b <- i.submissionTime)
          yield a - b).getOrElse(0L)
        count += 1
        wallMs += ms
        if (ms > 500) {
          val m = i.taskMetrics
          rows += StageRow(i.stageId, ms / 1000.0, m.executorCpuTime / 1e9,
            m.executorRunTime / 1e3, m.jvmGCTime / 1e3,
            (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0,
            m.shuffleReadMetrics.fetchWaitTime / 1e3,
            m.shuffleWriteMetrics.writeTime / 1e9, i.numTasks)
        }
      }
    }

  /** Return once every listener event posted before the call has been
    * delivered to this listener (30 s cap, reported on stderr). */
  def drain(sc: SparkContext): Unit = {
    val token = java.util.UUID.randomUUID.toString
    val latch = new CountDownLatch(1)
    pending.put(token, latch)
    sc.setLocalProperty(StageMeter.Marker, token)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(StageMeter.Marker, null)
    if (!latch.await(30, TimeUnit.SECONDS)) {
      pending.remove(token)
      System.err.println("[lane-meter] listener bus not drained after 30 s; " +
        "stage counts may be incomplete")
    }
  }

  /** (top stages, job count, stage count, stage wall s) since the last
    * snapshot; resets all four. */
  def snapshot(): (Seq[StageRow], Long, Long, Double) = synchronized {
    val top = rows.sortBy(-_.wall).take(20).toSeq
    val r = (top, jobs, count, wallMs / 1000.0)
    rows.clear(); jobs = 0L; count = 0L; wallMs = 0L
    r
  }
}

private[graft] object StageMeter {
  /** Local property that tags [[StageMeter.drain]]'s marker job. */
  val Marker = "graft.meter.marker"

  private var attached: Option[(SparkContext, StageMeter)] = None

  /** The meter listening on `sc`; the first call for a SparkContext
    * attaches it, later calls return the same listener. */
  def on(sc: SparkContext): StageMeter = synchronized {
    attached match {
      case Some((c, m)) if c eq sc => m
      case _ =>
        val m = new StageMeter
        sc.addSparkListener(m)
        attached = Some((sc, m))
        m
    }
  }
}
