package graft.obs

import org.apache.spark.{GraftListenerBus, SparkContext}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** The engine's one `SparkListener`: what every Spark job and stage did,
  * counted from task-end events. `graft.Probe` (per-job and per-stage
  * tables, per-probe totals, through `Probe.measured`) and
  * `runtime.Tracing` (job spans under the pipeline root) read it; neither
  * keeps a listener of its own.
  *
  * Events reach listeners asynchronously. [[drain]] blocks until every
  * event posted so far has been delivered, so a reader that calls it
  * after an action sees all of that action's jobs and tasks. [[take]]
  * hands over what was recorded and clears it; a reader takes once per
  * unit it measures (a query run, a probe, a trace), so the profile holds
  * only what has not been read yet. Past [[JobProfile.MaxJobs]] unread
  * jobs the oldest are dropped with their stages, which bounds a
  * long-running process whose jobs nobody reads.
  *
  * Attach with [[JobProfile.attach]]: one profile per SparkContext. */
final class JobProfile private (sc: SparkContext) extends SparkListener {
  import JobProfile._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  // stage id → the latest started job that contains it, for the jobs
  // still running: tasks are charged to the job that ran them
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, desc, e.time, -1L, e.stageIds)
    e.stageIds.foreach(stageJob(_) = e.jobId)
    if (jobs.size > MaxJobs) {
      val (old, j) = jobs.head
      jobs.remove(old)
      j.stageIds.foreach(sid => if (stages.get(sid).exists(_.jobId == old)) stages.remove(sid))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      jobs(e.jobId) = j.copy(endMs = e.time)
      j.stageIds.foreach(sid => if (stageJob.get(sid).contains(e.jobId)) stageJob.remove(sid))
    }
  }

  private def stage(id: Int, name: String): Stage =
    stages.getOrElseUpdate(id,
      Stage(id, stageJob.getOrElse(id, -1), name, Counts.Zero, Vector.empty))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stage(e.stageInfo.stageId, e.stageInfo.name.takeWhile(_ != '\n')); ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, "")
    val m = e.taskMetrics
    stages(e.stageId) = s.copy(counts = s.counts + Counts.of(e),
      taskRunMs = if (m == null) s.taskRunMs else s.taskRunMs :+ m.executorRunTime)
  }

  /** Wait until every event posted so far has been recorded (a
    * `TimeoutException` if the bus is still busy after 10 s). */
  def drain(): this.type = { GraftListenerBus.drain(sc); this }

  /** Everything recorded since the last take, oldest first; clears it. */
  def take(): Profile = synchronized {
    val p = Profile(jobs.values.toVector, stages.values.toVector)
    jobs.clear(); stages.clear()
    p
  }

  /** Remove this profile from the bus (the next [[JobProfile.attach]]
    * starts a fresh one). */
  def detach(): Unit = JobProfile.synchronized {
    sc.removeSparkListener(this)
    if (attached.get(sc).contains(this)) attached.remove(sc)
  }
}

object JobProfile {
  /** Unread jobs kept before the oldest are dropped. */
  val MaxJobs = 10000

  private val attached = mutable.WeakHashMap.empty[SparkContext, JobProfile]

  /** The profile listening on `sc`, registered on first use. */
  def attach(sc: SparkContext): JobProfile = synchronized {
    attached.getOrElseUpdate(sc, {
      val p = new JobProfile(sc)
      sc.addSparkListener(p)
      p
    })
  }

  /** Task counters; sums over tasks, stages or jobs with `+`. Spill is the
    * memory-accounted plus on-disk bytes; `spillDiskBytes` is the on-disk
    * part alone. `records` counts shuffle records written. */
  final case class Counts(tasks: Int, retried: Int, runMs: Long, cpuMs: Long,
      gcMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      records: Long, spillBytes: Long, spillDiskBytes: Long) {
    def +(o: Counts): Counts = Counts(tasks + o.tasks, retried + o.retried,
      runMs + o.runMs, cpuMs + o.cpuMs, gcMs + o.gcMs,
      shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
      records + o.records, spillBytes + o.spillBytes, spillDiskBytes + o.spillDiskBytes)
  }
  object Counts {
    val Zero: Counts = Counts(0, 0, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
    /** One finished task attempt; a non-first attempt counts as retried. */
    def of(e: SparkListenerTaskEnd): Counts = {
      val retried = if (e.taskInfo != null && e.taskInfo.attemptNumber > 0) 1 else 0
      val m = e.taskMetrics
      if (m == null) Zero.copy(tasks = 1, retried = retried)
      else Counts(1, retried, m.executorRunTime, m.executorCpuTime / 1000000L,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.diskBytesSpilled)
    }
  }

  /** A job: scheduler timestamps in epoch ms (`endMs` -1 while running)
    * and every stage id it declared, skipped ones included. */
  final case class Job(id: Int, description: String, startMs: Long, endMs: Long,
      stageIds: scala.Seq[Int]) {
    def wallMs: Long = if (endMs < 0) -1L else endMs - startMs
  }

  /** A stage's tasks, charged to `jobId` (the latest running job that
    * declared the stage; -1 if none was seen). `name` is the first line
    * of the stage name (the action's call site). */
  final case class Stage(id: Int, jobId: Int, name: String, counts: Counts,
      taskRunMs: Vector[Long])

  final case class Profile(jobs: scala.Seq[Job], stages: scala.Seq[Stage]) {
    def total: Counts = stages.foldLeft(Counts.Zero)(_ + _.counts)
    def countsOf(jobId: Int): Counts =
      stages.filter(_.jobId == jobId).foldLeft(Counts.Zero)(_ + _.counts)
  }
}
