package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `op` is the id shared by every span of one
  * operation (a pipeline pass, one query, one stream window). Times are
  * epoch milliseconds, the clock Spark's listener events use. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, end: Long, kind: String) {
  def dur: Long = end - start
}

/** In-memory span recorder plus the benchmark's own Spark listeners. When
  * disabled, `span` only runs its body and no listener is registered.
  *
  * Layer spans come from the harness wrapping calls into graft's public
  * functions; job, stage and micro-batch spans come from the listeners and
  * hang under the layer span that was open when Spark started them (the
  * span id rides a Spark local property, which jobs carry). */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  @volatile private var spark: SparkSession = _

  def nextId(): Long = ids.incrementAndGet()

  /** Id of the operation most recently started on this tracer (0 when off). */
  @volatile var lastOp: Long = 0L

  def now(): Long = System.currentTimeMillis()

  /** Start a new operation: a root span whose id is the operation id. */
  def op[T](name: String)(body: => T): T = spanIn(name, root = true)(body)

  def span[T](name: String)(body: => T): T = spanIn(name, root = false)(body)

  private def spanIn[T](name: String, root: Boolean)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId()
      val outer = stack.get()
      val (parent, op) = outer.headOption match {
        case Some((p, o)) if !root => (p, o)
        case _ => lastOp = id; (0L, id)
      }
      stack.set((id, op) :: outer)
      val sc = Option(spark).map(_.sparkContext)
      val saved = sc.map(c => (c.getLocalProperty(Tracer.SpanProp),
        c.getLocalProperty(Tracer.OpProp)))
      sc.foreach { c =>
        c.setLocalProperty(Tracer.SpanProp, id.toString)
        c.setLocalProperty(Tracer.OpProp, op.toString)
      }
      val t0 = now()
      try body
      finally {
        spans.add(Span(id, parent, op, name, t0, now(), "layer"))
        stack.set(outer)
        for (c <- sc; (s, o) <- saved) {
          c.setLocalProperty(Tracer.SpanProp, s)
          c.setLocalProperty(Tracer.OpProp, o)
        }
      }
    }

  // ---------- listeners ----------

  /** Task and job counters summed per operation. */
  val perOp = new Counters
  private val listener = new JobListener
  private val qeListener = new PhaseListener
  private val streamListener = new StreamListener

  /** Register the three listeners on `s` (traced runs only). */
  def attach(s: SparkSession): Unit = {
    spark = s
    if (enabled) {
      s.sparkContext.addSparkListener(listener)
      s.listenerManager.register(qeListener)
      s.streams.addListener(streamListener)
    }
  }

  def detach(): Unit = if (enabled && spark != null) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (enabled && spark != null) {
    // listenerBus is private; an empty job round-trip flushes it in order
    val marker = nextId()
    spark.sparkContext.setLocalProperty(Tracer.MarkerProp, marker.toString)
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally spark.sparkContext.setLocalProperty(Tracer.MarkerProp, null)
    val deadline = System.nanoTime() + 10000000000L
    while (!listener.markers.contains(marker) && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  /** Progress of stream run `runId`, once its batch `lastBatch` has been
    * reported (stream events travel on their own listener queue). */
  def progress(runId: String, lastBatch: Long): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    def seen = streamListener.events.asScala.map(_.progress).filter(_.runId.toString == runId).toSeq
    val deadline = System.nanoTime() + 10000000000L
    while (!seen.exists(_.batchId >= lastBatch) && System.nanoTime() < deadline) Thread.sleep(5)
    seen
  }

  /** (time, phase -> ms) of every SQL action the session completed. */
  val actions = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()

  final class Counters {
    val byOp = new java.util.concurrent.ConcurrentHashMap[Long, mutable.Map[String, Double]]()
    def add(op: Long, key: String, v: Double): Unit = {
      val m = byOp.computeIfAbsent(op, _ => mutable.Map.empty[String, Double])
      m.synchronized { m(key) = m.getOrElse(key, 0.0) + v }
    }
    def get(op: Long, key: String): Double =
      Option(byOp.get(op)).map(m => m.synchronized(m.getOrElse(key, 0.0))).getOrElse(0.0)
  }

  private final class JobListener extends SparkListener {
    val markers = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    private val jobOf = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    private def prop(p: java.util.Properties, k: String): Long =
      Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)

    private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private val markerJobs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val marker = prop(e.properties, Tracer.MarkerProp)
      if (marker != 0) { markerJobs.put(e.jobId, marker); return }
      val op = prop(e.properties, Tracer.OpProp)
      jobOf.put(e.jobId, (nextId(), prop(e.properties, Tracer.SpanProp), op))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      perOp.add(op, "jobs", 1)
      jobStarts.put(e.jobId, e.time)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobOf.get(e.jobId)).foreach { case (id, parent, op) =>
        spans.add(Span(id, parent, op, s"job ${e.jobId}", jobStarts.get(e.jobId),
          e.time, "job"))
      }
      // a marker job ends after every event posted before it was delivered
      Option(markerJobs.remove(e.jobId)).foreach(m => markers.add(m))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageJob.get(info.stageId)).flatMap(j => Option(jobOf.get(j))).foreach {
        case (jobSpan, _, op) =>
          perOp.add(op, "stages", 1)
          for (s <- info.submissionTime; c <- info.completionTime)
            spans.add(Span(nextId(), jobSpan, op,
              s"stage ${info.stageId} (${info.numTasks} tasks) ${info.name}", s, c, "stage"))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobOf.get(j))).foreach {
        case (_, _, op) =>
        def add(k: String, v: Double): Unit = perOp.add(op, k, v)
        add("tasks", 1)
        if (!e.taskInfo.successful) add("task_failures", 1)
        Option(e.taskMetrics).foreach { m =>
          add("run_ms", m.executorRunTime.toDouble)
          add("cpu_ns", m.executorCpuTime.toDouble)
          add("gc_ms", m.jvmGCTime.toDouble)
          add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
          add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("spill_disk_bytes", m.diskBytesSpilled.toDouble)
          add("input_records", m.inputMetrics.recordsRead.toDouble)
          add("input_bytes", m.inputMetrics.bytesRead.toDouble)
          add("output_records", m.outputMetrics.recordsWritten.toDouble)
          add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        }
      }
    }
  }

  /** Callbacks arrive on the listener thread, which carries no caller
    * properties: each action is recorded with its time and attributed to
    * the operation whose span contains it when the report is built. */
  private final class PhaseListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val at = if (ph.isEmpty) now() else ph.values.map(_.endTimeMs).max
      actions.add((at, ph.map { case (k, v) => k -> v.durationMs }))
      ()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe)
  }

  private final class StreamListener extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.add(e)
      ()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

object Tracer {
  /** A disabled tracer: spans only run their body. */
  val Off = new Tracer(false)
  val SpanProp = "graftbench.span"
  val OpProp = "graftbench.op"
  val MarkerProp = "graftbench.marker"
}
