package graft.runtime

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import graft.obs.JobProfile

/** Tracing (`lib/tracer/constructor.go`, `jaeger.go`): the reference opens
  * an opentracing span per processor per message part
  * (`IteratePartsWithSpan`, `lib/processor/util.go:184`). Per-ROW spans
  * make no sense in a vectorized engine — the Spark-native unit of work
  * is the plan/action/job, so the trace tree here is:
  *
  *   pipeline root span
  *     ├─ one child span per processor (plan-assembly — shows operator
  *     │  order and config cost)
  *     └─ one child span per Spark JOB launched while the trace is open
  *        (the actual data work, with real durations; read from
  *        [[graft.obs.JobProfile]] when the root span closes)
  *
  * Spans are recorded in-process and served as jaeger-style JSON from the
  * control plane's `GET /traces`; with a `tracer: jaeger: agent_address`
  * config, each finished trace also goes to the agent through one
  * [[JaegerUdpReporter]]. */
object Tracing {

  final case class Span(id: Long, parentId: Option[Long], traceId: Long,
      operation: String, startUs: Long, var endUs: Long,
      tags: Map[String, String]) {
    def durationUs: Long = math.max(0L, endUs - startUs)
  }

  private val idGen = new AtomicLong(1L)
  private val finished = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val active = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  @volatile private var enabled = false
  @volatile private var profile: Option[JobProfile] = None

  def enable(): Unit = { enabled = true }
  def disable(): Unit = { enabled = false }
  def isEnabled: Boolean = enabled

  def clear(): Unit = finished.clear()

  // the jaeger agent reporter of the last config with a `tracer:`
  // section: sent each completed trace's spans when its ROOT span finishes
  @volatile private var reporter: Option[JaegerUdpReporter] = None

  /** Replace the trace reporter (None: spans stay in-process), closing
    * the old one's socket. */
  private[runtime] def setReporter(r: Option[JaegerUdpReporter]): Unit =
    synchronized { reporter.foreach(_.close()); reporter = r }

  private def report(traceId: Long): Unit = reporter.foreach { r =>
    // a reporter replaced mid-send has a closed socket: drop that trace
    try r.report(spans.filter(_.traceId == traceId))
    catch { case _: java.io.IOException => () }
  }

  private def nowUs: Long = System.nanoTime() / 1000L

  /** Record `f` as a span (child of the enclosing span on this thread). */
  def span[T](operation: String, tags: Map[String, String] = Map.empty)(f: => T): T =
    if (!enabled) f
    else {
      val parent = active.get.headOption
      val s = Span(idGen.getAndIncrement(), parent.map(_.id),
        parent.map(_.traceId).getOrElse(idGen.getAndIncrement()),
        operation, nowUs, -1L, tags)
      active.set(s :: active.get)
      // a root span owns the jobs that start while it is open
      if (parent.isEmpty) profile.foreach(_.take())
      try f
      finally {
        active.set(active.get.tail)
        s.endUs = nowUs
        finished.add(s)
        if (parent.isEmpty) {
          profile.foreach { p =>
            // a listener bus still busy after 10 s: trace what arrived
            try p.drain() catch { case _: java.util.concurrent.TimeoutException => () }
            jobSpans(s, p.take())
          }
          report(s.traceId)
        }
      }
    }

  /** Record every Spark job as a child of the trace root open when it
    * started. With several root spans open at once on different threads,
    * each root claims the jobs that ran since the last root opened or
    * closed. */
  def attachJobListener(spark: SparkSession): Unit = synchronized {
    if (profile.isEmpty) profile = Some(JobProfile.attach(spark.sparkContext))
  }

  def detachJobListener(): Unit = synchronized {
    profile.foreach(_.detach())
    profile = None
  }

  // job timestamps are epoch ms; spans are on the nanoTime clock
  private def jobSpans(root: Span, prof: JobProfile.Profile): Unit = {
    val shiftUs = nowUs - System.currentTimeMillis() * 1000L
    prof.jobs.foreach { j =>
      val desc = if (j.description.nonEmpty) j.description else s"job ${j.id}"
      finished.add(Span(idGen.getAndIncrement(), Some(root.id), root.traceId,
        s"spark job ${j.id}: $desc", j.startMs * 1000L + shiftUs,
        if (j.endMs < 0) root.endUs else j.endMs * 1000L + shiftUs,
        Map("component" -> "spark")))
    }
  }

  /** Completed spans, oldest first. */
  def spans: scala.Seq[Span] = {
    val it = finished.iterator()
    val buf = scala.collection.mutable.ListBuffer[Span]()
    while (it.hasNext) buf += it.next()
    buf.sortBy(_.startUs).toSeq
  }

  /** Jaeger-style JSON (`{"data":[{"traceID","spans":[...]}]}`). */
  def tracesJson: String = {
    import graft.ops.JsonProc.quote
    val byTrace = spans.groupBy(_.traceId).toSeq.sortBy(_._1)
    val traces = byTrace.map { case (tid, ss) =>
      val spanJson = ss.map { s =>
        val refs = s.parentId
          .map(p => s"""[{"refType":"CHILD_OF","spanID":"$p"}]""")
          .getOrElse("[]")
        val tags = s.tags.toSeq.sortBy(_._1).map { case (k, v) =>
          s"""{"key":${quote(k)},"type":"string","value":${quote(v)}}"""
        }.mkString("[", ",", "]")
        s"""{"spanID":"${s.id}","operationName":${quote(s.operation)},""" +
          s""""references":$refs,"startTime":${s.startUs},""" +
          s""""duration":${s.durationUs},"tags":$tags}"""
      }.mkString("[", ",", "]")
      s"""{"traceID":"$tid","spans":$spanJson}"""
    }.mkString("[", ",", "]")
    s"""{"data":$traces}"""
  }
}
