package graftbench

import java.io.File
import java.nio.file.{StandardCopyOption, Files => JFiles}
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.runtime.Config

/** `stream_events`: open loop. A generator thread drops one JSON file of
  * [[StreamEvents.PerFile]] events every [[StreamEvents.PeriodMs]] into a
  * `file_stream` directory; the config's micro-batches (500 ms buffer
  * period) reshape, filter and append to a file sink. Latency runs from a
  * file's due time to the commit of the micro-batch that delivered it. */
final class StreamEvents(ctx: Ctx) extends Workload {
  import StreamEvents._
  private val dir = new File(ctx.work, "stream_events")
  private var windows = 0

  def yaml(in: File, out: File, appendMode: Boolean, batchMs: Long = BatchMs): String =
    s"""input:
       |  file_stream:
       |    path: "${in.getPath}"
       |    format: json
       |buffer:
       |  memory:
       |    batch_policy:
       |      period: ${batchMs}ms
       |pipeline:
       |  processors:
       |    - bloblang: |
       |        root.id = this.event_id
       |        root.created_ms = this.created_ms
       |        root.kind = this.event_type.uppercase()
       |        root.amount = this.value
       |    - filter: 'this.amount >= 25'
       |output:
       |  file:
       |    path: "${out.getPath}"
       |    codec: json
       |""".stripMargin + (if (appendMode) "    mode: append\n" else "")

  val warmupPasses = 1

  /** Drops event files into `in` (written aside, then renamed in) and keeps
    * what the benchmark needs to know about each. */
  final class Generator(root: File, seed: Long) {
    val in = new File(root, "in")
    private val staging = new File(root, "staging")
    in.mkdirs(); staging.mkdirs()
    private val rnd = new SplittableRandom(seed)
    private var nextId = 0L
    /** (file name, due ms, dropped ms) */
    val drops = mutable.ArrayBuffer.empty[(String, Long, Long)]
    var expect: Stats.Digest = Stats.Digest.empty

    def drop(dueMs: Long): Unit = {
      val name = f"ev-${drops.size}%06d.json"
      val (text, es) = Gen.streamFile(rnd, nextId, PerFile, dueMs)
      nextId += PerFile
      val tmp = new File(staging, name)
      Files.write(tmp, text)
      JFiles.move(tmp.toPath, new File(in, name).toPath, StandardCopyOption.ATOMIC_MOVE)
      drops += ((name, dueMs, System.currentTimeMillis()))
      expect = es.filter(Gen.keeps).foldLeft(expect)((d, e) => d.add(Stats.hashString(Gen.streamRow(e))))
    }

    /** Open loop: one drop per period, timed from its due time, for `ms`.
      * Spark fires processing-time triggers at whole multiples of their
      * interval, so due times sit at a fixed phase of that clock (mid
      * period); otherwise each run would add a random 0-100 ms offset to
      * every latency. */
    def run(ms: Long): Thread = {
      val t = new Thread(() => {
        val t0 = (System.currentTimeMillis() / PeriodMs) * PeriodMs + PeriodMs / 2
        var i = 1
        while (i * PeriodMs <= ms) {
          val due = t0 + i * PeriodMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          drop(due)
          i += 1
        }
      }, "graftbench-generator")
      t.start()
      t
    }
  }

  /** One stream: bootstrap file, start, drive for `ms`, drain, stop. */
  private def stream(spark: SparkSession, t: Tracer, ms: Long, batchMs: Long,
      name: String): Drive = {
    windows += 1
    val root = new File(dir, s"$name-$windows")
    Files.delete(root)
    val gen = new Generator(root, ctx.seed * 1000 + windows)
    val out = new File(root, "out")
    val ckpt = new File(root, "checkpoint")
    // the file_stream input infers its schema from the files present at start
    gen.drop(System.currentTimeMillis())
    t.op("stream") {
      val spec = t.span("runtime.Config.load")(Config.load(yaml(gen.in, out, appendMode = true, batchMs)))
      val q = t.span("spec.runStream")(spec.runStream(spark, ckpt.getPath))
      val t0 = System.currentTimeMillis()
      try {
        gen.run(ms).join()
        q.processAllAvailable()
      } finally q.stop()
      new Drive(gen, out, Checkpoint.read(ckpt), t0, q.runId.toString)
    }
  }

  private final class Drive(val gen: Generator, val out: File, val log: Checkpoint.Log,
      val started: Long, val runId: String)

  /** Output rows and their digest, read from the sink's files. */
  private def delivered(out: File): Stats.Digest =
    Files.jsonLines(out).foldLeft(Stats.Digest.empty) { (d, n) =>
      d.add(Stats.hashString(Seq(n.path("id").asText(), n.path("kind").asText(),
        Stats.canonicalDouble(n.path("amount").asDouble())).mkString("|")))
    }

  private def exactlyOnce(gen: Generator, out: File): Option[String] = {
    val got = delivered(out)
    if (got == gen.expect) None
    else Some(s"stream delivered ${got.render}, expected ${gen.expect.render}")
  }

  /** Stream inputs are generated live, by the open-loop generator. */
  def generate(spark: SparkSession): Unit = Files.delete(dir)

  /** One stream, with the config's micro-batch period cut to the drop
    * period: a batch per file, so the JIT sees five times as many batches
    * as the measured stream would run in the same time. With a 3 s warm-up
    * at the config's own period, batch times were still falling by half
    * across a 30 s window. */
  def warmup(spark: SparkSession): Unit = {
    val d = stream(spark, Tracer.Off, WarmupMs, PeriodMs, "warmup")
    exactlyOnce(d.gen, d.out).foreach(p => throw new IllegalStateException(s"warm-up stream: $p"))
  }

  def window(spark: SparkSession, t: Tracer, seconds: Int): WindowResult = {
    val d = stream(spark, t, seconds * 1000L, BatchMs, "window")
    val (gen, out, log, started) = (d.gen, d.out, d.log, d.started)
    val live = gen.drops.filter(_._2 >= started).toSeq
    val lat = live.map { case (f, due, _) =>
      log.batchOf.get(f).flatMap(log.commitMs.get).map(c => (c - due) / 1000.0)
        .getOrElse(Double.NaN)
    }
    val missing = lat.count(_.isNaN)
    val samples = lat.filterNot(_.isNaN)
    val problems = exactlyOnce(gen, out).toSeq ++
      (if (missing > 0) Seq(s"$missing dropped files never committed") else Nil)
    val walls = log.batchWallS
    val firstDue = live.headOption.map(_._2).getOrElse(started)
    val lastCommit = if (log.commitMs.isEmpty) firstDue + 1 else log.commitMs.values.max
    val layer =
      if (!t.enabled) Map.empty[String, Double]
      else streamLayers(t, gen, log, started, d.runId)
    WindowResult(
      // one operation is one file's delivery, as for the latency samples;
      // single micro-batch times are per-layer (`stream.batch_s_p50`)
      wallS = if (samples.isEmpty) Double.NaN else Stats.median(samples),
      rowsPerS = gen.expect.count / math.max(1e-3, (lastCommit - firstDue) / 1000.0),
      latencies = samples, attempted = live.size, failed = missing + (if (problems.isEmpty) 0 else 1),
      problems = problems,
      notes = Map("files" -> gen.drops.size, "latency_samples" -> samples.size,
        "batches" -> log.commitMs.size, "events_delivered" -> gen.expect.count,
        "batch_wall_s" -> walls),
      layer = layer)
  }

  private def streamLayers(t: Tracer, gen: Generator, log: Checkpoint.Log,
      started: Long, runId: String): Map[String, Double] = {
    val prog = t.progress(runId, if (log.commitMs.isEmpty) -1L else log.commitMs.keys.max)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, ks: String*): Double =
      ks.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1000.0
    val busy = prog.filter(_.numInputRows > 0)
    def med(ks: String*): Double =
      if (busy.isEmpty) 0.0 else Stats.median(busy.map(p => dur(p, ks: _*)))
    // micro-batch spans under the stream's op span; jobs re-parent onto them
    prog.foreach { p =>
      val s0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      t.spans.add(Span(t.nextId(), t.lastOp, t.lastOp, s"batch ${p.batchId}", s0,
        s0 + (dur(p, "triggerExecution") * 1000).toLong, "batch"))
    }
    // files waiting (dropped, not yet committed) at each drop instant
    val commitOf = gen.drops.flatMap { case (f, _, dropped) =>
      log.batchOf.get(f).flatMap(log.commitMs.get).map(c => (dropped, c))
    }
    val backlog = commitOf.map { case (d, _) => commitOf.count { case (d2, c2) => d2 <= d && c2 > d } }
    Map(
      "stream.batches" -> prog.size.toDouble,
      "stream.empty_batch_share" ->
        (if (prog.isEmpty) 0.0 else prog.count(_.numInputRows == 0).toDouble / prog.size),
      "stream.batch_s_p50" -> med("triggerExecution"),
      "stream.offset_s" -> med("latestOffset", "getOffset"),
      "stream.plan_s" -> med("queryPlanning", "getBatch"),
      "stream.add_batch_s" -> med("addBatch"),
      "stream.commit_s" -> med("walCommit", "commitOffsets"),
      "stream.rows_per_batch" ->
        (if (busy.isEmpty) 0.0 else busy.map(_.numInputRows.toDouble).sum / busy.size),
      "stream.backlog_files_max" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
      "generator.lag_s" ->
        gen.drops.filter(_._2 >= started).map { case (_, due, d) => (d - due) / 1000.0 }
          .maxOption.getOrElse(0.0))
  }

  /** Conformance (b): a short stream whose `file` output keeps the default
    * mode. Three files arrive in three micro-batches; all their rows must
    * be in the output afterwards. */
  def conformance(spark: SparkSession): Seq[Conformance] = {
    val root = new File(dir, "conformance")
    Files.delete(root)
    val gen = new Generator(root, ctx.seed * 1000 + 999)
    val out = new File(root, "out")
    val verdict =
      try {
        gen.drop(System.currentTimeMillis())
        val q = Config.load(yaml(gen.in, out, appendMode = false))
          .runStream(spark, new File(root, "checkpoint").getPath)
        try {
          q.processAllAvailable()
          (1 to 2).foreach { _ => gen.drop(System.currentTimeMillis()); q.processAllAvailable() }
        } finally q.stop()
        val got = delivered(out)
        if (got == gen.expect) None
        else Some(s"default-mode file output kept ${got.count} of ${gen.expect.count} rows")
      } catch { case e: Throwable => Some(Workload.firstLine(e)) }
    Seq(Conformance("stream_file_output_default_mode", verdict))
  }
}

object StreamEvents {
  val PerFile = 2000
  val PeriodMs = 100L
  /** The config's `buffer.memory.batch_policy.period`. */
  val BatchMs = 500L
  val WarmupMs = 8000L
}

/** What a finished query's checkpoint records: which micro-batch took each
  * input file (the file source's log), and when each batch was planned
  * (offset log) and committed (commit log), from the files' mtimes. */
object Checkpoint {
  final case class Log(batchOf: Map[String, Long], commitMs: Map[Long, Double],
      offsetMs: Map[Long, Double]) {
    /** Planned-to-committed wall of every batch that took input. */
    def batchWallS: Seq[Double] = {
      val busy = batchOf.values.toSet
      commitMs.toSeq.sortBy(_._1).collect {
        case (b, c) if busy(b) && offsetMs.contains(b) => (c - offsetMs(b)) / 1000.0
      }
    }
  }

  /** Modification time in milliseconds, with the file system's sub-ms digits. */
  def mtimeMs(f: File): Double =
    JFiles.getLastModifiedTime(f.toPath).to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0

  def read(ckpt: File): Log = {
    def numbered(sub: String): Map[Long, Double] =
      Option(new File(ckpt, sub).listFiles()).toSeq.flatten
        .filter(_.getName.forall(_.isDigit))
        .map(f => f.getName.toLong -> mtimeMs(f)).toMap
    val batchOf = Option(new File(ckpt, "sources/0").listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith(".")).flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().filter(_.startsWith("{")).map(Json.parse).map { n =>
          new File(new java.net.URI(n.path("path").asText()).getPath).getName ->
            n.path("batchId").asLong()
        }.toVector
        finally src.close()
      }.toMap
    Log(batchOf, numbered("commits"), numbered("offsets"))
  }
}
