package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --out <dir>
  * }}}
  *
  * Set-up is session start plus input generation, then the workload's
  * warm-up passes, whose outputs are checked; `setup_s` times all of it
  * once, cold, as a user starting the program sees it. Then one untraced
  * window of `--seconds` gives the end-to-end metrics; with `--trace 1` a
  * second, traced window follows and gives the per-layer metrics. The
  * last stdout line is the result record. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      new File(a("work")), new File(a("out")))
    val wl: Workload = ctx.workload match {
      case "pipeline_batch" => new PipelineBatch(ctx)
      case "stream_events" => new StreamEvents(ctx)
      case o => throw new IllegalArgumentException(s"unknown workload $o")
    }
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val cores = Runtime.getRuntime.availableProcessors()

    var problems = Vector.empty[String]
    def guarded[T](what: String)(body: => T): Option[T] =
      try Some(body) catch {
        case e: Throwable =>
          problems :+= s"$what: ${Workload.firstLine(e)}"; None
      }

    val t0 = System.nanoTime()
    val spark = session(ctx, cores)
    guarded("input generation")(wl.generate(spark))
    val coldS = (System.nanoTime() - t0) / 1e9
    guarded("warm-up pass")(wl.warmup(spark))
    val setupS = (System.nanoTime() - t0) / 1e9
    val plain = guarded("window")(wl.window(spark, Tracer.Off, ctx.seconds))
    val heapMb = retainedHeapMb()
    val tracer = new Tracer(true)
    val traced = if (!ctx.trace) None else {
      tracer.attach(spark)
      try guarded("traced window")(wl.window(spark, tracer, ctx.seconds))
      finally { tracer.drain(); tracer.detach() }
    }
    // only the per-layer `failed_share` counts the conformance operations,
    // so untraced runs, which report none of it, skip them
    val conformance =
      if (!ctx.trace) Nil else guarded("conformance")(wl.conformance(spark)).getOrElse(Nil)
    val machine = Map(
      "nproc" -> cores,
      "session_cores" -> spark.sparkContext.defaultParallelism,
      "load_avg_start" -> loadStart,
      "load_avg_end" -> os.getSystemLoadAverage,
      "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version,
      "jdk_version" -> System.getProperty("java.version"),
      "session_and_generation_s" -> coldS,
      "warmup_passes" -> wl.warmupPasses,
      "warmup_s" -> (setupS - coldS))
    stop(spark)

    val windows = plain.toSeq ++ traced.toSeq
    problems ++= windows.flatMap(_.problems)
    val attempted = windows.map(_.attempted).sum
    val failed = windows.map(_.failed).sum
    val metrics: Map[String, (Double, String)] =
      if (!ctx.trace) plain.map(w => Report.endToEnd(w, setupS, heapMb)).getOrElse(Map.empty)
      else (for (p <- plain; t <- traced)
        yield Report.perLayer(tracer, p, t, conformance, cores)).getOrElse(Map.empty)
    val record = scala.collection.immutable.ListMap(
      "correct" -> (problems.isEmpty && metrics.nonEmpty),
      "attempted" -> math.max(attempted, 1),
      "failed" -> (if (metrics.isEmpty) math.max(attempted, 1) else failed),
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u)
      }.toMap)

    val tag = s"${ctx.workload}-seed${ctx.seed}-trace${if (ctx.trace) 1 else 0}"
    val detail = Map("workload" -> ctx.workload, "seed" -> ctx.seed,
      "seconds" -> ctx.seconds, "machine" -> machine, "problems" -> problems,
      "conformance" -> conformance.map(c => Map("name" -> c.name,
        "passed" -> c.problem.isEmpty, "problem" -> c.problem)),
      "notes" -> windows.map(_.notes),
      "latency" -> plain.map(w => Map("samples" -> w.latencies.size,
        "highest_percentile_with_10_beyond" -> Stats.highestSupported(w.latencies.size),
        "quartiles_s" -> (if (w.latencies.size < 2) None else {
          val (q1, q2, q3) = Stats.quartiles(w.latencies); Some(Seq(q1, q2, q3)) }))),
      "result" -> record)
    Files.write(new File(ctx.out, s"$tag.json"), Json.render(detail) + "\n")
    if (ctx.trace) Files.write(new File(ctx.out, s"spans-$tag.json"),
      Json.render(tracer.spans.toArray(new Array[Span](0)).toSeq.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "kind" -> s.kind, "start_ms" -> s.start, "end_ms" -> s.end))) + "\n")

    println(Json.render(Map("machine" -> machine)))
    conformance.foreach { c =>
      println(s"conformance ${c.name}: " + c.problem.map("FAILED - " + _).getOrElse("passed"))
    }
    problems.foreach(p => println(s"problem: $p"))
    println(Json.render(record))
  }

  def session(ctx: Ctx, cores: Int): SparkSession = {
    val local = new File(ctx.work, "spark")
    val spark = graft.Sessions.builder(cores.toString)
      .config("spark.local.dir", new File(local, "local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(local, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation", new File(local, "checkpoints").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Heap still in use after full collections. Spark's ContextCleaner frees
    * broadcasts and shuffles only once their handles were collected, so
    * collect, give it a moment, and collect again. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Turns window results into the named metrics `BENCHMARK.json` lists. */
object Report {

  def endToEnd(w: WindowResult, setupS: Double, heapMb: Double)
      : Map[String, (Double, String)] = Map(
    "setup_s" -> (setupS, "s"),
    "wall_s" -> (w.wallS, "s"),
    "rows_per_s" -> (w.rowsPerS, "1/s"),
    "latency_p50_s" -> (Stats.percentile(w.latencies, 50), "s"),
    "latency_p90_s" -> (Stats.percentile(w.latencies, 90), "s"),
    "heap_retained_mb" -> (heapMb, "MB"))

  /** Span groups whose self time is reported as `self.<group>_s`. */
  val SelfGroups: Seq[String] = Seq("op", "config_load", "source_plan",
    "processors", "sink_write", "stream_start", "micro_batch", "jobs", "stages")

  private def group(s: Span): String = s.kind match {
    case "job" => "jobs"
    case "stage" => "stages"
    case "batch" => "micro_batch"
    case _ if s.parent == 0 => "op"
    case _ => s.name match {
      case "runtime.Config.load" => "config_load"
      case "spec.input" => "source_plan"
      case n if n.startsWith("processor.") => "processors"
      case "output.write" => "sink_write"
      case "spec.runStream" => "stream_start"
      case n => n
    }
  }

  def perLayer(t: Tracer, plain: WindowResult, traced: WindowResult,
      conformance: Seq[Conformance], cores: Int): Map[String, (Double, String)] = {
    val spans = t.spans.toArray(new Array[Span](0)).toSeq
    val roots = spans.filter(s => s.kind == "layer" && s.parent == 0)
    val units = traced.notes.get("passes").map(_.toString.toDouble).getOrElse(1.0)
    val byId = spans.map(s => s.id -> s).toMap
    // a job started by a stream thread after its starting span closed hangs
    // under the micro-batch that ran it (or the operation itself)
    val parentOf: Map[Long, Long] = spans.map { s =>
      val p = byId.get(s.parent)
      val fits = p.exists(x => s.start >= x.start && s.start <= x.end)
      s.id -> (if (s.kind != "job" || fits || p.isEmpty) s.parent
        else spans.find(b => b.kind == "batch" && b.op == s.op && s.start >= b.start &&
          s.start <= b.end).map(_.id).getOrElse(s.op))
    }.toMap
    val children = spans.groupBy(s => parentOf(s.id))
    def self(s: Span): Long =
      s.dur - Stats.coveredWithin(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)),
        s.start, s.end)
    val selfBy = spans.groupBy(group).map { case (g, ss) => g -> ss.map(self).sum / 1000.0 }

    val rootWall = roots.map(_.dur).sum / 1000.0
    val jobSpans = spans.filter(_.kind == "job")
    val gap = roots.map { r =>
      r.dur - Stats.coveredWithin(jobSpans.filter(_.op == r.op).map(j => (j.start, j.end)),
        r.start, r.end)
    }.sum / 1000.0
    val acts = t.actions.toArray(new Array[(Long, Map[String, Long])](0)).toSeq
      .filter { case (at, _) => roots.exists(r => at >= r.start && at <= r.end) }
    def phase(p: String): Double = acts.map(_._2.getOrElse(p, 0L)).sum / 1000.0
    def total(k: String): Double = {
      var s = 0.0
      t.perOp.byOp.forEach((_, m) => m.synchronized { s += m.getOrElse(k, 0.0) })
      s
    }
    def spanSum(names: String*): Double =
      spans.filter(s => s.kind == "layer" &&
        names.exists(n => s.name == n || (n.endsWith(".") && s.name.startsWith(n))))
        .map(_.dur).sum / 1000.0
    val runS = total("run_ms") / 1000.0
    val confFailed = conformance.count(_.problem.nonEmpty)
    val perUnit = Map(
      "runtime.config_load_s" -> spanSum("runtime.Config.load"),
      // the source's and each processor's lazy plan, not their execution
      "ops.plan_build_s" -> spanSum("spec.input", "processor."),
      "driver.analysis_s" -> phase("analysis"),
      "driver.optimization_s" -> phase("optimization"),
      "driver.planning_s" -> phase("planning"),
      "driver.gap_s" -> gap,
      "spark.jobs" -> total("jobs"),
      "spark.stages" -> total("stages"),
      "spark.tasks" -> total("tasks"),
      "spark.task_failures" -> total("task_failures"),
      "exec.run_s" -> runS,
      "exec.cpu_s" -> total("cpu_ns") / 1e9,
      "exec.gc_s" -> total("gc_ms") / 1000.0,
      "shuffle.write_bytes" -> total("shuffle_write_bytes"),
      "shuffle.read_bytes" -> total("shuffle_read_bytes"),
      "shuffle.records" -> total("shuffle_write_records"),
      "spill.disk_bytes" -> total("spill_disk_bytes"),
      "source.rows_in" -> total("input_records"),
      "source.bytes_in" -> total("input_bytes"),
      "sink.write_s" -> spanSum("output.write"),
      "sink.rows_out" -> total("output_records"),
      "sink.bytes_out" -> total("output_bytes")) ++
      SelfGroups.map(g => s"self.${g}_s" -> selfBy.getOrElse(g, 0.0))
    val values: Map[String, Double] = perUnit.map { case (k, v) => k -> v / units } ++ Map(
      "spark.jobs_per_action" -> (if (acts.isEmpty) 0.0 else total("jobs") / acts.size),
      "exec.busy_share" -> (if (rootWall <= 0) 0.0 else runS / (rootWall * cores)),
      "trace.wall_s" -> traced.wallS,
      "trace.untraced_wall_s" -> plain.wallS,
      "trace.overhead_s" -> (traced.wallS - plain.wallS),
      "latency_samples" -> plain.latencies.size.toDouble,
      "conformance.attempted" -> conformance.size.toDouble,
      "conformance.failed" -> confFailed.toDouble,
      "failed_share" -> (plain.failed + confFailed).toDouble /
        math.max(1, plain.attempted + conformance.size)) ++ traced.layer
    PerLayer.map { case (name, unit) => name -> (values.getOrElse(name, 0.0), unit) }.toMap
  }

  /** Every per-layer metric with its unit; workloads a metric does not
    * apply to report 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "runtime.config_load_s" -> "s", "ops.plan_build_s" -> "s",
    "driver.analysis_s" -> "s", "driver.optimization_s" -> "s", "driver.planning_s" -> "s",
    "driver.gap_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_failures" -> "count", "spark.jobs_per_action" -> "ratio",
    "exec.run_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.busy_share" -> "ratio",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.records" -> "count", "spill.disk_bytes" -> "bytes",
    "source.rows_in" -> "count", "source.bytes_in" -> "bytes",
    "sink.write_s" -> "s", "sink.rows_out" -> "count", "sink.bytes_out" -> "bytes",
    "stream.batches" -> "count", "stream.empty_batch_share" -> "ratio",
    "stream.batch_s_p50" -> "s", "stream.offset_s" -> "s", "stream.plan_s" -> "s",
    "stream.add_batch_s" -> "s", "stream.commit_s" -> "s",
    "stream.rows_per_batch" -> "count", "stream.backlog_files_max" -> "count",
    "generator.lag_s" -> "s") ++
    SelfGroups.map(g => s"self.${g}_s" -> "s") ++ Seq(
    "trace.wall_s" -> "s", "trace.untraced_wall_s" -> "s", "trace.overhead_s" -> "s",
    "latency_samples" -> "count",
    "conformance.attempted" -> "count", "conformance.failed" -> "count",
    "failed_share" -> "ratio")
}
