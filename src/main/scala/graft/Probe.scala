package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.obs.JobProfile

/** The one probe main: `runMain graft.Probe <subcommand> ...`.
  *  - `query <name...> [reps]`: runs each query once to warm up, then
  *    `reps` (default 2) times, printing each run's [[printProfile]] and
  *    the best wall;
  *  - `plan [name...]`: prints `explain("formatted")` of the named queries
  *    (all of them by default), to audit pushdown, broadcasts and
  *    whole-stage codegen;
  *  - `scale [--out p] [--ops a,b] [--attr] [mult...]`: [[ScaleProbe]]'s
  *    operator families on replicated corpora, rows merged into `p`
  *    (default SCALE_r10.json); `--ops` limits the families, `--attr`
  *    prints each probe's profile and its executed plan's metrics;
  *  - `stream [--out p] [mult...]`: [[StreamProbe]]'s stateful stream
  *    shapes, rows merged into `p` (default STREAMSCALE_r10.json).
  *
  * Mults default to 1 4 16. `query` and `plan` read SPARK_GRAFT_SF_DIR
  * (default [[SfDir]]); `scale` and `stream` replicate [[SfDir]] itself.
  * Every measurement is one [[measured]] call over
  * [[graft.obs.JobProfile]], and every artifact row is one [[Row]]. A
  * usage error prints the usage line and exits 2 before a session starts.
  */
object Probe {
  /** The sf0.1 test data: what `query`, `plan` and [[Bench]] read unless
    * SPARK_GRAFT_SF_DIR names another, and what the `scale` and `stream`
    * corpora replicate (their `rows_in` assume it). */
  val SfDir = "/root/testdata/sf0.1"
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", SfDir)

  val Usage = "usage: graft.Probe query <name ...> [reps] | plan [name ...] | " +
    "scale [--out <path>] [--ops a,b] [--attr] [mult ...] | " +
    "stream [--out <path>] [mult ...]"

  sealed trait Cmd
  final case class Query(names: scala.Seq[String], reps: Int) extends Cmd
  final case class Plan(names: scala.Seq[String]) extends Cmd
  final case class Scale(out: String, ops: Set[String], attr: Boolean,
      mults: scala.Seq[Int]) extends Cmd
  final case class Stream(out: String, mults: scala.Seq[Int]) extends Cmd

  /** The command `args` ask for, or its usage error. */
  def parse(args: scala.Seq[String]): Either[String, Cmd] = args.toList match {
    case "query" :: rest =>
      val reps = if (rest.size > 1) rest.last.toIntOption else None
      val names = if (reps.isDefined) rest.init else rest
      if (names.isEmpty) Left("query needs a query name")
      else if (reps.exists(_ < 1)) Left(s"reps must be positive, got ${reps.get}")
      else select(names).map(Query(_, reps.getOrElse(2)))
    case "plan" :: rest => select(rest).map(Plan)
    case "scale" :: rest =>
      options(rest, Set("--out", "--ops"), Set("--attr")).flatMap { case (kv, flags, ms) =>
        mults(ms).map(Scale(kv.getOrElse("--out", "SCALE_r10.json"),
          kv.get("--ops").fold(Set.empty[String])(
            _.split(',').map(_.trim).filter(_.nonEmpty).toSet),
          flags("--attr"), _))
      }
    case "stream" :: rest =>
      options(rest, Set("--out"), Set.empty).flatMap { case (kv, _, ms) =>
        mults(ms).map(Stream(kv.getOrElse("--out", "STREAMSCALE_r10.json"), _))
      }
    case sub :: _ => Left(s"unknown subcommand '$sub'")
    case Nil => Left("no subcommand")
  }

  /** `args` split into the values of the `valued` flags (each takes the
    * next arg), the bare `flags` present, and the other args in order. */
  private def options(args: List[String], valued: Set[String], flags: Set[String])
      : Either[String, (Map[String, String], Set[String], List[String])] = args match {
    case f :: v :: t if valued(f) =>
      options(t, valued, flags).map { case (kv, fs, rest) => (kv + (f -> v), fs, rest) }
    case f :: Nil if valued(f) => Left(s"$f requires a value")
    case f :: t if flags(f) =>
      options(t, valued, flags).map { case (kv, fs, rest) => (kv, fs + f, rest) }
    case a :: t => options(t, valued, flags).map { case (kv, fs, rest) => (kv, fs, a :: rest) }
    case Nil => Right((Map.empty, Set.empty, Nil))
  }

  private def mults(args: List[String]): Either[String, scala.Seq[Int]] =
    if (args.isEmpty) Right(scala.Seq(1, 4, 16))
    else args.find(a => !a.toIntOption.exists(_ > 0))
      .map(a => Left(s"multiplier '$a' is not a positive integer"))
      .getOrElse(Right(args.map(_.toInt)))

  /** The registered queries `names` select, in the order given (every
    * query, sorted, when `names` is empty), or a usage error naming the
    * unknown ones. [[Bench]] and [[Verify]] select through it too. */
  def select(names: scala.Seq[String]): Either[String, scala.Seq[String]] = {
    val known = SparkEntry.queries.keySet
    val unknown = names.filterNot(known)
    if (unknown.nonEmpty) Left(s"unknown query: ${unknown.mkString(", ")}")
    else Right(if (names.isEmpty) known.toSeq.sorted else names.distinct)
  }

  /** `e`'s value; for a usage error, prints it with `usage` and exits 2. */
  def orExit[A](e: Either[String, A], usage: String = Usage): A =
    e.fold({ msg => System.err.println(s"$msg\n$usage"); sys.exit(2) }, identity)

  /** Builds the query `df` names (a streaming gate runs its stream while it
    * builds), runs it through a noop write and returns the wall seconds of
    * both; then frees the RDDs it persisted: localCheckpoint never
    * unpersists, and one query's leftover blocks slowed later ones 2-5×. */
  def execute(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    val d = df
    d.write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    d.sparkSession.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    wall
  }

  /** `f`'s result, its wall seconds and what its Spark jobs did. The
    * profile is drained and cleared before `f`, so nothing earlier (corpus
    * staging, the previous probe) is counted. */
  def measured[A](spark: SparkSession)(f: => A): (A, Double, JobProfile.Profile) = {
    val profile = JobProfile.attach(spark.sparkContext)
    profile.drain().take()
    val t0 = System.nanoTime()
    val a = f
    val wall = (System.nanoTime() - t0) / 1e9
    (a, wall, profile.drain().take())
  }

  /** Prints where one measured run's `wall` went:
    *  - per job (the 25 slowest): wall, stages, tasks, executor run/CPU
    *    time, shuffle read/write and spill bytes, description; and the
    *    driver gap, wall − Σ job walls;
    *  - `DUP-EVAL?` for two CPU-heavy jobs reading the same shuffle bytes
    *    (a range-sampling re-evaluation);
    *  - one `ATTRSTAGE` line per stage with shuffle or spill bytes or over
    *    1 s of task time. A stage's name is its action's call site
    *    ("count at Dedup.scala:920"), which attributes the bytes of an
    *    operator's internal actions (localCheckpoints, sizing counts) whose
    *    plans are gone by the final action. Max ≫ p50 task time is one
    *    straggling partition (key skew, a hot bucket); max ≈ p50 with a
    *    super-linear sum is a stage that computes more per row. */
  def printProfile(tag: String, wall: Double, p: JobProfile.Profile): Unit = {
    val jobs = p.jobs.filter(_.endMs >= 0).map(j => (j, p.countsOf(j.id)))
    val jobSum = jobs.map(_._1.wallMs).sum / 1000.0
    println(f"== $tag: wall $wall%.3f s, ${jobs.size} jobs ==")
    println(f"   sum(job walls) $jobSum%.3f s  (driver gap ${wall - jobSum}%.3f s)")
    jobs.sortBy(-_._1.wallMs).take(25).foreach { case (j, c) =>
      println(f"   job ${j.id}%3d ${j.wallMs}%6d ms  stages=${j.stageIds.size}%2d " +
        f"tasks=${c.tasks}%4d run=${c.runMs}%6d cpu=${c.cpuMs}%6d " +
        f"shufR=${c.shuffleReadBytes}%9d shufW=${c.shuffleWriteBytes}%9d " +
        f"spill=${c.spillBytes}%9d  ${j.description.take(60)}")
    }
    jobs.filter(_._2.cpuMs > 300).groupBy(_._2.shuffleReadBytes)
      .filter(_._2.size >= 2).foreach { case (sr, g) =>
        println(s"   DUP-EVAL? shufR=$sr jobs=${g.map(_._1.id).mkString(",")} " +
          s"cpuMs=${g.map(_._2.cpuMs).mkString(",")}")
      }
    p.stages.foreach { s =>
      val c = s.counts
      val (mx, p50) =
        if (s.taskRunMs.isEmpty) (0L, 0L)
        else { val a = s.taskRunMs.sorted; (a.last, a(a.length / 2)) }
      if (c.shuffleReadBytes > 0 || c.shuffleWriteBytes > 0 || c.spillBytes > 0 || c.runMs > 1000)
        println(s"ATTRSTAGE $tag stage=${s.id} tasks=${c.tasks} " +
          s"read=${c.shuffleReadBytes} write=${c.shuffleWriteBytes} spill=${c.spillBytes} " +
          s"spill_disk=${c.spillDiskBytes} records=${c.records} " +
          s"run_ms=${c.runMs} cpu_ms=${c.cpuMs} gc_ms=${c.gcMs} task_max_ms=$mx task_p50_ms=$p50 " +
          s"name=${s.name}")
    }
  }

  /** What a probe's jobs counted, and the 1-min load average when it
    * ended: co-tenant load on a shared host inflates wall and CPU counters
    * up to 4× on identical code, while records and bytes stay exact. */
  final case class Counters(counts: JobProfile.Counts, load: Double)
  object Counters {
    def of(p: JobProfile.Profile): Counters = Counters(p.total,
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
  }

  /** A stream shape's micro-batches, its peak state-store rows and the rows
    * its watermarks dropped. */
  final case class StreamStats(batches: Long, maxStateRows: Long, droppedByWatermark: Long)

  /** One artifact row. `cross` (pair emitters only) counts pairs whose
    * endpoints fall in different replica copies: the copies are unrelated
    * by construction, so these are false collisions, and a healthy emitter
    * keeps them ≈ 0. A row renders without the parts it lacks, so a row
    * without counters reads as rows written before they existed. */
  final case class Row(op: String, mult: Int, rowsIn: Long, wallSec: Double,
      rowsOut: Long, cross: Option[Long] = None,
      counters: Option[Counters] = None, stream: Option[StreamStats] = None) {
    /** On one line: [[mergeJson]] reads rows back line by line. The
      * counters' fields, what each is for:
      *  - `shuffle_read`/`shuffle_write`: written bytes are what the plan
      *    produces; read bytes also count every re-read (AQE skew splits,
      *    retries under spill), so a linear write curve under a
      *    super-linear read curve puts the growth in re-reads.
      *    `shuffle_bytes` (their sum) feeds the standing byte gates;
      *  - `retried_tasks`: non-first attempts, which inflate wall and reads;
      *  - `shuffle_records` (written): the compression-free growth signal,
      *    as codec adjacency bends compressed bytes with partition counts;
      *  - `spill_bytes` counts the in-memory size per spill pass and
      *    overstates disk pressure; `spill_disk` is what reached disk;
      *  - `task_time_ms`/`cpu_time_ms`/`gc_time_ms`: the work signal that
      *    wall-clock on a busy host cannot give. */
    def json: String = {
      val c = counters.fold("") { case Counters(k, load) =>
        s""","shuffle_bytes":${k.shuffleReadBytes + k.shuffleWriteBytes}""" +
          s""","spill_bytes":${k.spillBytes},"shuffle_read":${k.shuffleReadBytes}""" +
          s""","shuffle_write":${k.shuffleWriteBytes},"retried_tasks":${k.retried}""" +
          s""","shuffle_records":${k.records},"spill_disk":${k.spillDiskBytes}""" +
          s""","task_time_ms":${k.runMs},"cpu_time_ms":${k.cpuMs},"gc_time_ms":${k.gcMs}""" +
          f""","load":$load%.1f"""
      }
      val s = stream.fold("") { s =>
        s""","batches":${s.batches},"max_state_rows":${s.maxStateRows}""" +
          s""","dropped_by_watermark":${s.droppedByWatermark}"""
      }
      f"""{"op":"$op","mult":$mult,"rows_in":$rowsIn,"wall_s":$wallSec%.3f,""" +
        s""""rows_out":$rowsOut${cross.fold("")(x => s""","cross_pairs":$x""")}$c$s}"""
    }
  }

  /** Writes `rows` to `path`, merged by [[mergeJson]]. */
  def writeJson(path: String, mults: scala.Seq[Int], rows: scala.Seq[Row]): Unit = {
    mergeJson(path, mults, rows.map(r => (r.op, r.mult) -> r.json))
    println(s"wrote $path")
  }

  /** The header `mults` and the rows, each keyed by `(op, mult)` with its
    * text exactly as written, of an artifact [[mergeJson]] made; empty
    * when `path` does not exist. */
  private def readRows(path: String): (scala.Seq[Int], scala.Seq[((String, Int), String)]) = {
    val f = new java.io.File(path)
    if (!f.exists) return (Nil, Nil)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(f)
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val rows = try src.getLines().map(_.trim).filter(_.startsWith("{\"op\"")).map { l =>
      val raw = l.stripSuffix(",")
      val n = mapper.readTree(raw)
      (n.get("op").asText, n.get("mult").asInt) -> raw
    }.toList finally src.close()
    require(rows.size == root.get("results").size,
      s"$path: results are not one row per line; refusing to merge into it")
    val ms = root.get("mults")
    ((0 until ms.size).map(ms.get(_).asInt), rows)
  }

  /** Writes one-line `(op, mult)`-keyed rows to `path`, merging into the
    * artifact already there: a row whose `(op, mult)` this run measured
    * replaces the old row in place, every other row is kept byte for
    * byte, rows new to the file follow them, and the header's `mults`
    * becomes the union. A family's steps compare rows across mults (and,
    * for `scale`, across the SCALE_r10*.json files), so a targeted
    * `scale --ops <op> 64` or `stream 64` run must not drop the other rows. */
  private def mergeJson(path: String, mults: scala.Seq[Int],
      fresh: scala.Seq[((String, Int), String)]): Unit = {
    val (oldMults, oldRows) = readRows(path)
    val byKey = fresh.toMap
    val oldKeys = oldRows.map(_._1).toSet
    val rows = oldRows.map { case (k, raw) => byKey.getOrElse(k, raw) } ++
      fresh.filterNot { case (k, _) => oldKeys(k) }.map(_._2)
    val allMults = (oldMults ++ mults).distinct.sorted
    val body =
      s"""{"sf":"sf0.1","mults":[${allMults.mkString(",")}],"results":[\n  """ +
        rows.mkString(",\n  ") + "\n]}\n"
    val w = new java.io.PrintWriter(path)
    try w.print(body) finally w.close()
  }

  private def query(spark: SparkSession, name: String, reps: Int): Unit =
    try {
      val walls = (0 to reps).map { i =>
        val (wall, _, prof) =
          measured(spark)(execute(SparkEntry.queries(name)(spark, sfDir)))
        printProfile(s"$name ${if (i == 0) "warmup" else s"run$i"}", wall, prof)
        wall
      }
      println(f"== $name best of $reps: ${walls.tail.min}%.3f s ==")
    } catch { case e: Throwable => println(s"== $name FAILED: ${e.getMessage} ==") }

  def main(args: Array[String]): Unit = {
    val cmd = orExit(parse(args.toSeq))
    val spark = Sessions.get()
    try cmd match {
      case Query(names, reps) => names.foreach(query(spark, _, reps))
      case Plan(names) => names.foreach { name =>
        println(s"===== $name =====")
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      }
      case Scale(out, ops, attr, ms) => writeJson(out, ms, ScaleProbe.run(spark, ms, ops, attr))
      case Stream(out, ms) => writeJson(out, ms, StreamProbe.run(spark, ms))
    } finally spark.stop()
  }
}
