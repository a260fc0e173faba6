package graftbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.Processor
import graft.runtime.Config
import graft.sinks.Sink

/** `pipeline_batch`: a YAML config through graft's front door
  * (`Config.load` → `StreamSpec.run`), closed loop, one client. JSON
  * source parsing, the Bloblang compiler, dedupe, switch and a file sink. */
final class PipelineBatch(ctx: Ctx) extends Workload {
  private val dir = new File(ctx.work, "pipeline_batch")
  private val in = new File(dir, "in")
  private val out = new File(dir, "out")
  private var expect: Gen.BatchExpect = _

  def yaml(inDir: File, outDir: File): String =
    s"""input:
       |  file:
       |    paths: [ "${inDir.getPath}/*.jsonl" ]
       |    codec: json
       |pipeline:
       |  processors:
       |    - bloblang: |
       |        root.id = this.event_id
       |        root.user = this.user_id
       |        root.kind = this.event_type.uppercase()
       |        root.amount = this.value
       |        root.k = this.props.parse_json().k
       |    - filter: 'this.id != null && this.amount >= 25'
       |    - dedupe:
       |        key: '$${! this.id }'
       |    - switch:
       |        - check: 'this.kind == "PURCHASE" || this.amount >= 90'
       |          processors:
       |            - bloblang: |
       |                root = this
       |                root.bucket = "priority"
       |        - processors:
       |            - bloblang: |
       |                root = this
       |                root.bucket = "standard"
       |output:
       |  file:
       |    path: "${outDir.getPath}"
       |    codec: json
       |""".stripMargin

  def generate(spark: SparkSession): Unit = {
    Files.delete(dir)
    expect = Gen.batchInput(ctx.seed, PipelineBatch.Distinct, PipelineBatch.InputFiles, in)
  }

  /** The first pass is cold (class loading, code generation); the later
    * ones let the JIT settle before the window. */
  val warmupPasses = 4

  def warmup(spark: SparkSession): Unit = (1 to warmupPasses).foreach { i =>
    pass(spark, Tracer.Off)
    check().foreach(p => throw new IllegalStateException(s"warm-up pass $i: $p"))
  }

  /** One pass: load the config and run it with `StreamSpec.run`. The
    * spec's input, each processor and the output are wrapped in spans,
    * which only run their body when the tracer is off, so traced and
    * untraced passes take the same path. */
  private def pass(spark: SparkSession, t: Tracer): Unit = t.op("pass") {
    val spec = t.span("runtime.Config.load")(Config.load(yaml(in, out)))
    spec.copy(
      input = s => t.span("spec.input")(spec.input(s)),
      pipeline = spec.pipeline.map(p => PipelineBatch.traced(t, p)),
      output = PipelineBatch.traced(t, spec.output)).run(spark)
  }

  def window(spark: SparkSession, t: Tracer, seconds: Int): WindowResult = {
    val walls = Seq.newBuilder[Double]
    var failed = 0
    var problems = List.empty[String]
    val end = System.nanoTime() + seconds * 1000000000L
    var n = 0
    while (n < PipelineBatch.MinPasses || System.nanoTime() < end) {
      System.gc() // every pass starts from the same heap, not the check's garbage
      val t0 = System.nanoTime()
      pass(spark, t)
      walls += (System.nanoTime() - t0) / 1e9
      check().foreach { p => failed += 1; problems ::= p }
      n += 1
    }
    val w = walls.result()
    val wall = Stats.median(w)
    WindowResult(wall, expect.lines / wall, w, n, failed, problems.reverse,
      Map("passes" -> n, "input_lines" -> expect.lines, "pass_s" -> w))
  }

  /** Compares the sink's files with the generator's expectation: rows per
    * bucket and a digest of every delivered row. */
  def check(): Option[String] = {
    val got = scala.collection.mutable.Map.empty[String, Stats.Digest]
    Files.jsonLines(out).foreach { n =>
      val b = n.path("bucket").asText()
      val row = Seq(n.path("id").asText(), n.path("user").asText(), n.path("kind").asText(),
        Stats.canonicalDouble(n.path("amount").asDouble()), n.path("k").asText(), b)
        .mkString("|")
      got(b) = got.getOrElse(b, Stats.Digest.empty).add(Stats.hashString(row))
    }
    val want = expect.perBucket
    if (got.toMap == want) None
    else Some(s"pipeline_batch output ${render(got.toMap)} != expected ${render(want)}")
  }

  private def render(m: Map[String, Stats.Digest]): String =
    m.toSeq.sortBy(_._1).map { case (k, d) => s"$k=${d.render}" }.mkString(",")

  /** Conformance (a): `try` around a reshaping `bloblang`, then `catch`.
    * Every input line must come out: reshaped when it parses, replaced by
    * the catch mapping when it does not. */
  def conformance(spark: SparkSession): Seq[Conformance] = {
    val cdir = new File(dir, "conformance")
    Files.delete(cdir)
    val cin = new File(cdir, "in")
    val cout = new File(cdir, "out")
    val exp = Gen.batchInput(ctx.seed + 1, 2000, 1, cin)
    val cfg =
      s"""input:
         |  file:
         |    paths: [ "${cin.getPath}/*.jsonl" ]
         |    codec: json
         |pipeline:
         |  processors:
         |    - try:
         |        - bloblang: |
         |            root.id = this.event_id
         |            root.kind = this.event_type.uppercase()
         |            root.k = this.props.parse_json().k
         |    - catch:
         |        - bloblang: |
         |            root.id = -1
         |            root.kind = "INVALID"
         |            root.k = -1
         |output:
         |  file:
         |    path: "${cout.getPath}"
         |    codec: json
         |""".stripMargin
    val verdict =
      try {
        Config.load(cfg).run(spark)
        val rows = Files.jsonLines(cout).size.toLong
        if (rows == exp.lines) None
        else Some(s"delivered $rows of ${exp.lines} lines")
      } catch { case e: Throwable => Some(Workload.firstLine(e)) }
    Seq(Conformance("try_bloblang_reshape_catch", verdict))
  }
}

object PipelineBatch {
  /** Distinct events; ~5 % duplicate and ~1 % malformed lines come on top. */
  val Distinct = 300000
  val InputFiles = 8
  val MinPasses = 3

  /** `p` inside a span named after its class. The tracer stays on the
    * driver: processors and sinks are applied there, never shipped. */
  def traced(t: Tracer, p: Processor): Processor = new Processor {
    @transient private val tr = t
    def apply(df: DataFrame): DataFrame =
      tr.span("processor." + p.getClass.getSimpleName.stripSuffix("$"))(p(df))
  }

  def traced(t: Tracer, s: Sink): Sink = new Sink {
    @transient private val tr = t
    def write(df: DataFrame): Unit = tr.span("output.write")(s.write(df))
  }
}
