package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.runtime.Config

/** YAML config loader: a Benthos-shaped config compiles and runs end to
  * end (FIXTURES.md §4 anchors the shape). */
class ConfigSpec extends AnyFunSuite {
  lazy val spark = Sessions.builder("4").getOrCreate()

  test("generate → bloblang → file(lines) round trip") {
    val out = Files.createTempDirectory("graft-cfg").toString + "/out"
    val spec = Config.load(
      s"""input:
         |  generate:
         |    count: 50
         |    mapping: |
         |      root.i = this.i
         |      root.sq = this.i * this.i
         |pipeline:
         |  processors:
         |    - bloblang: |
         |        root = this
         |        root.tag = "n" + this.i.string()
         |    - filter: this.i % 2 == 0
         |output:
         |  file:
         |    path: $out
         |    codec: lines
         |""".stripMargin)
    spec.run(spark)
    val lines = spark.read.text(out).count()
    assert(lines == 25)
  }

  test("interpolated file path: one partitionBy pass, renamed to the per-path layout") {
    val base = Files.createTempDirectory("graft-cfg-dyn").toString
    val spec = Config.load(
      s"""input:
         |  generate:
         |    count: 40
         |    mapping: "root.i = this.i"
         |pipeline:
         |  processors: []
         |output:
         |  file:
         |    path: "$base/b$${! this.i % 8 }/part"
         |    codec: lines
         |""".stripMargin)
    spec.run(spark)
    // 8 distinct paths -> one partitionBy pass, renamed to one directory
    // per resolved path
    (0 until 8).foreach { k =>
      val n = spark.read.text(s"$base/b$k/part").count()
      assert(n == 5, s"b$k/part: $n lines")
    }
    assert(!new java.io.File(base).listFiles().exists(
      _.getName.startsWith("_graft_tmp_")))
  }

  test("switch processors + broker fan_out output") {
    val o1 = Files.createTempDirectory("graft-cfg").toString + "/a"
    val o2 = Files.createTempDirectory("graft-cfg").toString + "/b"
    val spec = Config.load(
      s"""input:
         |  generate:
         |    count: 20
         |    mapping: "root.i = this.i"
         |pipeline:
         |  processors:
         |    - switch:
         |        - check: this.i < 10
         |          processors:
         |            - bloblang: |
         |                root.i = this.i
         |                root.half = "low"
         |        - processors:
         |            - bloblang: |
         |                root.i = this.i
         |                root.half = "high"
         |output:
         |  broker:
         |    outputs:
         |      - file: { path: $o1, codec: lines }
         |      - file: { path: $o2, codec: lines }
         |""".stripMargin)
    spec.run(spark)
    assert(spark.read.text(o1).count() == 20)
    assert(spark.read.text(o2).count() == 20)
  }

  test("env var interpolation") {
    val spec = Config.load(
      """input:
        |  generate:
        |    count: ${GRAFT_TEST_COUNT:7}
        |    mapping: "root.i = this.i"
        |output:
        |  drop: {}
        |""".stripMargin)
    // count default applies since env var unset
    val df = spec.input(spark)
    assert(df.count() == 7)
  }

  test("read_until input wrapper") {
    val spec = Config.load(
      """input:
        |  read_until:
        |    check: this.i >= 5
        |    input:
        |      generate:
        |        count: 100
        |        mapping: "root.i = this.i"
        |output:
        |  drop: {}
        |""".stripMargin)
    // the triggering message itself is delivered (lib/input/read_until.go:31)
    assert(spec.input(spark).count() == 6)
  }

  test("streaming config: file_stream → bloblang → file(append)") {
    val src = Files.createTempDirectory("graft-ss").toString
    val dst = Files.createTempDirectory("graft-sd").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-ck").toString
    // stage source files
    spark.range(40).selectExpr("id AS i", "id * 2 AS v")
      .write.mode("overwrite").parquet(src)
    val spec = Config.load(
      s"""input:
         |  file_stream:
         |    path: $src
         |    format: parquet
         |pipeline:
         |  processors:
         |    - bloblang: |
         |        root.i = this.i
         |        root.v3 = this.v * 3
         |    - filter: this.i < 20
         |output:
         |  file:
         |    path: $dst
         |    codec: lines
         |    mode: append
         |""".stripMargin)
    assert(spec.streaming)
    val q = spec.runStream(spark, ckpt)
    q.processAllAvailable(); q.stop()
    assert(spark.read.text(dst).count() == 20)
  }

  test("lint accepts valid configs and reports broken ones") {
    val good = graft.runtime.Lint.lint(
      """input:
        |  generate: { count: 1, mapping: "root.i = this.i" }
        |output:
        |  drop: {}
        |""".stripMargin)
    assert(good.isEmpty, good.mkString("; "))
    val badProcessor = graft.runtime.Lint.lint(
      """input:
        |  generate: { count: 1, mapping: "root.i = this.i" }
        |pipeline:
        |  processors:
        |    - no_such_processor: {}
        |output:
        |  drop: {}
        |""".stripMargin)
    assert(badProcessor.exists(_.contains("no_such_processor")))
    val badMapping = graft.runtime.Lint.lint(
      """input:
        |  generate: { count: 1, mapping: "root.i = = broken" }
        |output:
        |  drop: {}
        |""".stripMargin)
    assert(badMapping.nonEmpty)
  }

  test("branch + workflow from YAML compose enrichment stages") {
    val out = java.nio.file.Files.createTempDirectory("graft-wf").toString + "/o"
    val spec = Config.load(
      s"""input:
         |  generate:
         |    count: 5
         |    mapping: "root.a = this.i + 1"
         |pipeline:
         |  processors:
         |    - workflow:
         |        branches:
         |          b1:
         |            request_map: "root.a = this.a"
         |            processors:
         |              - bloblang: "root.r = this.a * 2"
         |            result_map: "root.doubled = this.r"
         |          b2:
         |            request_map: "root.doubled = this.doubled"
         |            processors:
         |              - bloblang: "root.r = this.doubled + 1"
         |            result_map: "root.plus = this.r"
         |output:
         |  file: { path: $out, codec: lines }
         |""".stripMargin)
    spec.run(spark)
    val lines = spark.read.json(out)
    assert(lines.count() == 5)
    // b2 depends on b1's output: plus = a*2 + 1
    assert(lines.filter(org.apache.spark.sql.functions.expr("plus = a * 2 + 1")).count() == 5)
  }

  test("broker round_robin / retry / resource outputs + sleep processor") {
    val d1 = Files.createTempDirectory("graft-rr").toString + "/a"
    val d2 = Files.createTempDirectory("graft-rr").toString + "/b"
    graft.sinks.Sinks.OutputResources.register("res-out",
      graft.sinks.Sinks.FileSink(d2, "lines"))
    val spec = Config.load(
      s"""input:
         |  generate:
         |    count: 10
         |    mapping: "root.i = this.i"
         |pipeline:
         |  processors:
         |    - sleep: { duration: 1ms }
         |output:
         |  broker:
         |    pattern: round_robin
         |    outputs:
         |      - retry:
         |          max_retries: 2
         |          output:
         |            file: { path: "$d1", codec: lines }
         |      - resource: res-out
         |""".stripMargin)
    spec.run(spark)
    val a = spark.read.text(d1).count()
    val b = spark.read.text(d2).count()
    // round_robin distributes deterministically by seq mod N; with sparse
    // monotonic seqs the split is even-ish, not an exact rotation
    assert(a + b == 10 && a > 0 && b > 0, s"a=$a b=$b")
  }

  test("spark_format generic connector input/output") {
    // batch: read parquet through the generic mechanism, write json out
    val src = Files.createTempDirectory("graft-sfmt").toString + "/in"
    val dst = Files.createTempDirectory("graft-sfmt").toString + "/out"
    spark.range(10).selectExpr("id", "id * 3 AS v")
      .write.mode("overwrite").parquet(src)
    val spec = Config.load(
      s"""input:
         |  spark_format:
         |    format: parquet
         |    streaming: false
         |    options: { path: "$src" }
         |output:
         |  spark_format:
         |    format: json
         |    mode: overwrite
         |    options: { path: "$dst" }
         |""".stripMargin)
    assert(!spec.streaming)
    spec.run(spark)
    assert(spark.read.json(dst).count() == 10)
    // streaming flavor compiles against the built-in rate source
    val sspec = Config.load(
      """input:
        |  spark_format:
        |    format: rate
        |    options: { rowsPerSecond: "5" }
        |output:
        |  drop: {}
        |""".stripMargin)
    assert(sspec.streaming)
    assert(sspec.input(spark).isStreaming)
  }

  test("round-3 YAML surface: jq, text, hash/encode, metadata, conditional, insert_part") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cfg3").toString
    val spec = graft.runtime.Config.load(
      s"""input:
         |  generate:
         |    count: 4
         |    mapping: "root.i = this.i"
         |pipeline:
         |  processors:
         |    - conditional:
         |        condition: "this.i % 2 == 0"
         |        processors:
         |          - bloblang: "root.i = this.i\\nroot.kind = \\"even\\""
         |        else_processors:
         |          - bloblang: "root.i = this.i\\nroot.kind = \\"odd\\""
         |    - metadata:
         |        operator: set
         |        key: src
         |        value: "gen-$${! this.kind }"
         |    - jq:
         |        query: ".kind"
         |output:
         |  file:
         |    path: $dir/out
         |    format: lines
         |""".stripMargin.replace("$$", "$"))
    spec.run(spark)
    val lines = spark.read.text(s"$dir/out").collect().map(_.getString(0)).sorted
    assert(lines.toList == List("even", "even", "odd", "odd"))

    // content-transform processors compile and evaluate
    val enc = graft.runtime.Config.load(
      """input:
        |  generate:
        |    count: 1
        |    mapping: "root = \"hi\""
        |pipeline:
        |  processors:
        |    - encode:
        |        scheme: base64
        |    - decode:
        |        scheme: base64
        |output:
        |  drop: {}
        |""".stripMargin)
    assert(enc.pipeline.length == 2)

    val ins = graft.runtime.Config.load(
      """input:
        |  generate:
        |    count: 2
        |    mapping: "root.i = this.i"
        |pipeline:
        |  processors:
        |    - insert_part:
        |        index: 0
        |        content: "header"
        |output:
        |  drop: {}
        |""".stripMargin)
    assert(ins.pipeline.length == 1)
  }

  test("number + process_field from YAML") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cfg4").toString
    val spec = graft.runtime.Config.load(
      s"""input:
         |  generate:
         |    count: 3
         |    mapping: "root.i = this.i"
         |pipeline:
         |  processors:
         |    - process_field:
         |        path: i
         |        processors:
         |          - bloblang: "root = this + 10"
         |output:
         |  file:
         |    path: $dir/out
         |    format: json
         |""".stripMargin)
    spec.run(spark)
    val vals = spark.read.json(s"$dir/out").select("i").collect()
      .map(_.getLong(0)).sorted
    assert(vals.toList == List(10L, 11L, 12L))

    val num = graft.runtime.Config.load(
      """input:
        |  generate:
        |    count: 1
        |    mapping: "root = 5"
        |pipeline:
        |  processors:
        |    - number:
        |        operator: add
        |        value: 2.5
        |output:
        |  drop: {}
        |""".stripMargin)
    assert(num.pipeline.length == 1)
  }

  test("curation processors from YAML: c4 filter + pii redact + normalize + hash split") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cur").toString
    val spec = graft.runtime.Config.load(
      s"""input:
         |  generate:
         |    count: 6
         |    mapping: |
         |      root = if this.i % 3 == 0 {
         |        "short"
         |      } else {
         |        "mail me at a@b.com today\\ntiny line"
         |      }
         |pipeline:
         |  processors:
         |    - unicode_normalize:
         |        form: NFC
         |    - pii_redact: {}
         |    - c4_line_filter:
         |        min_words: 4
         |        min_kept_lines: 1
         |    - hash_split:
         |        meta_key: split
         |        weights:
         |          train: 0.5
         |          val: 0.5
         |output:
         |  file:
         |    path: $dir/out
         |    codec: lines
         |""".stripMargin)
    spec.run(spark)
    val lines = spark.read.text(s"$dir/out").collect().map(_.getString(0))
    // "short" docs (i=0,3) have no line with >=4 words → dropped entirely;
    // the "tiny line" (2 words) is scrubbed from the survivors
    assert(lines.length == 4, lines.mkString("|"))
    assert(lines.forall(_ == "mail me at [EMAIL] today"),
      lines.mkString("|"))
  }

  test("truncate_budget processor from YAML: sentence-aware cut") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tb").toString
    val spec = graft.runtime.Config.load(
      s"""input:
         |  generate:
         |    count: 2
         |    mapping: |
         |      root = if this.i == 0 {
         |        "one two three. four five six seven"
         |      } else { "short doc" }
         |pipeline:
         |  processors:
         |    - truncate_budget:
         |        max_tokens: 5
         |output:
         |  file:
         |    path: $dir/out
         |    codec: lines
         |""".stripMargin)
    spec.run(spark)
    val lines = spark.read.text(s"$dir/out").collect().map(_.getString(0)).sorted
    assert(lines.toList === List("one two three.", "short doc"))
  }

  test("dedup_lines + quality_score processors from YAML") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-q").toString
    // train a tiny weight table: 'signal' appears only under the label
    val train = {
      import spark.implicits._
      scala.Seq(("signal signal good", true), ("noise noise bad", false))
        .toDF("text", "y")
    }
    graft.llmops.Training.saveClassifier(
      graft.llmops.Training.nbClassifierWeights(train, "text", col("y"),
        dim = 256), s"$dir/w")
    val spec = graft.runtime.Config.load(
      s"""input:
         |  generate:
         |    count: 2
         |    mapping: |
         |      root = if this.i == 0 {
         |        "signal here\\nsignal here\\nagain"
         |      } else {
         |        "noise floor\\nnoise floor"
         |      }
         |pipeline:
         |  processors:
         |    - dedup_lines: {}
         |    - quality_score:
         |        weights_path: $dir/w
         |        dim: 256
         |output:
         |  file:
         |    path: $dir/out
         |    codec: lines
         |""".stripMargin)
    spec.run(spark)
    val lines = spark.read.text(s"$dir/out").collect().map(_.getString(0)).sorted
    // duplicate lines removed, order kept
    assert(lines.toList == List("noise floor", "signal here\nagain").sorted ||
      lines.toList == List("noise floor", "signal here", "again").sorted,
      lines.mkString("|"))
  }

  test("quality_score meta matches the batch scorer arithmetic") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, element_at}
    val dir = java.nio.file.Files.createTempDirectory("graft-qs").toString
    val docs = scala.Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"),
      (3L, "alpha delta")).toDF("id", "text")
    val w = graft.llmops.Training.nbClassifierWeights(docs, "text",
      col("id") === 1L, dim = 256)
    graft.llmops.Training.saveClassifier(w, s"$dir/w")
    val batch = graft.llmops.Training.nbClassifierScore(docs, "id", "text",
        w, dim = 256)
      .select(col("id"), col("score_fp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val env = graft.model.Envelope.wrap(
      docs.select(col("text")), scala.Seq(col("text")))
      .withColumn(graft.model.Envelope.Content,
        col("doc.text").cast(org.apache.spark.sql.types.BinaryType))
    val scored = graft.ops.CurationProcs.QualityScoreProc(s"$dir/w", dim = 256)
      .apply(env)
      .select(col("doc.text"),
        element_at(col("meta"), "quality_score_fp").cast("long")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val byText = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    byText.foreach { case (id, text) =>
      assert(scored(text) == batch(id), s"doc $id: ${scored(text)} vs ${batch(id)}")
    }
  }

  test("metric processor observes row count, rendered at /metrics") {
    graft.runtime.Metrics.clear()
    val spec = graft.runtime.Config.load(
      """input:
        |  generate:
        |    count: 7
        |    mapping: "root.i = this.i"
        |pipeline:
        |  processors:
        |    - metric:
        |        name: rows_seen
        |output:
        |  stdout: {}
        |""".stripMargin)
    spec.run(spark)
    val prom = graft.runtime.Metrics.prometheus
    assert(prom.contains("graft_rows_seen_count 7.0"), prom)
  }

  test("buffer section: none accepted, memory batch_policy period maps to trigger") {
    val spec = graft.runtime.Config.load(
      """input:
        |  generate: {count: 1, mapping: 'root = {}'}
        |buffer:
        |  memory:
        |    batch_policy:
        |      period: 250ms
        |output:
        |  drop: {}
        |""".stripMargin)
    assert(spec.bufferPeriodMs.contains(250L))
    val none = graft.runtime.Config.load(
      "input:\n  generate: {count: 1, mapping: 'root = {}'}\n" +
      "buffer:\n  none: {}\noutput:\n  drop: {}\n")
    assert(none.bufferPeriodMs.isEmpty)
    intercept[IllegalArgumentException] {
      graft.runtime.Config.load(
        "input:\n  generate: {count: 1, mapping: 'root = {}'}\n" +
        "buffer:\n  mystery: {}\noutput:\n  drop: {}\n")
    }
  }

  test("object-store connector configs build canonical Hadoop URIs") {
    import graft.runtime.Config.objectStorePath
    assert(objectStorePath("aws_s3",
      Map("bucket" -> "corpus", "prefix" -> "docs/2026")) ==
      "s3a://corpus/docs/2026")
    assert(objectStorePath("gcp_cloud_storage",
      Map("bucket" -> "corpus")) == "gs://corpus")
    assert(objectStorePath("azure_blob_storage",
      Map("storage_account" -> "acct", "container" -> "c",
        "prefix" -> "p")) == "abfss://c@acct.dfs.core.windows.net/p")
    assert(objectStorePath("azure_blob_storage",
      Map("storage_account" -> "acct", "container" -> "c",
        "scheme" -> "wasbs")) == "wasbs://c@acct.blob.core.windows.net")
    assert(objectStorePath("hdfs",
      Map("hosts" -> java.util.List.of("nn:8020"),
        "directory" -> "/data/in")) == "hdfs://nn:8020/data/in")
    assert(objectStorePath("sftp",
      Map("address" -> "host:22",
        "paths" -> java.util.List.of("/up/file.jsonl"))) ==
      "sftp://host:22/up/file.jsonl")
  }

  test("aws_s3 input with file:// scheme override reads through the file codec path") {
    val dir = Files.createTempDirectory("graft-s3").toString
    Files.writeString(java.nio.file.Path.of(dir, "a.txt"), "s3row1\ns3row2\n")
    val out = Files.createTempDirectory("graft-s3out").toString + "/res"
    val spec = graft.runtime.Config.load(
      s"""input:
         |  aws_s3:
         |    bucket: $dir
         |    scheme: file
         |    codec: lines
         |output:
         |  file:
         |    path: $out
         |    codec: lines
         |""".stripMargin)
    spec.run(spark)
    val got = spark.read.textFile(out).collect().sorted
    assert(got.toSeq == scala.Seq("s3row1", "s3row2"))
  }

  test("hdfs output with a delim writer codec writes through the file sink") {
    val dir = Files.createTempDirectory("graft-hdfs-out").toString + "/res"
    Config.load(
      s"""input:
         |  generate:
         |    count: 10
         |    mapping: "root.i = this.i"
         |output:
         |  hdfs:
         |    scheme: file
         |    directory: $dir
         |    codec: "delim:;"
         |""".stripMargin).run(spark)
    assert(spark.read.option("lineSep", ";").json(dir).select("i").collect()
      .map(_.getLong(0)).sorted.toSeq == (0L until 10L))
  }

  test("try directly followed by catch: rows the try arm flags run the catch arm") {
    import org.apache.spark.sql.functions.{col, to_json}
    val dir = Files.createTempDirectory("graft-cfg-try")
    Files.write(dir.resolve("in.jsonl"), scala.Seq(
      """{"id":1,"props":"{\"k\": 1}"}""",
      """{"id":2,"props":"not json"}""",
      """{"id":3,"props":"{\"k\": 3}"}""",
      """{"id":4,"props":"{\"k\": 4""").mkString("\n").getBytes("UTF-8"))
    val spec = Config.load(
      s"""input:
         |  file:
         |    paths: [ "$dir/*.jsonl" ]
         |    codec: json
         |pipeline:
         |  processors:
         |    - try:
         |        - bloblang: |
         |            root.id = this.id
         |            root.k = this.props.parse_json().k
         |    - catch:
         |        - bloblang: |
         |            root.id = this.id
         |            root.k = -1
         |output:
         |  drop: {}
         |""".stripMargin)
    assert(spec.pipeline == scala.Seq(graft.ops.ErrorOps.TryCatch(
      scala.Seq(graft.ops.BloblangProc("root.id = this.id\nroot.k = this.props.parse_json().k\n")),
      scala.Seq(graft.ops.BloblangProc("root.id = this.id\nroot.k = -1\n")))))
    val out = graft.ops.Pipeline(spec.pipeline)(spec.input(spark))
    assert(out.filter(col("_error").isNotNull).count() == 0)
    val got = out.select(col("doc.id").cast("string"), to_json(col("doc.k"))).collect()
      .map(r => Option(r.getString(0)).getOrElse("corrupt") -> r.getString(1)).toMap
    // 2's props is not JSON, so the try arm flags it; the truncated line 4
    // is a corrupt record whose null props parse to null, not to an error
    assert(got == Map("1" -> "1", "2" -> "-1", "3" -> "3", "corrupt" -> null))
  }

  private def batchSizes(df: org.apache.spark.sql.DataFrame): scala.Seq[Long] =
    df.groupBy(org.apache.spark.sql.functions.col(graft.model.Envelope.BatchId)).count()
      .orderBy(graft.model.Envelope.BatchId).collect().map(_.getLong(1)).toSeq

  test("input batching.count re-batches right after the source") {
    val spec = Config.load(
      """input:
        |  generate:
        |    count: 10
        |    mapping: "root.i = this.i"
        |    batching:
        |      count: 3
        |""".stripMargin)
    assert(batchSizes(spec.input(spark)) == scala.Seq(3L, 3L, 3L, 1L))
  }

  test("input batching.check ends a batch with each matching message") {
    val spec = Config.load(
      """input:
        |  generate:
        |    count: 10
        |    mapping: "root.i = this.i"
        |    batching:
        |      check: this.i % 4 == 3
        |""".stripMargin)
    assert(batchSizes(spec.input(spark)) == scala.Seq(4L, 4L, 2L))
  }

  test("output batching with post-batch processors compiles to BatchedSink") {
    val out = Files.createTempDirectory("graft-cfg-obatch").toString + "/out"
    val spec = Config.load(
      s"""input:
         |  generate:
         |    count: 10
         |    mapping: "root.i = this.i"
         |output:
         |  file:
         |    path: $out
         |    codec: lines
         |    batching:
         |      count: 4
         |      processors:
         |        - bloblang: 'root = "b" + this.i.string()'
         |""".stripMargin)
    assert(spec.output == graft.sinks.BatchedSink(
      graft.sinks.Sinks.FileSink(out, "lines", mode = "overwrite"),
      graft.ops.BatchOps.Split(4L),
      scala.Seq(graft.ops.BloblangProc("root = \"b\" + this.i.string()"))))
    spec.run(spark)
    assert(spark.read.text(out).collect().map(_.getString(0)).sorted.toSeq ==
      (0 until 10).map(i => s"b$i").sorted)
  }
}
