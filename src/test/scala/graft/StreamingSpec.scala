package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Envelope
import graft.ops.BloblangProc
import graft.streaming.{StreamRegistry, Streaming}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = Sessions.builder("4").getOrCreate()
  val dir = "/root/testdata/sf0.001"

  // events.ts is TIMESTAMP(NANOS) → Spark 4.1 surfaces TIMESTAMP_NTZ
  // (micros, truncated); the UTC session makes NTZ→LTZ casts exact.
  val eventsSchema = StructType(scala.Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  // streaming file sources need a directory; stage the single parquet file
  lazy val eventsDir: String = {
    val d = Files.createTempDirectory("graft-events")
    Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      d.resolve("part-0.parquet"))
    d.toString
  }

  def eventsStream = Streaming.fileStream(spark, eventsDir, "parquet", eventsSchema)

  test("same Processor pipeline runs on a stream; memory sink collects") {
    val out = BloblangProc(
      """root.event_id = this.event_id
        |root.etype = this.event_type.uppercase()""".stripMargin)(eventsStream)
    val q = Envelope.unwrap(out).writeStream
      .format("memory").queryName("s1").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val n = spark.sql("SELECT count(*) FROM s1").head().getLong(0)
    val batch = spark.read.parquet(s"$dir/events.parquet").count()
    assert(n == batch)
    assert(spark.sql("SELECT count(*) FROM s1 WHERE etype = 'CLICK'").head().getLong(0) > 0)
  }

  test("state eviction MEASURED: windowed-agg state stays flat as batches accumulate") {
    // The 100 TB streaming claim, instrumented: drive 24 micro-batches
    // whose event time advances 1 h each, and read the state-store row
    // count from StreamingQueryProgress.stateOperators. With 1 h windows
    // and a 30 min watermark delay, only ~2-3 windows are ever open —
    // state must NOT grow with the number of batches (input grows 24x).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    val agg = ms.toDF().toDF("v", "ts")
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("evict1")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    (0 until 24).foreach { b =>
      ms.addData((0L until 50L).map(i =>
        (i, new java.sql.Timestamp(t0 + b * 3600000L + i * 1000L))): _*)
      q.processAllAvailable()
    }
    val states = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .map(_.numRowsTotal).filter(_ > 0)
    q.stop()
    assert(states.nonEmpty)
    // 1,200 input rows -> never more than a handful of open windows
    assert(states.max <= 4,
      s"state grew to ${states.max} rows — watermark eviction broken")
    // and the emitted (closed) windows cover all but the open tail
    val emitted = spark.sql("SELECT sum(n) FROM evict1").head().getLong(0)
    assert(emitted >= 50L * 22)
  }

  test("dedupeByKeyTtl: TTL'd key cache via transformWithState (RocksDB state)") {
    // the reference's dedupe-over-a-memory-cache-with-ttl semantics:
    // first occurrence passes, repeats drop while cached, the key
    // RE-ADMITS after the TTL — processing-time expiry, which the
    // event-time dropDuplicatesWithinWatermark cannot express
    // AvailableNow runs per phase (a TWS query under ProcessingTime
    // mode triggers back-to-back micro-batches for timer/TTL sweeps,
    // so processAllAvailable never quiesces); the parquet sink + shared
    // checkpoint accumulate across the restarts, like the gate queries
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val sink = java.nio.file.Files.createTempDirectory("ttldedupe_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ttldedupe_ckpt").toString
    val ms = MemoryStream[(String, Long)]
    val env = graft.model.Envelope.wrapUnordered(ms.toDF().toDF("k", "v"))
    // the TTL must outlive the ~5 s AvailableNow restart gap, or the
    // key legitimately re-admits in phase 2
    val out = Streaming.dedupeByKeyTtl(env, "this.k",
      java.time.Duration.ofSeconds(25))
    def runOnce(): Unit = {
      val q = out.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    ms.addData(("a", 1L), ("b", 2L), ("a", 3L)) // a dupe within the batch
    runOnce()
    ms.addData(("a", 4L), ("c", 5L)) // a still cached; c fresh
    runOnce()
    Thread.sleep(26000) // let the 25 s TTL lapse on the wall clock
    ms.addData(("a", 6L)) // re-admitted after expiry
    runOnce()
    val keys = ss.read.parquet(sink).select("key").collect()
      .map(_.getString(0)).toList.sorted
    assert(keys == List("a", "a", "b", "c"),
      s"expected a,b,c then re-admitted a — got $keys")
  }

  test("stream registry lifecycle") {
    val reg = new StreamRegistry
    val out = BloblangProc("root.event_id = this.event_id")(eventsStream)
    val q = Envelope.unwrap(out).writeStream
      .format("memory").queryName("s5").outputMode("append").start()
    reg.start("pipe1", q)
    assert(reg.list == scala.Seq("pipe1"))
    q.processAllAvailable()
    assert(reg.stats("pipe1").exists(_.contains("numInputRows")))
    assert(reg.stop("pipe1"))
    assert(reg.list.isEmpty)
  }

  test("sliding + session windows (superset of reference batch policy)") {
    val env = eventsStream
    val withTs = env.withColumn("doc",
      col("doc").withField("ets", col("doc.ts").cast(TimestampType)))
    // sliding: 2h window every 1h
    val sliding = withTs.withColumn("_ts", col("doc.ets")).withWatermark("_ts", "1 hour")
      .groupBy(window(col("_ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n"))
    val q1 = sliding.writeStream.format("memory").queryName("w_slide").outputMode("append").start()
    q1.processAllAvailable(); q1.stop()
    assert(spark.sql("SELECT count(*) FROM w_slide").head().getLong(0) > 0)
    // session windows: gap-based grouping per user
    val sess = withTs.withColumn("_ts", col("doc.ets")).withWatermark("_ts", "1 hour")
      .groupBy(session_window(col("_ts"), "30 minutes"), col("doc.user_id"))
      .agg(count(lit(1)).as("n"))
    val q2 = sess.writeStream.format("memory").queryName("w_sess").outputMode("append").start()
    q2.processAllAvailable(); q2.stop()
    assert(spark.sql("SELECT count(*) FROM w_sess").head().getLong(0) > 0)
  }

  test("LLM curation ops stream: quality gates + PII redact + simhash key dedupe") {
    import graft.llmops.TextStats
    import graft.llmops.Dedup
    val d = Files.createTempDirectory("graft-docs")
    Files.copy(java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d.resolve("part-0.parquet"))
    val docsSchema = StructType(scala.Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val stream = spark.readStream.schema(docsSchema).parquet(d.toString)
    // the curation projections are stream-safe by construction (no
    // shuffle): gopher gates, PII redaction, simhash, unicode fold
    val curated = stream.select(
        col("doc_id"),
        TextStats.normalizeUnicode(TextStats.piiRedact(col("text")), "NFC").as("clean"),
        Dedup.simhash(col("text"), 16).as("sh"),
        struct(TextStats.gopherFlags(col("text")): _*).getField("keep").as("keep"))
      .filter(col("keep"))
      .dropDuplicates("sh") // streaming state: first doc per simhash key wins
    val q = curated.writeStream.format("memory").queryName("s_curate")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("SELECT count(*), count(DISTINCT sh) FROM s_curate").head()
    assert(rows.getLong(0) > 0 && rows.getLong(0) == rows.getLong(1))
  }

  test("C4 line filter + hash split stream (pure projections, stream-safe)") {
    import graft.llmops.Curation
    val d = Files.createTempDirectory("graft-docs2")
    Files.copy(java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d.resolve("part-0.parquet"))
    val docsSchema = StructType(scala.Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val stream = spark.readStream.schema(docsSchema).parquet(d.toString)
    val lined = stream.select(col("doc_id"),
      regexp_replace(col("text"), " the ", "\n").as("t2"))
    val curated = Curation.hashSplit(
      Curation.c4LineFilter(lined, "doc_id", "t2",
        minWords = 5, badSubstrings = scala.Seq("slow"), minKeptLines = 1)
        .filter(col("keep_doc")),
      "id", scala.Seq("train" -> 0.9, "val" -> 0.1))
    val q = curated.writeStream.format("memory").queryName("s_c4split")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val out = spark.sql(
      "SELECT count(*), count_if(split = 'train'), count_if(n_kept = 0) FROM s_c4split")
      .head()
    assert(out.getLong(0) > 0, "c4-filtered stream produced no rows")
    assert(out.getLong(1) > 0, "no rows assigned to the train split")
    assert(out.getLong(2) === 0, "keep_doc rows must have kept lines")
  }

  test("quality_score + dedup_lines processors on a stream (literal weight map)") {
    import graft.llmops.Training
    val wdir = Files.createTempDirectory("graft-w")
    // train on a batch, score a stream — the cross-job artifact flow
    val train = {
      import spark.implicits._
      scala.Seq(("signal text", true), ("noise text", false)).toDF("text", "y")
    }
    Training.saveClassifier(
      Training.nbClassifierWeights(train, "text",
        org.apache.spark.sql.functions.col("y"), dim = 256),
      s"$wdir/w")
    val d = Files.createTempDirectory("graft-docs3")
    Files.copy(java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d.resolve("part-0.parquet"))
    val docsSchema = StructType(scala.Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val stream = spark.readStream.schema(docsSchema).parquet(d.toString)
    val env = graft.model.Envelope.wrapUnordered(stream)
      .withColumn(graft.model.Envelope.Content,
        col("doc.text").cast(org.apache.spark.sql.types.BinaryType))
    val scored = graft.ops.CurationProcs.QualityScoreProc(
        s"$wdir/w", dim = 256)
      .apply(graft.ops.CurationProcs.DedupLinesProc().apply(env))
    assert(scored.isStreaming, "processors must preserve streaming-ness")
    val q = scored
      .select(element_at(col("meta"), "quality_score_fp").cast(LongType).as("s"))
      .writeStream.format("memory").queryName("s_qscore")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val out = spark.sql(
      "SELECT count(*), count_if(s IS NOT NULL), min(s), max(s) FROM s_qscore").head()
    assert(out.getLong(0) > 0 && out.getLong(0) === out.getLong(1))
    assert(out.getLong(2) >= 0L && out.getLong(3) <= 1000000L)
  }

  test("cache-backed dedupe on a stream writes keys back to the shared cache") {
    // the reference's cache-backed dedupe (lib/processor/dedupe.go:32-58)
    // keys a SHARED named resource: a batch job run after the stream must
    // see every key the stream admitted, and the stream must drop keys
    // already in the cache when it starts
    val src = Files.createTempDirectory("graft-cdd").toString + "/in"
    val dst = Files.createTempDirectory("graft-cdd-out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-cdd-ck").toString
    import spark.implicits._
    scala.Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "pre")).toDF("i", "k")
      .repartition(1).write.mode("overwrite").parquet(src)
    val label = s"cdd_${System.nanoTime()}"
    val store = new graft.ops.CacheOps.MemoryCache
    store.upsert(scala.Seq(("pre", "1")).toDF("key", "value"))
    graft.ops.CacheOps.Caches.register(label, store)
    val spec = graft.runtime.Config.load(
      s"""input:
         |  file_stream:
         |    path: $src
         |    format: parquet
         |pipeline:
         |  processors:
         |    - dedupe:
         |        cache: $label
         |        key: this.k
         |output:
         |  file:
         |    path: $dst
         |    codec: json
         |    mode: append
         |""".stripMargin)
    val q = spec.runStream(spark, ckpt)
    q.processAllAvailable(); q.stop()
    // "pre" dropped (already cached), one of the two "a" rows dropped
    val out = spark.read.json(dst)
    assert(out.count() == 2, "stream must drop cached + in-stream dup keys")
    assert(out.filter(col("k") === "pre").count() == 0)
    // the shared-resource contract: keys the stream saw are now in the cache
    assert(store.get("a").isDefined && store.get("b").isDefined)
    // and a subsequent BATCH run against the same resource drops them
    val batch = Envelope.wrap(
      scala.Seq((9L, "a"), (10L, "fresh")).toDF("i", "k"), scala.Seq(col("i")))
    val survivors = graft.ops.CachedDedupeProc(store, "this.k")(batch)
    assert(survivors.select(col("doc.k")).collect().map(_.getString(0)).toSeq
      == scala.Seq("fresh"))
  }

  test("count-min sketch maintains incrementally over a stream (update mode)") {
    // the sketch is a (j,pos)-keyed partial aggregate, so it runs as a
    // streaming groupBy unchanged; the final counters must equal the
    // batch sketch of the same data
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val sk = graft.ops.Sketches.countMinSketch(ms.toDF().toDF("v"), "v", 3, 32)
    assert(sk.isStreaming)
    val q = sk.writeStream.format("memory").queryName("s_cm")
      .outputMode("complete").start()
    ms.addData("a", "b", "a"); q.processAllAvailable()
    ms.addData("c", "a"); q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT j, pos, cnt FROM s_cm ORDER BY j, pos")
      .collect().map(_.toSeq).toSeq
    val batch = graft.ops.Sketches.countMinSketch(
        Seq("a", "b", "a", "c", "a").toDF("v"), "v", 3, 32)
      .orderBy("j", "pos").collect().map(_.toSeq).toSeq
    assert(streamed === batch)
  }

  /** Runs a `file_stream` config with `output` over three micro-batches
    * of five rows each (ids 0..14). With `sources = 2` the input is a
    * `broker` over two `file_stream` directories, the second one's ids
    * 15..29. */
  private def threeBatches(output: String, sources: Int = 1): Unit = {
    val srcs = (0 until sources).map(_ => Files.createTempDirectory("graft-sdm-in"))
    val ckpt = Files.createTempDirectory("graft-sdm-ck").toString
    val input =
      if (sources == 1) s"  file_stream:\n    path: ${srcs.head}\n    format: json\n"
      else "  broker:\n    inputs:\n" + srcs.map(src =>
        s"      - file_stream:\n          path: $src\n          format: json\n").mkString
    val spec = graft.runtime.Config.load(
      "input:\n" + input +
      s"""pipeline:
         |  processors:
         |    - bloblang: 'root.id = this.id'
         |output:
         |""".stripMargin + output)
    assert(spec.streaming)
    def drop(batch: Int): Unit = srcs.zipWithIndex.foreach { case (src, k) =>
      val lines = (0 until 5).map(i => s"""{"id":${k * 15 + batch * 5 + i}}""")
        .mkString("\n")
      val tmp = Files.createTempFile("graft-sdm", ".json")
      Files.write(tmp, lines.getBytes("UTF-8"))
      Files.move(tmp, src.resolve(s"b$batch.json"))
    }
    drop(0)
    val q = spec.runStream(spark, ckpt)
    try {
      q.processAllAvailable()
      drop(1); q.processAllAvailable()
      drop(2); q.processAllAvailable()
    } finally q.stop()
    // two sources' files land one after the other: a trigger may fire
    // between them
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(if (sources == 1) batches == 3 else batches >= 3, s"$batches batches")
  }

  test("a broker input over two file streams is a stream: its file output keeps every row") {
    val out = Files.createTempDirectory("graft-sdm-broker").toString + "/out"
    threeBatches(
      s"""  file:
         |    path: $out
         |    codec: json
         |""".stripMargin, sources = 2)
    assert(spark.read.json(out).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 30L))
  }

  test("streaming parquet output keeps every micro-batch") {
    val out = Files.createTempDirectory("graft-sdm-pq").toString + "/out"
    threeBatches(
      s"""  parquet:
         |    path: $out
         |""".stripMargin)
    assert(spark.read.parquet(out).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 15L))
  }

  test("streaming object-store output keeps every micro-batch") {
    val bucket = Files.createTempDirectory("graft-sdm-s3").toString
    threeBatches(
      s"""  aws_s3:
         |    scheme: file
         |    bucket: $bucket
         |    path: out
         |""".stripMargin)
    assert(spark.read.json(s"$bucket/out").select("id").collect().map(_.getLong(0))
      .sorted.toSeq == (0L until 15L))
  }

  test("streaming file output with no mode keeps every micro-batch") {
    val out = Files.createTempDirectory("graft-sdm-out").toString + "/out"
    threeBatches(
      s"""  file:
         |    path: $out
         |    codec: json
         |""".stripMargin)
    assert(spark.read.json(out).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 15L))
  }

  test("streaming interpolated-path file output with no mode keeps every micro-batch") {
    val out = Files.createTempDirectory("graft-sdm-dyn").toString
    threeBatches(
      s"""  file:
         |    path: '$out/$${! this.id % 2 }'
         |    codec: json
         |""".stripMargin)
    val got = scala.Seq("0", "1").flatMap(p =>
      spark.read.json(s"$out/$p").select("id").collect().map(_.getLong(0)))
    assert(got.sorted == (0L until 15L))
  }

  test("streaming writer-codec file outputs with no mode keep every micro-batch") {
    def ids(dir: String): scala.Seq[Long] =
      new java.io.File(dir).listFiles().toSeq.filter(_.getName.endsWith(".bin"))
        .flatMap(f => "\"id\":(\\d+)".r.findAllMatchIn(
          new String(Files.readAllBytes(f.toPath), "UTF-8")).map(_.group(1).toLong))
    val delim = Files.createTempDirectory("graft-sdm-delim").toString + "/out"
    threeBatches(
      s"""  file:
         |    path: $delim
         |    codec: "delim:;"
         |""".stripMargin)
    assert(spark.read.option("lineSep", ";").json(delim).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == (0L until 15L))
    val append = Files.createTempDirectory("graft-sdm-append").toString + "/out"
    threeBatches(
      s"""  file:
         |    path: $append
         |    codec: append
         |""".stripMargin)
    assert(ids(append).sorted == (0L until 15L))
  }
}
