package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables.t
import graft.model.Envelope
import graft.ops._
import graft.ops.{BatchOps => B, FlowOps => F, ErrorOps => E, EnrichOps => En}

/** Oracle-checked queries exercising the processor library end to end —
  * one per structural operator family of SURVEY §2.1. All run on envelope
  * DataFrames built from the driver tables.
  */
object OpsQueries {
  type Q = (SparkSession, String) => DataFrame

  private def dec(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 4))).cast(DoubleType)

  /** dedupe → DISTINCT semantics on a composite key. */
  def q13(s: SparkSession, dir: String): DataFrame = {
    val env = Envelope.wrapUnordered(t(s, dir, "events"))
    val out = DedupeProc("""this.user_id.string() + ":" + this.event_type""")(env)
    Envelope.unwrap(out).select(col("user_id"), col("event_type"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** hash_sample → deterministic md5-prefix bucket. */
  def q14(s: SparkSession, dir: String): DataFrame = {
    val env = Envelope.wrapUnordered(t(s, dir, "events"))
    val out = HashSampleProc(0, 25, key = "this.event_id.string()")(env)
    Envelope.unwrap(out).agg(
      count(lit(1)).as("n"), dec(col("value")).as("sum_value"))
  }

  /** split(100) + bloblang root-replace + archive(lines). */
  def q15(s: SparkSession, dir: String): DataFrame = {
    val env = Envelope.wrap(
      t(s, dir, "events").select(col("event_id"), col("event_type")),
      scala.Seq(col("event_id")), batchSize = 100)
    val out = Pipeline(scala.Seq(
      BloblangProc("root = this.event_type"),
      B.Archive("lines")))(env)
    out.select(col(Envelope.BatchId).as("batch_id"),
        col(Envelope.Content).cast(StringType).as("payload"))
      .orderBy(col("batch_id"))
  }

  /** unarchive(lines) → explode: word frequencies over documents. */
  def q16(s: SparkSession, dir: String): DataFrame = {
    val env = Envelope.wrapUnordered(t(s, dir, "documents").select(col("text")))
    val out = Pipeline(scala.Seq(
      BloblangProc("""root = this.text.replace(" ", "\n")"""),
      B.UnarchiveLines()))(env)
    out.select(col(Envelope.Content).cast(StringType).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("word"))
  }

  /** switch: predicate-routed sub-pipelines, unioned. */
  def q17(s: SparkSession, dir: String): DataFrame = {
    val env = Envelope.wrapUnordered(t(s, dir, "events"))
    val mk = (branch: String, vexpr: String) => scala.Seq[Processor](BloblangProc(
      s"""root.event_id = this.event_id
         |root.branch = "$branch"
         |root.v = $vexpr""".stripMargin))
    val out = F.Switch(scala.Seq(
      Some("""this.event_type == "error"""") -> mk("err", "this.value * 2"),
      Some("""this.event_type == "purchase"""") -> mk("buy", "this.value * 10"),
      None -> mk("other", "this.value * 1")))(env)
    Envelope.unwrap(out).orderBy(col("event_id"))
  }

  /** error-flag discipline: flag → try/catch arms → union. */
  def q18(s: SparkSession, dir: String): DataFrame = {
    val env = Envelope.wrapUnordered(t(s, dir, "documents"))
    val out = Pipeline(scala.Seq(
      E.FlagError("this.n_chars > 300", "doc too long"),
      E.TryCatch(
        tryProcs = scala.Seq(BloblangProc(
          """root.doc_id = this.doc_id
            |root.quality = "ok"""".stripMargin)),
        catchProcs = scala.Seq(BloblangProc(
          """root.doc_id = this.doc_id
            |root.quality = "too_long"""".stripMargin)))))(env)
    Envelope.unwrap(out).orderBy(col("doc_id"))
  }

  /** group_by: predicate groups with distinct per-group processing. */
  def q19(s: SparkSession, dir: String): DataFrame = {
    val env = Envelope.wrapUnordered(t(s, dir, "events"))
    val out = B.GroupBy(scala.Seq(
      "this.value < 5" -> scala.Seq[Processor](BloblangProc(
        """root.event_id = this.event_id
          |root.tier = "low"
          |root.v = this.value * 2""".stripMargin)),
      "true" -> scala.Seq[Processor](BloblangProc(
        """root.event_id = this.event_id
          |root.tier = "high"
          |root.v = this.value / 2""".stripMargin))))(env)
    Envelope.unwrap(out).orderBy(col("event_id"))
  }

  /** branch + lookup-join enrichment (broadcast dim). */
  def q20(s: SparkSession, dir: String): DataFrame = {
    val env = Envelope.wrapUnordered(t(s, dir, "events"))
    val out = F.Branch(
      requestMap = "root.user_id = this.user_id",
      children = scala.Seq(En.LookupJoin(
        dim = t(s, dir, "customer"), keyExpr = "this.user_id",
        dimKey = "c_custkey", fields = scala.Seq("c_mktsegment" -> "segment"))),
      resultPaths = scala.Seq("segment" -> "segment"))(env)
    Envelope.unwrap(out).select(col("event_id"), col("segment"))
      .orderBy(col("event_id"))
  }

  /** sequence sharded_join (merge_strategy: array) → groupBy-merge. */
  def q21(s: SparkSession, dir: String): DataFrame = {
    val merged = En.shardedJoin(scala.Seq(
      ("orders", t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")), "o_custkey"),
      ("cust", t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal")), "c_custkey")))
    merged.select(
        col("id"),
        // size(NULL) is -1 with ANSI off (legacy sizeOfNull), so the
        // null-array case needs an explicit branch, not coalesce —
        // first surfaces at sf0.1 where zero-order customers exist
        when(col("orders").isNull, lit(0L))
          .otherwise(size(col("orders")).cast(LongType)).as("n_orders"),
        aggregate(
          transform(col("orders"), x => x.getField("o_totalprice").cast(DecimalType(18, 4))),
          lit(0).cast(DecimalType(30, 4)),
          (acc, x) => (acc + x).cast(DecimalType(30, 4))).cast(DoubleType).as("total"))
      .orderBy(col("id"))
  }

  /** select_parts: first + last part of each 50-row batch. */
  def q22(s: SparkSession, dir: String): DataFrame = {
    val env = Envelope.wrap(
      t(s, dir, "events").select(col("event_id")),
      scala.Seq(col("event_id")), batchSize = 50)
    val out = B.SelectParts(scala.Seq(0L, -1L))(env)
    Envelope.unwrap(out).orderBy(col("event_id"))
  }

  /** bounds_check on content byte size. */
  def q23(s: SparkSession, dir: String): DataFrame = {
    val env = Envelope.wrapUnordered(t(s, dir, "documents"))
      .withColumn(Envelope.Content, col("doc.text").cast(BinaryType))
    val out = E.BoundsCheck(minBytes = 200, maxBytes = 400)(env)
    Envelope.unwrap(out).select(col("doc_id")).orderBy(col("doc_id"))
  }

  /** grok extraction over synthesized log lines. */
  def q24(s: SparkSession, dir: String): DataFrame = {
    // order established below the grok/mapping projections — okey is
    // o_orderkey verbatim, so sorting the input gives the identical
    // total order without the final range exchange whose sampling pass
    // re-ran the regex extraction (see BloblQueries seqSorted)
    val env = Envelope.wrapUnordered(t(s, dir, "orders")
        .orderBy(col("o_orderkey")))
      .withColumn(Envelope.Content,
        format_string("ORDER %d %s %.2f",
          col("doc.o_orderkey"), col("doc.o_orderstatus"), col("doc.o_totalprice"))
          .cast(BinaryType))
    val out = Pipeline(scala.Seq(
      Grok.GrokProc("ORDER %{INT:okey} %{WORD:status} %{NUMBER:price}"),
      BloblangProc(
        """root.okey = this.okey.int()
          |root.status = this.status
          |root.price = this.price""".stripMargin)))(env)
    Envelope.unwrap(out)
  }

  /** generate input (Bloblang-driven synthetic source) → aggregation. */
  def q32(s: SparkSession, dir: String): DataFrame = {
    val gen = graft.sources.Sources.generate(s,
      """root.i = this.i
        |root.sq = this.i * this.i
        |root.bucket = this.i % 7""".stripMargin, 1000)
    Envelope.unwrap(gen)
      .groupBy(col("bucket"))
      .agg(sum(col("sq")).as("sum_sq"), count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  /** Stage the events table as a 4-file parquet copy under tmp — input
    * prep for the streaming gates (q166/q167), not the operator under
    * test. Cached per (source dir, content fingerprint) so regenerated
    * test data invalidates the copy instead of gating against a stale
    * one, and staged ATOMICALLY (unique temp dir + rename) so two
    * concurrent JVMs can't read each other's half-written copy. */
  private def stagedEventsSrc(s: SparkSession, dir: String): String = {
    val files = Option(new java.io.File(dir, "events.parquet").listFiles())
      .getOrElse(Array.empty)
    val fp = java.util.Arrays.hashCode(files.sortBy(_.getName)
      .map(f => (f.getName, f.length, f.lastModified).hashCode()): Array[Int])
    val src = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_q166_src_${math.abs(dir.hashCode)}_${Integer.toHexString(fp)}")
    if (!new java.io.File(src, "_SUCCESS").exists()) {
      val tmp = new java.io.File(src.getParent,
        src.getName + "." + java.util.UUID.randomUUID().toString.take(8))
      t(s, dir, "events").repartition(4)
        .write.mode("overwrite").parquet(tmp.toString)
      if (!tmp.renameTo(src)) {
        // a concurrent JVM staged the same fingerprint first — use theirs
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(); ()
        }
        rm(tmp)
        require(new java.io.File(src, "_SUCCESS").exists(),
          s"q166 staging: concurrent rename lost and $src is incomplete")
      }
    }
    src.toString
  }

  /** Stateful-streaming gates run with a state-sized shuffle-partition
    * count: every stateful operator keeps state-store instances per
    * shuffle partition (a stream-stream join keeps FOUR per partition),
    * each committing files every micro-batch — at the batch-oriented
    * default (32) that file churn dominates the gates' wall time (q172
    * measured 18 s → 4 s). State partitioning is a per-checkpoint
    * deployment knob sized to state VOLUME, not to batch parallelism;
    * 8 fits these corpora comfortably. The override lives on a FORKED
    * session (`newSession()`: own SQLConf seeded from the builder-level
    * SparkConf — which carries UTC/ANSI/AQE — with shared SparkContext,
    * catalog and cache), so concurrent queries on the shared session
    * never observe the 8-partition setting and the helper is reentrant —
    * a set/restore on the global conf would race with any parallel gate
    * (r7 advisor). The streaming read and start MUST happen against the
    * fork: state partitioning is fixed from the session conf at first
    * checkpoint. */
  private def withStateParts[A](s: SparkSession)(f: SparkSession => A): A = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    // r11 (guide §6): Spark 4.1 writes a checksum COMPANION FILE per
    // checkpoint file (ChecksumCheckpointFileManager) — for these
    // per-run throwaway checkpoints that doubles the commit-path file
    // count for an integrity feature aimed at long-lived production
    // checkpoints on remote stores. Off by default here; a deployment
    // that wants it back sets SPARK_GRAFT_CKPT_CHECKSUM=1 (the knob is
    // per-checkpoint-session, so nothing outside the gates changes).
    if (!sys.env.get("SPARK_GRAFT_CKPT_CHECKSUM").contains("1"))
      s2.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    f(s2)
  }

  /** Per-run streaming scratch (checkpoint/sink/staged-restart-source)
    * allocator. These directories live only for one gate execution —
    * the state-store commit path fsyncs per micro-batch per partition,
    * and on the disk-backed default tmpdir that wait dominated the
    * streaming gates' wall (QProf q166: micro-batch tasks ~80% non-cpu
    * wait). Scratch goes to the fastest writable local medium —
    * /dev/shm when present (Linux tmpfs), else java.io.tmpdir —
    * overridable via SPARK_GRAFT_STREAM_TMP (a cluster deployment
    * points it at a durable checkpoint volume; recovery semantics are
    * unchanged, q175 still restarts from the same checkpoint within
    * the run). */
  private def scratchDir(prefix: String): String = {
    val base = sys.env.get("SPARK_GRAFT_STREAM_TMP")
      .orElse(Option("/dev/shm").filter(p => {
        val f = new java.io.File(p); f.isDirectory && f.canWrite
      }))
      .getOrElse(sys.props("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(base), prefix).toString
  }

  /** The q13 dedupe pipeline executed as a STREAM — the batch/stream
    * duality gate: the same Envelope.wrap → DedupeProc → unwrap
    * composition runs under Structured Streaming (file source split
    * into 4 files; maxFilesPerTrigger=2 so Trigger.AvailableNow drives a
    * genuine MULTI-micro-batch execution with dedupe state carried
    * ACROSS batches — r12: 2 files/trigger, the q172 posture, because
    * the r11 ground truth showed driver-side per-batch planning
    * (~1.5 s/gate) dominating all 1-file gates; state still crosses a
    * batch boundary), lands in a parquet sink, and must hash-match the
    * same DuckDB oracle as the batch run. Only key columns are emitted,
    * so which duplicate survives per key cannot affect the result.
    *
    * The converged answer is batch-count-invariant here because the
    * dedupe sets no watermark: every seen key stays in state and no row
    * is dropped as late. The watermarked gates (q170/q171/q181) are
    * invariant only because no row in these datasets is late relative to
    * the per-batch watermark; a dataset with genuinely late rows would
    * make their results depend on how the input is batched. */
  def q166(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    // sink + checkpoint stay fresh per run — that IS the streaming job
    val src = stagedEventsSrc(s, dir)
    val sink = scratchDir("graft_q166_sink")
    val ckpt = scratchDir("graft_q166_ckpt")
    withStateParts(s) { ss =>
      val stream = ss.readStream.schema(ss.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 2).parquet(src)
      val out = DedupeProc(
        """this.user_id.string() + ":" + this.event_type""")(
        Envelope.wrapUnordered(stream))
      val q = Envelope.unwrap(out).select(col("user_id"), col("event_type"))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read.parquet(sink).orderBy(col("user_id"), col("event_type"))
  }

  /** q166's dedupe executed through Spark 4's transformWithState —
    * [[graft.streaming.Streaming.dedupeByKeyTtl]], the reference's
    * dedupe-over-a-TTL'd-memory-cache, on the RocksDB state store.
    * The 1 h TTL exceeds the run's wall clock, so every key stays
    * cached and the converged answer is exactly first-occurrence
    * dedupe = DISTINCT(user_id, event_type) — the q166/q13 oracle —
    * while the TWS operator, RocksDB provider, and lazy-expiry state
    * run for real across 4 micro-batches. Only key columns emit, so
    * which duplicate survives is invisible to the hash. */
  def q182(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val src = stagedEventsSrc(s, dir)
    val sink = scratchDir("graft_q182_sink")
    val ckpt = scratchDir("graft_q182_ckpt")
    withStateParts(s) { ss =>
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val stream = ss.readStream.schema(ss.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 2).parquet(src)
      val out = graft.streaming.Streaming.dedupeByKeyTtl(
        Envelope.wrapUnordered(stream),
        """this.user_id.string() + ":" + this.event_type""",
        java.time.Duration.ofHours(1))
      val q = out.select(
          get_json_object(col("payload"), "$.doc.user_id")
            .cast(LongType).as("user_id"),
          get_json_object(col("payload"), "$.doc.event_type")
            .as("event_type"))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read.parquet(sink).orderBy(col("user_id"), col("event_type"))
  }

  /** The q33 tumbling-window aggregation executed as a STREAM — the
    * stateful half of the duality claim: a streaming groupBy(window)
    * over the same 4-file source, complete-mode via foreachBatch (each
    * micro-batch rewrites the full aggregate; the final rewrite IS the
    * converged answer — append mode would withhold the tail windows
    * behind the watermark forever on a finite stream). Must hash-match
    * q33's batch oracle. */
  def q167(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val src = stagedEventsSrc(s, dir)
    val sink = scratchDir("graft_q167_sink")
    val ckpt = scratchDir("graft_q167_ckpt")
    withStateParts(s) { ss =>
      val stream = ss.readStream.schema(ss.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 2).parquet(src)
      val agg = stream
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"), dec(col("value")).as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("bucket"),
          col("n"), col("sum_value"))
      val q = agg.writeStream
        .outputMode("complete")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(sink)
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read.parquet(sink).orderBy(col("bucket"))
  }

  /** Stage the events table as 4 CHRONOLOGICAL parquet files (fixed
    * week-range cuts over the 2024-01 test corpus, strictly increasing
    * modification times so FileStreamSource's oldest-first order is
    * deterministic). Watermarked gates need in-order arrival: the
    * random 4-way split of [[stagedEventsSrc]] would make every
    * micro-batch after the first carry rows older than the advancing
    * watermark, and append-mode late-row dropping would be
    * nondeterministic. Same fingerprint caching + atomic rename. */
  private def stagedEventsByTimeSrc(s: SparkSession, dir: String): String = {
    val files = Option(new java.io.File(dir, "events.parquet").listFiles())
      .getOrElse(Array.empty)
    val fp = java.util.Arrays.hashCode(files.sortBy(_.getName)
      .map(f => (f.getName, f.length, f.lastModified).hashCode()): Array[Int])
    val src = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_q170_src_${math.abs(dir.hashCode)}_${Integer.toHexString(fp)}")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    if (!new java.io.File(src, "_READY").exists()) {
      val tmp = new java.io.File(src.getParent,
        src.getName + "." + java.util.UUID.randomUUID().toString.take(8))
      tmp.mkdirs()
      val ev = t(s, dir, "events")
      val cuts = scala.Seq("2024-01-09", "2024-01-17", "2024-01-25")
        .map(d => to_timestamp(lit(d)))
      val ranges = scala.Seq(
        col("ts") < cuts(0),
        col("ts") >= cuts(0) && col("ts") < cuts(1),
        col("ts") >= cuts(1) && col("ts") < cuts(2),
        col("ts") >= cuts(2))
      ranges.zipWithIndex.foreach { case (cond, i) =>
        val stage = new java.io.File(tmp, s"stage_$i")
        ev.filter(cond).coalesce(1)
          .write.mode("overwrite").parquet(stage.toString)
        val part = Option(stage.listFiles()).getOrElse(Array.empty)
          .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
          .getOrElse(sys.error(s"q170 staging: no parquet part in $stage"))
        val dest = new java.io.File(tmp, f"part-$i%05d.parquet")
        java.nio.file.Files.move(part.toPath, dest.toPath)
        dest.setLastModified(1700000000000L + i * 60000L)
        rm(stage)
      }
      new java.io.File(tmp, "_READY").createNewFile()
      if (!tmp.renameTo(src)) {
        rm(tmp) // a concurrent JVM staged the same fingerprint first
        require(new java.io.File(src, "_READY").exists(),
          s"q170 staging: concurrent rename lost and $src is incomplete")
      }
    }
    src.toString
  }

  /** The q33 tumbling-window aggregation as a WATERMARKED APPEND-mode
    * stream — the superset semantics SURVEY §2.6 adopts, without q167's
    * complete-mode sidestep: `withWatermark(ts, 30 minutes)` +
    * outputMode(append) over the chronological 4-file source, so each
    * micro-batch advances the event-time watermark and CLOSED windows
    * are emitted incrementally (this is the unbounded-stream scale
    * shape — state holds only open windows, not the whole history, and
    * nothing is ever rewritten). Trigger.AvailableNow runs extra
    * batches after the last data until the final watermark (max ts −
    * 30 min) has flushed every closed window. Windows still open at
    * end-of-stream are withheld by definition; the oracle applies the
    * same cutoff: window end ≤ max(ts) − 30 min. */
  def q170(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val src = stagedEventsByTimeSrc(s, dir)
    val sink = scratchDir("graft_q170_sink")
    val ckpt = scratchDir("graft_q170_ckpt")
    withStateParts(s) { ss =>
      val stream = ss.readStream.schema(ss.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 2).parquet(src)
      val agg = stream
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"), dec(col("value")).as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("bucket"),
          col("n"), col("sum_value"))
      val q = agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read.parquet(sink).orderBy(col("bucket"))
  }

  /** Native `dropDuplicatesWithinWatermark` — the SURVEY §2.1 dedupe
    * streaming mapping exercised through Spark's own watermarked
    * stateful dedupe operator (vs q166, which gates the library's
    * DedupeProc): state is keyed on (user_id, event_type), carried
    * across 4 micro-batches, and expired by the event-time watermark.
    * The 40-day delay exceeds the corpus's 30-day span, so no state
    * expires and no row arrives late mid-corpus — the converged answer
    * is exactly DISTINCT(user_id, event_type), which keeps the oracle
    * exact while the watermark/state machinery runs for real. Only key
    * columns are emitted, so which duplicate survives is invisible. */
  def q171(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val src = stagedEventsSrc(s, dir)
    val sink = scratchDir("graft_q171_sink")
    val ckpt = scratchDir("graft_q171_ckpt")
    withStateParts(s) { ss =>
      val stream = ss.readStream.schema(ss.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 2).parquet(src)
      val deduped = stream
        .withWatermark("ts", "40 days")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
      val q = deduped.writeStream.format("parquet")
        .outputMode("append")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read.parquet(sink).orderBy(col("user_id"), col("event_type"))
  }

  /** STREAM-STREAM inner equi-join with an event-time range condition —
    * the last §2.6 streaming shape without a gate: click→purchase
    * attribution (same user, purchase within 1 hour of the click) as
    * two watermarked streams over the chronological 4-file source.
    * Spark keeps join state only inside the declared time bound (the
    * range condition + both watermarks let it evict a click once the
    * purchase-side watermark passes click.ts + 1 h — the property that
    * makes this run unbounded at scale), and the inner join emits each
    * qualifying pair exactly once. The oracle is the equivalent batch
    * interval join. */
  def q172(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val src = stagedEventsByTimeSrc(s, dir)
    val sink = scratchDir("graft_q172_sink")
    val ckpt = scratchDir("graft_q172_ckpt")
    val schema = s.read.parquet(src).schema
    // 2 files per trigger (vs 1 in the single-source gates): the join
    // still carries state ACROSS micro-batches — the chronological cut
    // at Jan 17 puts click→purchase pairs on both sides of the batch
    // boundary — while halving the per-micro-batch state-store setup,
    // which dominates a dual-source stateful join's fixed cost
    withStateParts(s) { ss =>
      def stream() = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2).parquet(src)
      val clicks = stream()
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "30 minutes")
      val purchases = stream()
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "30 minutes")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("user_id"), col("click_id"), col("purchase_id"))
      val q = joined.writeStream.format("parquet")
        .outputMode("append")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read.parquet(sink)
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** LEFT-OUTER stream-stream interval join — the eviction-emits-null
    * semantics q172's inner join doesn't exercise: a click with no
    * purchase within 1 h emits its null-matched row ONLY when the
    * watermark evicts it from join state (the subtle stateful shape —
    * matched rows emit as they join, unmatched rows emit late, on state
    * removal). Clicks still in state at end-of-stream — those whose
    * match window the final watermark never passed — are withheld by
    * definition; the oracle applies the same cutoff: an unmatched click
    * appears iff click_ts + 1 h < final watermark, where the final
    * watermark is min(max click_ts, max purchase_ts) − 30 min (the
    * global watermark is the min across both inputs). click_ts rides
    * along in the output so the cutoff is auditable on both sides. */
  def q174(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val src = stagedEventsByTimeSrc(s, dir)
    val sink = scratchDir("graft_q174_sink")
    val ckpt = scratchDir("graft_q174_ckpt")
    val schema = s.read.parquet(src).schema
    withStateParts(s) { ss =>
      def stream() = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2).parquet(src)
      val clicks = stream()
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "30 minutes")
      val purchases = stream()
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "30 minutes")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
        .select(col("user_id"), col("click_id"),
          unix_timestamp(col("click_ts")).as("click_epoch"),
          col("purchase_id"))
      val q = joined.writeStream.format("parquet")
        .outputMode("append")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read.parquet(sink)
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** q179: FULL-outer stream-stream interval join — the both-sides
    * eviction shape q174's left-outer doesn't exercise: unmatched
    * PURCHASES also emit their null-click rows on state eviction, with
    * a DIFFERENT cutoff than clicks (asymmetric, from the interval
    * condition): a click holds state until the watermark passes
    * click_ts + 1 h (future purchases up to an hour later could still
    * match), while a purchase only awaits clicks with click_ts ≤
    * purchase_ts, so it evicts as soon as the watermark passes
    * purchase_ts itself. The oracle applies both cutoffs against the
    * final watermark min(max click_ts, max purchase_ts) − 30 min;
    * matched rows always emit (strict `<` on both boundaries —
    * confirmed, the q174 adjudication). */
  def q179(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val src = stagedEventsByTimeSrc(s, dir)
    val sink = scratchDir("graft_q179_sink")
    val ckpt = scratchDir("graft_q179_ckpt")
    val schema = s.read.parquet(src).schema
    withStateParts(s) { ss =>
      def stream() = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2).parquet(src)
      val clicks = stream()
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "30 minutes")
      val purchases = stream()
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "30 minutes")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "full_outer")
        .select(
          coalesce(col("user_id"), col("p_user_id")).as("user_id"),
          col("click_id"),
          unix_timestamp(col("click_ts")).as("click_epoch"),
          col("purchase_id"),
          unix_timestamp(col("purchase_ts")).as("purchase_epoch"))
      val q = joined.writeStream.format("parquet")
        .outputMode("append")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read.parquet(sink)
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** q175: checkpoint RECOVERY — the production-critical property the
    * other streaming gates never exercise: a stateful query STOPPED
    * mid-stream and RESTARTED from the same checkpoint must continue
    * exactly-once. Phase 1 runs q170's watermarked windowed aggregation
    * over only the first 2 chronological files (2 micro-batches,
    * AvailableNow terminates, leaving OPEN windows — everything within
    * 30 min of phase 1's max ts — plus the advanced watermark in the
    * state store); the remaining 2 files then land in the source dir
    * and phase 2 restarts against the SAME checkpoint. If state or
    * watermark recovery were broken, the phase-1 trailing windows would
    * re-emit, emit empty, or never flush — any of which fails the
    * hash against q170's uninterrupted-batch oracle. The parquet sink's
    * metadata log supplies the sink half of exactly-once (only
    * committed batches are read back). */
  def q175(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val full = stagedEventsByTimeSrc(s, dir)
    val src = scratchDir("graft_q175_src")
    val sink = scratchDir("graft_q175_sink")
    val ckpt = scratchDir("graft_q175_ckpt")
    val parts = Option(new java.io.File(full).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.length == 4, s"q175: expected 4 staged files in $full")
    def stage(f: java.io.File): Unit = {
      // COPY_ATTRIBUTES keeps the staged strictly-increasing mod times,
      // so FileStreamSource's oldest-first order stays deterministic
      Files.copy(f.toPath, Paths.get(src, f.getName),
        StandardCopyOption.COPY_ATTRIBUTES)
      ()
    }
    val schema = s.read.parquet(full).schema
    def runToTermination(ss: SparkSession): Unit = {
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val agg = stream
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"), dec(col("value")).as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("bucket"),
          col("n"), col("sum_value"))
      val q = agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    withStateParts(s) { ss =>
      parts.take(2).foreach(stage)
      runToTermination(ss) // phase 1: stops with open windows in state
      parts.drop(2).foreach(stage)
      runToTermination(ss) // phase 2: restart from the SAME checkpoint
    }
    s.read.parquet(sink).orderBy(col("bucket"))
  }

  /** SESSION-WINDOW aggregation as a watermarked APPEND stream — the
    * one stateful-aggregation shape q166–q179 don't cover: dynamic-gap
    * `session_window(ts, 6 hours)` per user over the chronological
    * 4-file source. Spark merges overlapping per-event windows
    * [ts, ts+gap) into sessions (a session breaks when the next event
    * is ≥ gap after the previous one) and emits a session only once
    * the event-time watermark passes its end (last event ts + gap) —
    * state holds open sessions only, the unbounded-stream scale shape.
    * Sessions still open at end-of-stream are withheld by definition;
    * the oracle is the batch gaps-and-islands rollup with the same
    * cutoff (session end ≤ max ts − 30 min). */
  def q181(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val src = stagedEventsByTimeSrc(s, dir)
    val sink = scratchDir("graft_q181_sink")
    val ckpt = scratchDir("graft_q181_ckpt")
    withStateParts(s) { ss =>
      val stream = ss.readStream.schema(ss.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 2).parquet(src)
      val agg = stream
        .withWatermark("ts", "30 minutes")
        .groupBy(col("user_id"), session_window(col("ts"), "6 hours"))
        .agg(count(lit(1)).as("n"), dec(col("value")).as("sum_value"))
        .select(col("user_id"),
          unix_timestamp(col("session_window.start")).as("sess_start"),
          unix_timestamp(col("session_window.end")).as("sess_end"),
          col("n"), col("sum_value"))
      val q = agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read.parquet(sink).orderBy(col("user_id"), col("sess_start"))
  }

  /** merge_json: deep-merge 50-row batches — scalar leaves collect into
    * seq-ordered arrays (rendered as joined strings for the oracle). */
  def q38(s: SparkSession, dir: String): DataFrame = {
    val env = Envelope.wrap(
      t(s, dir, "events").select(col("event_id"), col("event_type")),
      scala.Seq(col("event_id")), batchSize = 50)
    val out = B.MergeJson()(env)
    out.select(
        col(Envelope.BatchId).as("batch_id"),
        array_join(transform(col("doc.event_id"), x => x.cast(StringType)), ",").as("ids"),
        array_join(col("doc.event_type"), ",").as("types"))
      .orderBy(col("batch_id"))
  }

  /** q185: merge_json EXACT gabs-fold semantics (lib/processor/
    * merge_json.go) — per-part single-key dynamic docs so batches
    * exercise BOTH collision arrays (a type seen twice in a batch
    * gathers ids in seq order) and lone values staying UNWRAPPED (the
    * shape the static path can't express), rendered sorted-key like
    * Go's json.Marshal. */
  def q185(s: SparkSession, dir: String): DataFrame = {
    val env0 = Envelope.wrap(
      t(s, dir, "events").select(col("event_id"), col("event_type")),
      scala.Seq(col("event_id")), batchSize = 50)
    val env = env0.withColumn(Envelope.Doc,
      map(concat(lit("t_"), col("doc.event_type")), col("doc.event_id")))
    val out = B.MergeJson(exact = true)(env)
    out.select(
        col(Envelope.BatchId).as("batch_id"),
        col(Envelope.Content).cast(StringType).as("doc_json"))
      .orderBy(col("batch_id"))
  }

  /** sort_parts: reorder each 50-row batch by value descending. */
  def q42(s: SparkSession, dir: String): DataFrame = {
    val env = Envelope.wrap(
      t(s, dir, "events").select(col("event_id"), col("value")),
      scala.Seq(col("event_id")), batchSize = 50)
    val out = B.SortParts("this.value", descending = true)(env)
    out.select(col(Envelope.BatchId).as("batch_id"),
        col(Envelope.Seq).as("seq"), col("doc.event_id").as("event_id"))
      .orderBy(col("batch_id"), col("seq"))
  }

  /** group_by_value: re-batch by an interpolated value; group sizes. */
  def q43(s: SparkSession, dir: String): DataFrame = {
    val env = Envelope.wrapUnordered(t(s, dir, "events"))
    val out = B.GroupByValue("this.event_type")(env)
    out.groupBy(element_at(col(Envelope.Meta), "group_value").as("group_value"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("group_value"))
  }

  /** compress → decompress round trip over document text (gzip). */
  def q44(s: SparkSession, dir: String): DataFrame = {
    // order established below the codec projections (see BloblQueries
    // seqSorted): the old top-level orderBy's sampling pass re-ran the
    // whole gzip+gunzip chain once more per action. doc_id order is the
    // total order either way; projections preserve row order.
    val env = Envelope.wrapUnordered(t(s, dir, "documents")
        .orderBy(col("doc_id")))
      .withColumn(Envelope.Content, col("doc.text").cast(BinaryType))
    val out = Pipeline(scala.Seq(
      CodecProcs.CompressProc("gzip"),
      CodecProcs.DecompressProc("gzip")))(env)
    out.select(col("doc.doc_id").as("doc_id"),
        col(Envelope.Content).cast(StringType).as("text"))
  }

  /** awk (subprocess line-lockstep pipe): uppercase document text. */
  def q45(s: SparkSession, dir: String): DataFrame = {
    val env = Envelope.wrapUnordered(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
      .withColumn(Envelope.Content, col("doc.text").cast(BinaryType))
    val out = AwkProc("{ print toupper($0) }")(env)
    out.select(col(Envelope.Meta), // keep schema simple: meta unused
        col(Envelope.Content).cast(StringType).as("utext"),
        col(Envelope.Seq))
      .join(
        env.select(col("doc.doc_id").as("doc_id"), col(Envelope.Seq)),
        scala.Seq(Envelope.Seq))
      .select(col("doc_id"), col("utext"))
      .orderBy(col("doc_id"))
  }

  /** q159: cache-backed dedupe CROSS-RUN — the reference's only dedupe
    * form (`lib/processor/dedupe.go:32-58`) keys a shared named cache so
    * duplicates drop across pipeline runs, not just within one. The gate
    * runs two batches through one CachedDedupeProc: run 1 (doc_id % 7 = 0)
    * seeds the cache with its keys eagerly; run 2's survivors are exactly
    * the keys run 1 never saw. The 2-hex-char fingerprint (256 buckets)
    * forces heavy cross-batch collisions. Oracle replays both runs with
    * a NOT IN against run 1's key set. */
  def q159(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      substring(md5(col("text")), 1, 2).as("fp"))
    val store = new CacheOps.MemoryCache // fresh per invocation (bench reruns)
    val proc = CachedDedupeProc(store, "this.fp")
    // run 1: batch-mode apply writes its survivor keys back eagerly
    proc(Envelope.wrap(docs.filter(col("doc_id") % 7 === 0),
      scala.Seq(col("doc_id"))))
    // run 2: a separate batch consulting the same named cache resource
    proc(Envelope.wrap(docs.filter(col("doc_id") % 7 =!= 0),
      scala.Seq(col("doc_id"))))
      .select(col("doc.fp").as("fp"))
      .orderBy(col("fp"))
  }

  val queries: Map[String, Q] = Map(
    "q45_awk" -> (q45 _),
    "q44_compress_roundtrip" -> (q44 _),
    "q42_sort_parts" -> (q42 _),
    "q43_group_by_value" -> (q43 _),
    "q38_merge_json" -> (q38 _),
    "q185_merge_exact" -> (q185 _),
    "q32_generate_agg" -> (q32 _),
    "q13_dedupe" -> (q13 _),
    "q166_stream_dedupe" -> (q166 _),
    "q167_stream_window" -> (q167 _),
    "q170_stream_watermark_append" -> (q170 _),
    "q171_stream_drop_dup_watermark" -> (q171 _),
    "q172_stream_stream_join" -> (q172 _),
    "q174_stream_outer_join" -> (q174 _),
    "q175_stream_ckpt_recovery" -> (q175 _),
    "q179_stream_full_outer" -> (q179 _),
    "q181_stream_session" -> (q181 _),
    "q182_stream_ttl_dedupe" -> (q182 _),
    "q159_cached_dedupe" -> (q159 _),
    "q14_hash_sample" -> (q14 _),
    "q15_split_archive" -> (q15 _),
    "q16_unarchive_words" -> (q16 _),
    "q17_switch" -> (q17 _),
    "q18_try_catch" -> (q18 _),
    "q19_group_by" -> (q19 _),
    "q20_branch_enrich" -> (q20 _),
    "q21_sharded_join" -> (q21 _),
    "q22_select_parts" -> (q22 _),
    "q23_bounds_check" -> (q23 _),
    "q24_grok" -> (q24 _))

  val oracleSql: Map[String, String] = Map(
    "q45_awk" ->
      """SELECT doc_id, upper(text) AS utext
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q44_compress_roundtrip" ->
      "SELECT doc_id, text FROM documents ORDER BY doc_id",
    "q42_sort_parts" ->
      """WITH t AS (
        | SELECT event_id, value,
        |  row_number() OVER (ORDER BY event_id) - 1 AS rn
        | FROM events),
        |b AS (
        | SELECT event_id, value, rn,
        |  CAST(floor(rn/50.0) AS BIGINT) AS batch_id
        | FROM t)
        |SELECT batch_id,
        | row_number() OVER (PARTITION BY batch_id ORDER BY value DESC, rn) - 1 AS seq,
        | event_id
        |FROM b ORDER BY batch_id, seq""".stripMargin,
    "q43_group_by_value" ->
      """SELECT event_type AS group_value, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY group_value""".stripMargin,
    "q38_merge_json" ->
      """WITH t AS (
        | SELECT event_id, event_type,
        |  row_number() OVER (ORDER BY event_id) - 1 AS rn
        | FROM events)
        |SELECT CAST(floor(rn/50.0) AS BIGINT) AS batch_id,
        | string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rn) AS ids,
        | string_agg(event_type, ',' ORDER BY rn) AS types
        |FROM t GROUP BY 1 ORDER BY batch_id""".stripMargin,
    // exact gabs-fold: one-collision keys gather into arrays in seq
    // order, lone keys stay unwrapped, keys render sorted
    "q185_merge_exact" ->
      """WITH t AS (
        | SELECT event_id, event_type,
        |  row_number() OVER (ORDER BY event_id) - 1 AS rn
        | FROM events),
        |p AS (
        | SELECT CAST(floor(rn/50.0) AS BIGINT) AS batch_id,
        |  't_' || event_type AS k, CAST(event_id AS VARCHAR) AS v, rn
        | FROM t),
        |m AS (
        | SELECT batch_id, k,
        |  CASE WHEN count(*) = 1 THEN min(v)
        |       ELSE '[' || string_agg(v, ',' ORDER BY rn) || ']' END AS mv
        | FROM p GROUP BY batch_id, k)
        |SELECT batch_id,
        | '{' || string_agg('"' || k || '":' || mv, ',' ORDER BY k) || '}' AS doc_json
        |FROM m GROUP BY batch_id ORDER BY batch_id""".stripMargin,
    "q32_generate_agg" ->
      """SELECT i % 7 AS bucket, CAST(sum(i*i) AS BIGINT) AS sum_sq, count(*) AS n
        |FROM range(1000) t(i) GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q13_dedupe" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // identical semantics to q13 — the gate's point is that the
    // STREAMING execution converges to the same answer
    "q166_stream_dedupe" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // q166 through transformWithState + RocksDB (TTL > run wall clock
    // -> first-occurrence dedupe); same converged answer
    "q182_stream_ttl_dedupe" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // identical semantics to q33 — streaming windowed-agg convergence
    "q167_stream_window" ->
      """SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS bucket,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,
    // q33 under watermarked APPEND streaming: only windows the final
    // watermark (max ts - 30 min) has closed are ever emitted — the
    // oracle applies the same cutoff to the batch aggregate
    "q170_stream_watermark_append" ->
      """SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS bucket,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1
        |HAVING bucket + 3600 <= (SELECT epoch(max(ts)) - 1800 FROM events)
        |ORDER BY bucket""".stripMargin,
    // streaming session windows: batch gaps-and-islands (a session
    // breaks when the next event is >= 6 h after the previous), with
    // the append-mode cutoff — only sessions the final watermark
    // (max ts - 30 min) has closed are ever emitted
    "q181_stream_session" ->
      """WITH e AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts >= lag(ts) OVER w + INTERVAL 6 HOUR
        |       THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |i AS (SELECT user_id, ts, value,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                 ROWS UNBOUNDED PRECEDING) AS sid FROM e),
        |sess AS (SELECT user_id, sid,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start,
        |  CAST(floor(epoch(max(ts))) + 21600 AS BIGINT) AS sess_end,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |  FROM i GROUP BY 1, 2)
        |SELECT user_id, sess_start, sess_end, n, sum_value FROM sess
        |WHERE sess_end <= (SELECT CAST(epoch(max(ts)) AS BIGINT) - 1800
        |                   FROM events)
        |ORDER BY user_id, sess_start""".stripMargin,
    // stop/restart from the same checkpoint == the uninterrupted run:
    // q170's oracle verbatim (exactly-once state continuation)
    "q175_stream_ckpt_recovery" ->
      """SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS bucket,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1
        |HAVING bucket + 3600 <= (SELECT epoch(max(ts)) - 1800 FROM events)
        |ORDER BY bucket""".stripMargin,
    // dropDuplicatesWithinWatermark with a delay exceeding the corpus
    // span converges to plain DISTINCT on the key
    "q171_stream_drop_dup_watermark" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // stream-stream interval join == the batch interval join
    "q172_stream_stream_join" ->
      """SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |ORDER BY a.user_id, click_id, purchase_id""".stripMargin,
    // left-outer stream-stream join: matched pairs always emit; an
    // UNMATCHED click emits (null purchase) only once the final global
    // watermark — min(max click ts, max purchase ts) − 30 min — has
    // passed the end of its match window (click_ts + 1 h)
    "q179_stream_full_outer" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
        |           FROM events WHERE event_type = 'click'),
        |     p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        |           FROM events WHERE event_type = 'purchase'),
        |     wm AS (SELECT least((SELECT max(click_ts) FROM c),
        |                         (SELECT max(purchase_ts) FROM p))
        |                   - INTERVAL 30 MINUTE AS w)
        |SELECT coalesce(c.user_id, p.user_id) AS user_id, c.click_id,
        |       CAST(floor(epoch(c.click_ts)) AS BIGINT) AS click_epoch,
        |       p.purchase_id,
        |       CAST(floor(epoch(p.purchase_ts)) AS BIGINT) AS purchase_epoch
        |FROM c FULL JOIN p
        |  ON c.user_id = p.user_id
        | AND p.purchase_ts >= c.click_ts
        | AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
        |WHERE (c.click_id IS NOT NULL AND p.purchase_id IS NOT NULL)
        |   OR (p.purchase_id IS NULL
        |       AND c.click_ts + INTERVAL 1 HOUR < (SELECT w FROM wm))
        |   OR (c.click_id IS NULL
        |       AND p.purchase_ts < (SELECT w FROM wm))
        |ORDER BY user_id, click_id, purchase_id""".stripMargin,
    "q174_stream_outer_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
        |           FROM events WHERE event_type = 'click'),
        |     p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        |           FROM events WHERE event_type = 'purchase'),
        |     wm AS (SELECT least((SELECT max(click_ts) FROM c),
        |                         (SELECT max(purchase_ts) FROM p))
        |                   - INTERVAL 30 MINUTE AS w)
        |SELECT c.user_id, c.click_id,
        |       CAST(floor(epoch(c.click_ts)) AS BIGINT) AS click_epoch,
        |       p.purchase_id
        |FROM c LEFT JOIN p
        |  ON c.user_id = p.user_id
        | AND p.purchase_ts >= c.click_ts
        | AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
        |WHERE p.purchase_id IS NOT NULL
        |   OR c.click_ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin,
    "q159_cached_dedupe" ->
      """WITH d AS (SELECT doc_id, substr(md5(text), 1, 2) AS fp FROM documents)
        |SELECT DISTINCT fp FROM d
        |WHERE doc_id % 7 <> 0
        |  AND fp NOT IN (SELECT fp FROM d WHERE doc_id % 7 = 0)
        |ORDER BY fp""".stripMargin,
    "q14_hash_sample" ->
      """SELECT count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE substr(md5(CAST(event_id AS VARCHAR)),1,4) >= '0000'
        |  AND substr(md5(CAST(event_id AS VARCHAR)),1,4) < '4000'""".stripMargin,
    "q15_split_archive" ->
      """WITH t AS (
        | SELECT event_type, row_number() OVER (ORDER BY event_id) - 1 AS rn
        | FROM events)
        |SELECT CAST(floor(rn/100.0) AS BIGINT) AS batch_id,
        | string_agg(event_type, chr(10) ORDER BY rn) AS payload
        |FROM t GROUP BY 1 ORDER BY batch_id""".stripMargin,
    "q16_unarchive_words" ->
      """SELECT word, count(*) AS n FROM (
        | SELECT unnest(string_split(replace(text, ' ', chr(10)), chr(10))) AS word
        | FROM documents)
        |GROUP BY word ORDER BY word""".stripMargin,
    "q17_switch" ->
      """SELECT event_id,
        | CASE WHEN event_type = 'error' THEN 'err'
        |      WHEN event_type = 'purchase' THEN 'buy'
        |      ELSE 'other' END AS branch,
        | CASE WHEN event_type = 'error' THEN value * 2
        |      WHEN event_type = 'purchase' THEN value * 10
        |      ELSE value * 1 END AS v
        |FROM events ORDER BY event_id""".stripMargin,
    "q18_try_catch" ->
      """SELECT doc_id,
        | CASE WHEN n_chars > 300 THEN 'too_long' ELSE 'ok' END AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q19_group_by" ->
      """SELECT event_id,
        | CASE WHEN value < 5 THEN 'low' ELSE 'high' END AS tier,
        | CASE WHEN value < 5 THEN value * 2 ELSE value / 2 END AS v
        |FROM events ORDER BY event_id""".stripMargin,
    "q20_branch_enrich" ->
      """SELECT event_id, c_mktsegment AS segment
        |FROM events LEFT JOIN customer ON c_custkey = user_id
        |ORDER BY event_id""".stripMargin,
    "q21_sharded_join" ->
      """SELECT c_custkey AS id, count(o_orderkey) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY id""".stripMargin,
    "q22_select_parts" ->
      """WITH t AS (
        | SELECT event_id, row_number() OVER (ORDER BY event_id) - 1 AS rn
        | FROM events),
        |b AS (
        | SELECT event_id,
        |  row_number() OVER (PARTITION BY CAST(floor(rn/50.0) AS BIGINT) ORDER BY rn) - 1 AS i,
        |  count(*) OVER (PARTITION BY CAST(floor(rn/50.0) AS BIGINT)) AS n
        | FROM t)
        |SELECT event_id FROM b WHERE i = 0 OR i = n - 1 ORDER BY event_id""".stripMargin,
    "q23_bounds_check" ->
      """SELECT doc_id FROM documents
        |WHERE strlen(text) BETWEEN 200 AND 400 ORDER BY doc_id""".stripMargin,
    "q24_grok" ->
      """SELECT o_orderkey AS okey, o_orderstatus AS status,
        | printf('%.2f', o_totalprice) AS price
        |FROM orders ORDER BY okey""".stripMargin)
}
