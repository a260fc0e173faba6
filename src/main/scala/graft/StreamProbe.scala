package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming scale-up probe — the stateful-streaming counterpart of
  * [[ScaleProbe]], covering the one scale surface the batch probe
  * can't: does STATE stay bounded while the stream grows?
  *
  * Construction: the sf0.1 events corpus (100k rows / 30 days / 1,500
  * users) is replicated at 1×/4×/16× by TIME-SHIFTING each copy past
  * the previous one (span + 12 h, so no session can merge across
  * copies and the watermark sweeps cleanly between them). The stream
  * gets LONGER — per-hour density, user population, and per-file span
  * stay constant — which is exactly the unbounded-stream deployment
  * shape: at 100 TB the stream is years long, not 16× denser. Each
  * copy stages as 4 chronological parquet files with strictly
  * increasing mod times (FileStreamSource reads oldest-first), one
  * micro-batch per file, so the batch count grows with the corpus.
  *
  * Probed shapes (the two stateful families behind q181/q170 and
  * q172/q174/q179):
  *  - `session_agg`: watermarked append-mode `session_window(ts, 6 h)`
  *    per user (30 min delay)
  *  - `interval_join`: watermarked click→purchase stream-stream join
  *    within 1 h
  *
  * Per point it records one [[Probe.Row]]: wall and the [[Probe.Counters]]
  * of the streaming query alone (not staging, not the output count),
  * rows in/out, BATCHES, and the PEAK state-store row count across all
  * micro-batches (StreamingQueryProgress.stateOperators.numRowsTotal —
  * the scale verdict signal: peak state must track the instantaneous
  * open-state horizon, NOT the stream length). StreamScaleSpec gates
  * peak-state flatness and rows-out linearity; walls are recorded for
  * the protocol but not gated (micro-batch overhead dominates at small
  * mults and the shared box wobbles ±2×). Run as `graft.Probe stream`,
  * which merges the rows into STREAMSCALE_r10.json (or `--out <path>`).
  */
object StreamProbe {

  /** Stage `mult` time-shifted copies of events as 4 chronological
    * files each, mod times ascending across the whole sequence. */
  private def stageEvents(spark: SparkSession, dir: String, mult: Int,
      base: java.io.File): String = {
    val src = new java.io.File(base, s"events_x$mult")
    if (new java.io.File(src, "_READY").exists()) return src.toString
    val tmp = new java.io.File(base, s"events_x$mult.tmp")
    // a crashed prior staging leaves partial files whose names collide
    // with this run's Files.move — start from a clean tmp
    if (tmp.exists()) org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    tmp.mkdirs()
    val ev = spark.read.parquet(s"$dir/events.parquet")
    // 30-day corpus → shift copy i by i * 31 days; quarter each copy
    // chronologically so batch span (and with it the open-state
    // horizon per batch) is constant across mults
    // ts is TIMESTAMP_NTZ (LocalDateTime to getTimestamp) — cast under
    // the UTC session so the epoch arithmetic below is exact
    val q = ev.select(col("ts").cast("timestamp").as("ts")).agg(
      min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    val (lo, hi) = (q.getTimestamp(0).getTime, q.getTimestamp(1).getTime)
    val quarter = (hi - lo) / 4 + 1
    var n = 0
    for (copy <- 0 until mult; part <- 0 until 4) {
      val qlo = lo + part * quarter
      // stage ts as TIMESTAMP (UTC session): watermarks reject NTZ
      val slice = ev
        .withColumn("ts", col("ts").cast("timestamp"))
        .filter(unix_millis(col("ts")) >= qlo &&
          unix_millis(col("ts")) < qlo + quarter)
        .withColumn("ts", col("ts") + expr(s"INTERVAL ${copy * 31} DAYS"))
      val stage = new java.io.File(tmp, s"stage_$n")
      slice.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val pf = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(tmp, f"part-$n%04d.parquet")
      java.nio.file.Files.move(pf.toPath, dest.toPath)
      dest.setLastModified(1700000000000L + n * 60000L)
      org.apache.commons.io.FileUtils.deleteDirectory(stage)
      n += 1
    }
    new java.io.File(tmp, "_READY").createNewFile()
    if (!tmp.renameTo(src)) {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      require(new java.io.File(src, "_READY").exists(),
        s"stream probe staging: concurrent rename lost and $src is incomplete")
    }
    src.toString
  }

  private def runShape(s: SparkSession, src: String, op: String,
      mult: Int, rowsIn: Long)(
      build: (SparkSession, DataFrame) => DataFrame): Probe.Row = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val sink = java.nio.file.Files
      .createTempDirectory(s"streamprobe_${op}_sink").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory(s"streamprobe_${op}_ckpt").toString
    val schema = ss.read.parquet(src).schema
    val stream = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val out = build(ss, stream)
    val (q, wall, prof) = Probe.measured(ss) {
      val q = out.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    }
    // recentProgress retains only the last ~100 entries, so peak state
    // is a lower bound past ~100 batches (state is monotone-bounded
    // here, so the tail window still witnesses the plateau); the batch
    // COUNT must come from the last batchId, not the retained length
    val progs = q.recentProgress.toSeq
    val states = progs.flatMap(p => Option(p.stateOperators).toSeq.flatten)
    val maxState =
      if (states.isEmpty) 0L else states.map(_.numRowsTotal).max
    val dropped =
      if (states.isEmpty) 0L else states.map(_.numRowsDroppedByWatermark).sum
    val batches = Option(q.lastProgress).map(_.batchId + 1)
      .getOrElse(progs.length.toLong)
    val rowsOut = s.read.parquet(sink).count()
    val row = Probe.Row(op, mult, rowsIn, wall, rowsOut,
      counters = Some(Probe.Counters.of(prof)),
      stream = Some(Probe.StreamStats(batches, maxState, dropped)))
    println(s"STREAMSCALE ${row.json}")
    row
  }

  def run(spark: SparkSession, mults: scala.Seq[Int]): scala.Seq[Probe.Row] = {
    val base = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_streamprobe")
    base.mkdirs()
    mults.flatMap { m =>
      val src = stageEvents(spark, Probe.SfDir, m, base)
      val rowsIn = 100000L * m
      val sess = runShape(spark, src, "session_agg", m, rowsIn) { (ss, st) =>
        st.withWatermark("ts", "30 minutes")
          .groupBy(col("user_id"), session_window(col("ts"), "6 hours"))
          .agg(count(lit(1)).as("n"))
          .select(col("user_id"),
            unix_timestamp(col("session_window.start")).as("sess_start"),
            col("n"))
      }
      val join = runShape(spark, src, "interval_join", m, rowsIn) { (ss, st) =>
        val clicks = st.filter(col("event_type") === "click")
          .select(col("user_id").as("cu"), col("ts").as("cts"))
          .withWatermark("cts", "30 minutes")
        val purchases = st.filter(col("event_type") === "purchase")
          .select(col("user_id").as("pu"), col("ts").as("pts"))
          .withWatermark("pts", "30 minutes")
        clicks.join(purchases, expr(
          "cu = pu AND pts >= cts AND pts <= cts + INTERVAL 1 HOUR"))
          .select(col("cu"), col("cts"), col("pts"))
      }
      // q182's TTL key-cache dedupe (transformWithState + RocksDB): the
      // third stateful family. State AND output both track the DISTINCT
      // KEY population (users × event types, fixed as the stream grows)
      // — the time-shifted copies add length, not keys, so this family's
      // scale claim is FLAT outputs, not linear ones (gated per-op in
      // StreamScaleSpec).
      val ttl = runShape(spark, src, "ttl_dedupe", m, rowsIn) { (ss, st) =>
        ss.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider")
        graft.streaming.Streaming.dedupeByKeyTtl(
          graft.model.Envelope.wrapUnordered(st),
          """this.user_id.string() + ":" + this.event_type""",
          java.time.Duration.ofDays(365))
          .select(col("key"))
      }
      scala.Seq(sess, join, ttl)
    }
  }
}
