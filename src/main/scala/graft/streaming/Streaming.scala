package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.model.Envelope
import graft.sinks.Sink

/** Structured-Streaming face of the engine (SURVEY §2.6, §3.3).
  *
  * The same `Processor` pipeline runs on `readStream` DataFrames — batch/
  * stream duality is native. The reference's delivery machinery (acks,
  * checkpoint tracker `internal/checkpoint/type.go:13-31`) maps to Spark's
  * offset/commit logs: exactly-once to idempotent sinks, strictly stronger
  * than the reference's at-least-once.
  *
  * v3 has NO event-time windowing (batch `period` is its only windowing —
  * `lib/message/batch/policy.go:53-59`). graft adds no windowing API of
  * its own: event-time windows, watermarks, watermarked dedupe and
  * stream-stream joins are Spark's operators applied to envelope
  * streams, as the streaming gates q170–q182 (`queries/OpsQueries.scala`)
  * do.
  */
object Streaming {

  /** Streaming file source → envelope (needs explicit schema, as all
    * streaming file sources do). */
  def fileStream(spark: SparkSession, path: String, format: String,
      schema: StructType): DataFrame = {
    val df = format match {
      case "parquet" => spark.readStream.schema(schema).parquet(path)
      case "json" => spark.readStream.schema(schema).json(path)
      case "csv" => spark.readStream.schema(schema).option("header", true).csv(path)
      case o => throw new IllegalArgumentException(s"unknown stream format $o")
    }
    Envelope.wrapUnordered(df)
  }

  /** `generate` input, streaming flavor: rate source + Bloblang mapping
    * (`this` = {i: Long}). */
  def rateGenerate(spark: SparkSession, mapping: String, rowsPerSecond: Int): DataFrame = {
    val base = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .select(col("value").as("i"))
    graft.blobl.Mapping.compile(mapping).applyEnvelope(Envelope.wrapUnordered(base))
  }

  /** Batch policy → processing-time micro-batching: the reference's
    * count/period flush (`lib/message/batch/policy.go`) becomes trigger
    * interval + per-micro-batch batch_id (foreachBatch assigns it). */
  def run(df: DataFrame, sink: Sink, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      onBatch: DataFrame => Unit = _ => ()): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink.write(batch.withColumn(Envelope.BatchId, lit(id)))
        // post-delivery hooks (e.g. cache-backed dedupe key write-back):
        // run AFTER the sink so a write-back never records keys for rows
        // the sink failed to deliver (same at-least-once posture as the
        // reference's ack-then-cache-set ordering)
        onBatch(batch)
      }
      .start()

  /** Streaming dedupe backed by a TTL'd key cache — the reference's
    * `dedupe` processor over a `memory` cache resource with `ttl`
    * (`lib/processor/dedupe.go` + `lib/cache/memory.go:48,92`): the
    * first row per key passes, repeats drop while the key is cached,
    * and the key RE-ADMITS once its TTL lapses. That is
    * PROCESSING-time expiry — the reference compacts on wall-clock age
    * — which `dropDuplicatesWithinWatermark` (event-time) cannot
    * express; this rides Spark 4's `transformWithState` with a
    * per-key last-seen timestamp checked against the batch's
    * processing time — LAZY expiry, which is precisely the reference's
    * contract ("after this period an item will be eligible for removal
    * during the next compaction", memory.go:48 — reads honor the TTL
    * immediately, physical removal is deferred). TimeMode.None is
    * deliberate: under TimeMode.ProcessingTime the operator schedules
    * continuous TTL-sweep micro-batches and Trigger.AvailableNow never
    * terminates (measured: 1,000+ empty batches). The trade: expired
    * keys occupy state until overwritten, like the reference's cache
    * between compactions — one row per distinct key, not per stream
    * row. Requires the RocksDB state-store provider (the TWS operator
    * rejects the HDFS-backed one); callers set
    * `spark.sql.streaming.stateStore.providerClass`. Rows ride as JSON
    * payloads; output (key, payload). */
  def dedupeByKeyTtl(df: DataFrame, keyExpr: String,
      ttl: java.time.Duration): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df.select(
      graft.blobl.Mapping.envelopeExpr(df, keyExpr)
        .cast(StringType).as("key"),
      to_json(struct(col("*"))).as("payload")).as[(String, String)]
    keyed.groupByKey(_._1)
      .transformWithState(
        new TtlDedupeProcessor(ttl.toMillis),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF("key", "payload")
  }

}

/** The TTL'd seen-key state behind [[Streaming.dedupeByKeyTtl]]: one
  * last-seen-at timestamp `ValueState` per key, checked lazily against
  * the batch's processing time (the reference's eligible-at-compaction
  * contract; see the TimeMode.None rationale on dedupeByKeyTtl). */
final class TtlDedupeProcessor(ttlMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, (String, String), (String, String)] {
  @transient private var seenAt:
    org.apache.spark.sql.streaming.ValueState[Long] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    seenAt = getHandle.getValueState[Long]("seenAt",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  }

  override def handleInputRows(key: String,
      rows: Iterator[(String, String)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(String, String)] = {
    val now = timerValues.getCurrentProcessingTimeInMs()
    if (seenAt.exists() && now - seenAt.get() < ttlMs) {
      rows.foreach(_ => ()) // drain: repeats drop while the key is live
      Iterator.empty
    } else {
      seenAt.update(now)
      // within one batch the remaining duplicates drop too (the
      // reference caches the key before the next part is checked)
      rows.take(1)
    }
  }
}

/** Streams mode (`lib/stream/manager/api.go:34-58`): a registry of named
  * running queries with lifecycle + stats — the REST layer of the
  * reference maps to these calls 1:1 (GET /streams → list, POST → start,
  * DELETE → stop, /streams/{id}/stats → stats). */
final class StreamRegistry {
  private val queries = scala.collection.concurrent.TrieMap[String, StreamingQuery]()

  def start(name: String, q: StreamingQuery): Unit = queries.put(name, q)
  def list: scala.Seq[String] = queries.keys.toSeq.sorted
  def stop(name: String): Boolean =
    queries.remove(name).map { q => q.stop(); true }.getOrElse(false)
  def stats(name: String): Option[String] =
    queries.get(name).flatMap(q => Option(q.lastProgress).map(_.json))
  def stopAll(): Unit = { queries.keys.toSeq.foreach(stop); () }
}
