package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.blobl.{CompiledMapping, Mapping => Blobl}
import graft.model.Envelope

/** A pipeline operator: `DataFrame => DataFrame` over the envelope schema
  * (SURVEY §1.3). This is the Spark shape of the reference's `Processor`
  * interface (`lib/types/interface.go:89-104`, N msgs in → M msgs out):
  * row-wise ops are projections, filtering ops are filters, batch-shaping
  * ops are window/group operations — all staying in the DataFrame API so
  * Catalyst fuses adjacent operators into single stages.
  */
trait Processor extends Serializable {
  def apply(df: DataFrame): DataFrame
}

/** Sequential composition; the config `pipeline.processors` list.
  * (`lib/processor/util.go:16` ExecuteAll — a left fold.) */
final case class Pipeline(procs: scala.Seq[Processor]) extends Processor {
  def apply(df: DataFrame): DataFrame = procs.foldLeft(df)((d, p) => p(d))
}

/** `noop` (`lib/processor/noop.go`). */
case object Noop extends Processor { def apply(df: DataFrame): DataFrame = df }

/** `for_each` / `parallel` (`lib/processor/for_each.go`, `parallel.go`):
  * Spark is already per-row parallel — compiler no-op wrappers. */
final case class ForEach(children: scala.Seq[Processor]) extends Processor {
  def apply(df: DataFrame): DataFrame = Pipeline(children)(df)
}

/** `bloblang` processor (`lib/processor/bloblang.go`): the centerpiece. */
final case class BloblangProc(mapping: String,
    env: Map[String, String] = Map.empty) extends Processor {
  @transient private lazy val compiled: CompiledMapping =
    Blobl.compile(mapping).withEnv(env)
  def apply(df: DataFrame): DataFrame = compiled.applyEnvelope(df)
}

/** `filter`/`filter_parts` (`lib/processor/filter.go`): keep rows where the
  * Bloblang predicate holds. */
final case class FilterProc(check: String) extends Processor {
  def apply(df: DataFrame): DataFrame =
    df.filter(coalesce(Blobl.envelopeExpr(df, check), lit(false)))
}

/** `sample` (`lib/processor/sample.go`): random percentage. */
final case class SampleProc(retain: Double, seed: Long = 42L) extends Processor {
  def apply(df: DataFrame): DataFrame = df.sample(retain, seed)
}

/** `hash_sample` (`lib/processor/hash_sample.go`): deterministic sample —
  * keep rows whose content-hash ∈ [min%, max%). The bucket test compares
  * the md5 hex prefix lexicographically against percentile thresholds, so
  * it is portable across engines (the reference uses xxhash64; md5 keeps
  * the same "deterministic, uniform" contract). */
final case class HashSampleProc(minPct: Double, maxPct: Double, key: String = "content().string()")
    extends Processor {
  // bucket in [0, 65536]; 65536 means "past the end of the hash range", so
  // a lower bound there matches nothing and an upper bound there is
  // unbounded (pct >= 100 keeps everything above min). Never format 65536
  // as a 5-char hex string — it compares wrong against 4-char prefixes.
  private def bucket(pct: Double): Long =
    math.min(65536L, math.max(0L, math.round(pct / 100.0 * 65536.0)))
  def apply(df: DataFrame): DataFrame = {
    val h = substring(md5(Blobl.envelopeExpr(df, key).cast("string")), 1, 4)
    val lo = bucket(minPct)
    val hi = bucket(maxPct)
    val lower =
      if (lo <= 0L) lit(true)
      else if (lo >= 65536L) lit(false)
      else h >= f"$lo%04x"
    val upper = if (hi >= 65536L) lit(true) else h < f"$hi%04x"
    df.filter(lower && upper)
  }
}

/** `sleep` processor (`lib/processor/sleep.go`): pause per message — the
  * row-interleaved throttle. Go-duration string (e.g. "100ms"); rows pass
  * through untouched. For pipeline-level pacing prefer streaming trigger
  * intervals; this exists for the reference's per-message form. */
final case class SleepProc(duration: String) extends Processor {
  private val millis: Long = {
    val nanos = graft.exprs.GoDurationParse.parse(
      org.apache.spark.unsafe.types.UTF8String.fromString(duration))
    require(nanos != null, s"sleep: bad duration '$duration'")
    nanos / 1000000L
  }
  def apply(df: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(df.schema)
    val ms = millis
    df.mapPartitions { rows =>
      rows.map { r => if (ms > 0) Thread.sleep(ms); r }
    }(enc)
  }
}

/** `metric` processor (`lib/processor/metric.go:280-308`): emit
  * counters/gauges from the flowing data without a separate pass —
  * `df.observe` accumulates during the action; read via
  * `Observation.get` (batch) or QueryProgress events (streaming). */
final case class MetricProc(obs: org.apache.spark.sql.Observation,
    aggs: scala.Seq[Column]) extends Processor {
  def apply(df: DataFrame): DataFrame = df.observe(obs, aggs.head, aggs.tail: _*)
}

/** Content-transform processor: replace the raw content bytes with a
  * compiled Bloblang expression over the envelope — the shared shape of
  * the v3 `hash`, `encode`, `decode`, and `xml` processors (content in,
  * content out, doc/meta untouched). */
final case class ContentProc(expr: String) extends Processor {
  def apply(df: DataFrame): DataFrame =
    df.withColumn(graft.model.Envelope.Content,
      Blobl.envelopeExpr(df, expr).cast(org.apache.spark.sql.types.BinaryType))
}

/** `metadata` processor (`lib/processor/metadata.go`): set/delete a meta
  * key; the value is an interpolated string. */
final case class MetadataProc(operator: String, key: String, value: String = "")
    extends Processor {
  def apply(df: DataFrame): DataFrame = {
    val M = graft.model.Envelope.Meta
    operator match {
      case "set" =>
        val v = graft.blobl.Interpolation.column(df, value)
          .cast(org.apache.spark.sql.types.StringType)
        df.withColumn(M, map_concat(
          map_filter(col(M), (k, _) => k =!= key), map(lit(key), v)))
      case "delete" | "delete_all" if operator == "delete" =>
        df.withColumn(M, map_filter(col(M), (k, _) => k =!= key))
      case "delete_all" =>
        df.withColumn(M, map_filter(col(M), (_, _) => lit(false)))
      case "delete_prefix" =>
        df.withColumn(M, map_filter(col(M), (k, _) => !k.startsWith(key)))
      case o => throw new IllegalArgumentException(s"metadata: unknown operator $o")
    }
  }
}

object DedupeProc {
  /** The reference's `key` field is an INTERPOLATED string (`${! ... }`,
    * dedupe.go:80) defaulting to the message contents; a bare Bloblang
    * expression is accepted as a superset. `hash: xxhash` hashes the
    * key before comparison (dedupe.go:79) — same distinct set, bounded
    * key width. */
  private[ops] def keyColumn(df: DataFrame, key: String, hash: String): Column = {
    val k =
      if (key.contains("${")) graft.blobl.Interpolation.column(df, key)
      else Blobl.envelopeExpr(df, key)
    hash match {
      case "none" | "" => k
      case "xxhash" => xxhash64(k.cast(org.apache.spark.sql.types.StringType))
      case o => throw new IllegalArgumentException(s"dedupe: unknown hash $o")
    }
  }
}

/** `dedupe` (`lib/processor/dedupe.go:32-58`): drop rows with an
  * already-seen key. Batch mode = dropDuplicates (state = shuffle hash);
  * on a stream the same dropDuplicates keeps every seen key in state
  * (no watermark, so no row is ever dropped as late). */
final case class DedupeProc(key: String, hash: String = "none") extends Processor {
  def apply(df: DataFrame): DataFrame = {
    val keyed = df.withColumn("_dedupe_key",
      DedupeProc.keyColumn(df, key, hash))
    keyed.dropDuplicates("_dedupe_key").drop("_dedupe_key")
  }
}

/** Cache-backed dedupe (`lib/processor/dedupe.go:53-78`): the reference
  * form keys a named cache resource so duplicates are dropped ACROSS
  * batches/runs, not just within one. Batch-local dropDuplicates first,
  * then a broadcast anti-join against the cache's seen-key snapshot (the
  * cache is key-sized, not data-sized), then the survivors' keys are
  * written back. Same at-least-once caveat as the reference: a crash
  * between write-back and delivery can drop or re-admit a key. */
final case class CachedDedupeProc(store: CacheOps.CacheStore,
    key: String, hash: String = "none") extends Processor {
  def apply(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val keyed = df.withColumn("_dedupe_key",
        DedupeProc.keyColumn(df, key, hash).cast("string"))
      .dropDuplicates("_dedupe_key")
    val seen = store.snapshot(df.sparkSession)
      .select(col("key").as("_dedupe_key"))
    if (df.isStreaming) {
      // Streaming: dropDuplicates state carries the seen-key set across
      // micro-batches WITHIN this query; the stream-static anti-join below
      // drops keys other pipelines had already recorded in the shared cache
      // when this query was planned. Keys THIS stream admits are upserted
      // back per micro-batch by the sink's foreachBatch (runStream collects
      // this proc and calls writeBack) so the reference's shared-resource
      // contract (lib/processor/dedupe.go:32-58) holds across pipelines and
      // restarts. Remaining (documented) race: keys another pipeline writes
      // while this stream is mid-run are not consulted — the reference has
      // the same read-then-write race at batch granularity.
      keyed.join(broadcast(seen), scala.Seq("_dedupe_key"), "left_anti")
        .drop("_dedupe_key")
    } else {
      val fresh = keyed.join(broadcast(seen), scala.Seq("_dedupe_key"),
        "left_anti")
      store.upsert(fresh.select(col("_dedupe_key").as("key"),
        lit("1").as("value")))
      fresh.drop("_dedupe_key")
    }
  }

  /** Per-micro-batch write-back for streaming runs: upsert the delivered
    * batch's keys into the named cache. Invoked from the sink-side
    * foreachBatch (the only place a mid-plan streaming processor can
    * side-effect). The key expression is re-evaluated on the DELIVERED
    * envelope shape — exact whenever downstream processors pass the key
    * fields through (the common case); a downstream rewrite of a key field
    * would record the rewritten key. */
  def writeBack(batch: DataFrame): Unit = {
    import org.apache.spark.sql.functions.lit
    store.upsert(batch
      .select(DedupeProc.keyColumn(batch, key, hash).cast("string").as("key"),
        lit("1").as("value"))
      .na.drop(scala.Seq("key"))
      .dropDuplicates("key"))
  }
}
