package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.functions._
import graft.model.Envelope
import graft.blobl.{Mapping => Blobl}

/** Output components (reference registry `lib/output/constructor.go:158-221`).
  * A sink consumes an envelope DataFrame. Composition sinks (`switch`,
  * `fan_out`, `fallback`, `drop_on_error`) are predicate-routed writes —
  * in streaming they run inside the one `foreachBatch` of
  * [[graft.streaming.Streaming.run]], so the source is read once per
  * micro-batch.
  */
trait Sink extends Serializable {
  def write(df: DataFrame): Unit
}

/** Output-level `batching:` policy (`lib/message/batch/policy.go` via
  * every writer output's Batching field): re-batch by count / byte_size /
  * Bloblang `check` (flush WITH the matching message) before the child
  * writes; optional post-batch processors run after the re-batch.
  * `period` is a trigger-cadence knob the micro-batch engine owns. */
final case class BatchedSink(child: Sink,
    rebatch: graft.ops.Processor,
    post: scala.Seq[graft.ops.Processor] = Nil) extends Sink {
  def write(df: DataFrame): Unit =
    child.write(post.foldLeft(rebatch(df))((d, p) => p(d)))
}

object Sinks {

  /** Impossible-in-a-real-path value standing in for null, so the null
    * check rides the single write pass. \\u0001 is in Spark's
    * partition-escape set (lands as %01 on disk); \\u0000 is NOT and
    * would fail the write itself. A per-run UUID suffix makes collision
    * with a legitimate data-derived path impossible (the marker value
    * doesn't exist until this write starts). */
  private def newNullPathMarker(): String =
    s"\u0001null-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Writer codecs that write through java.nio on the tasks, not
    * through a Spark writer: they need a local path. */
  private def byteCodec(codec: String): Boolean =
    codec == "append" || codec == "all-bytes"

  /** `s3a://b/k`, `file:/tmp/x`: a path Hadoop resolves, not java.io. */
  private def hasScheme(path: String): Boolean =
    path.matches("[A-Za-z][A-Za-z0-9+.-]*:.*")

  /** Interpolated-path file output (`lib/output/writer/files.go:22,51`:
    * `path` is a Bloblang field expression — per-message dynamic paths).
    * The relative path compiles to a Column. ONE partitionBy write (a
    * single data pass, whatever the number of resolved paths) lands in a
    * temp dir under `base`; its `_graft_path=<escaped>` partition
    * directories are then checked (no null, none escaping `base`) and
    * renamed to `base/<resolved path>/`. Rows and writer are
    * [[FileSink]]'s, so every Spark-writer codec applies; `append` and
    * `all-bytes` are rejected here, at load. */
  final case class DynamicPathSink(base: String, pathExpr: String,
      format: String = "lines", mode: String = "overwrite") extends Sink {
    require(!byteCodec(format),
      s"file output: codec $format cannot write an interpolated path")
    require(!hasScheme(base),
      s"file output: an interpolated path needs a local base directory, got $base")
    private val file = FileSink(base, format, mode)

    def write(df: DataFrame): Unit = {
      // nulls are tagged with the marker and detected from the
      // driver-side partition listing AFTER the write (a distributed
      // pre-check would cost a full extra pass over the input); a
      // rejected write still fails atomically: tmp is discarded, nothing
      // lands under base
      val nullPathMarker = newNullPathMarker()
      val withP = df.withColumn("_graft_path",
        coalesce(Blobl.envelopeExpr(df, pathExpr), lit(nullPathMarker)))
      val tmp = new java.io.File(base,
        s"_graft_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
      try {
        file.save(file.project(withP, "_graft_path").write.mode("overwrite")
          .partitionBy("_graft_path"), tmp.getPath)
        val parts = Option(tmp.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("_graft_path="))
        val values = parts.map(d =>
          unescapePartitionValue(d.getName.stripPrefix("_graft_path=")))
        require(!values.contains(nullPathMarker),
          s"file output: path expression '$pathExpr' resolved to null")
        // Spark stores an empty-string partition value as the Hive
        // default-partition sentinel: "" is the base directory itself.
        // Every target is checked before the first rename, so a rejected
        // write leaves base as it was.
        val targets = values.map(raw =>
          checkInBase(if (raw == "__HIVE_DEFAULT_PARTITION__") "" else raw))
        parts.zip(targets).foreach { case (dir, target) =>
          // never recursively delete base: tmp lives under it
          val isBase = target.getCanonicalPath == baseCanon
          if (!isBase && target.exists() && mode == "overwrite")
            deleteRecursively(target)
          target.getParentFile.mkdirs()
          if (isBase || !dir.renameTo(target)) { // base / cross-device fallback
            target.mkdirs()
            Option(dir.listFiles()).getOrElse(Array.empty).foreach { f =>
              java.nio.file.Files.move(f.toPath,
                new java.io.File(target, f.getName).toPath,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            }
          }
        }
      } finally deleteRecursively(tmp)
    }

    private def baseCanon = new java.io.File(base).getCanonicalPath

    private def checkInBase(p: String): java.io.File = {
      val target = new java.io.File(base, p)
      require(target.getCanonicalPath.startsWith(baseCanon + java.io.File.separator) ||
          target.getCanonicalPath == baseCanon,
        s"file output: resolved path '$p' escapes the base directory")
      target
    }

    /** Inverse of the Hive/Spark partition-path escaping (`%XX` for
      * reserved chars — the documented external-catalog convention). */
    private def unescapePartitionValue(s: String): String = {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length) {
          try {
            sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
            i += 3
          } catch { case _: NumberFormatException => sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

    private def deleteRecursively(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
      f.delete(); ()
    }
  }

  /** The writer of every static-path file-shaped output (`file`,
    * `parquet`, the object stores), one codec table after
    * `internal/codec/writer.go`: parquet | json | csv write the unwrapped
    * doc columns; `lines` writes each row's content (else its serialized
    * doc) as one text line, `delim:x` the same with `x` between messages;
    * `append` concatenates a partition's messages into one undelimited
    * file per task and `all-bytes` writes one file per message — both
    * through java.nio on the tasks (fully parallel, no driver funnel), so
    * they need a local path. `mode` `append` keeps what earlier writes (a
    * stream's earlier micro-batches) left in `path`. */
  final case class FileSink(path: String, format: String = "parquet",
      mode: String = "overwrite") extends Sink {
    require(!(byteCodec(format) && hasScheme(path)),
      s"file output: codec $format writes local files, got $path")

    def write(df: DataFrame): Unit =
      if (byteCodec(format)) writeBytes(df)
      else save(project(df).write.mode(mode), path)

    /** The rows this sink writes, plus the `keep` columns. */
    private[sinks] def project(df: DataFrame, keep: String*): DataFrame = {
      val rows =
        if (format == "lines" || format.startsWith("delim:"))
          Envelope.contentOrDoc(df).cast("string").as("value")
        else col(Envelope.Doc + ".*")
      df.select(rows +: keep.map(col): _*)
    }

    private[sinks] def save(w: DataFrameWriter[Row], to: String): Unit =
      format match {
        case "parquet" => w.parquet(to)
        case "json" => w.json(to)
        case "csv" => w.option("header", true).csv(to)
        case "lines" => w.text(to)
        case d if d.startsWith("delim:") =>
          w.option("lineSep", d.stripPrefix("delim:")).text(to)
        case o => throw new IllegalArgumentException(s"unknown sink format $o")
      }

    private def writeBytes(df: DataFrame): Unit = {
      val perMessage = format == "all-bytes"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
      val pathStr = path
      // file names are per task; an appending write tags its own
      val tag =
        if (mode == "append") java.util.UUID.randomUUID().toString.take(8) + "-"
        else ""
      df.select(Envelope.contentOrDoc(df).cast("binary")).foreachPartition {
        (rows: Iterator[Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          if (perMessage) {
            var i = 0
            rows.foreach { r =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(pathStr, f"msg-$tag$pid%05d-$i%06d.bin"),
                r.getAs[Array[Byte]](0))
              i += 1
            }
          } else {
            val out = new java.io.BufferedOutputStream(
              java.nio.file.Files.newOutputStream(
                java.nio.file.Paths.get(pathStr, f"part-$tag$pid%05d.bin")))
            try rows.foreach(r => out.write(r.getAs[Array[Byte]](0)))
            finally out.close()
          }
      }
    }
  }

  /** `kafka` output (`lib/output/writer/kafka.go`): envelope → wire
    * columns projection + `format("kafka")` write. The projection
    * (key/topic interpolation, headers) is pure and covered by KafkaSpec;
    * the connector jar supplies transport at deploy time. */
  final case class KafkaSink(conf: graft.sources.Kafka.OutputConfig) extends Sink {
    def write(df: DataFrame): Unit = graft.sources.Kafka.write(df, conf)
  }

  /** Generic connector output: any DataSource format + options — the
    * portable path for the reference's broker/database output tail
    * (cassandra, elasticsearch, …) given the connector jar. Unwraps the
    * doc struct so connector schemas see real columns. */
  final case class SparkFormatSink(format: String,
      options: Map[String, String] = Map.empty,
      mode: String = "append") extends Sink {
    def write(df: DataFrame): Unit =
      Envelope.unwrap(df).write.format(format).options(options).mode(mode).save()
  }

  /** Broker outputs beyond kafka (`lib/output/constructor.go` registry):
    * content-or-doc as the wire value through the binding's format,
    * resolved at write time from the deploy-provided connector jar. */
  final case class BrokerSink(binding: graft.sources.Brokers.Binding)
      extends Sink {
    def write(df: DataFrame): Unit =
      df.select(Envelope.contentOrDoc(df).as("value"))
        .write.format(binding.format).options(binding.options).save()
  }

  /** `stdout` (`lib/output/writer/stdout.go`-ish): console. */
  final case class ConsoleSink(n: Int = 20) extends Sink {
    def write(df: DataFrame): Unit = Envelope.unwrap(df).show(n, truncate = false)
  }

  /** `http_client` output (`lib/output/writer/http_client.go`): POST each
    * row's content to a URL. One pooled client per PARTITION (the same
    * external-I/O shape as the http processor: connection reuse, bounded
    * concurrency = partition count); a non-2xx response after `retries`
    * fails the task — delivery is at-least-once under Spark retries, like
    * the reference's retry-forever semantics. */
  final case class HttpClientSink(url: String, verb: String = "POST",
      headers: Map[String, String] = Map.empty,
      timeoutMs: Int = 10000, retries: Int = 2) extends Sink {
    def write(df: DataFrame): Unit = {
      val (u, m, hs, tmo, rtr) = (url, verb, headers, timeoutMs, retries)
      df.select(Envelope.contentOrDoc(df).cast("string").as("body"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          val client = java.net.http.HttpClient.newBuilder()
            .connectTimeout(java.time.Duration.ofMillis(tmo)).build()
          rows.foreach { r =>
            var b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(u))
              .timeout(java.time.Duration.ofMillis(tmo))
              .method(m, java.net.http.HttpRequest.BodyPublishers.ofString(
                r.getString(0)))
            hs.foreach { case (k, v) => b = b.header(k, v) }
            var attempt = 0
            var done = false
            var lastCode = -1
            while (!done && attempt <= rtr) {
              try {
                val resp = client.send(b.build(),
                  java.net.http.HttpResponse.BodyHandlers.ofString())
                lastCode = resp.statusCode()
                done = lastCode < 300
              } catch { case _: Exception => }
              attempt += 1
            }
            if (!done) throw new java.io.IOException(
              s"http_client output: $u returned $lastCode after $rtr retries")
          }
        }
    }
  }

  /** `drop` — discard (still evaluates, for side-effect pipelines). */
  case object DropSink extends Sink { def write(df: DataFrame): Unit = () }

  /** `switch` output (`lib/output/switch.go:50-76`): route rows by
    * predicate to different sinks. Cases are exclusive-first-match. */
  final case class SwitchSink(cases: scala.Seq[(Option[String], Sink)]) extends Sink {
    def write(df: DataFrame): Unit = {
      val conds: scala.Seq[Column] = cases.map {
        case (Some(check), _) => coalesce(Blobl.envelopeExpr(df, check), lit(false))
        case (None, _) => lit(true)
      }
      cases.zipWithIndex.foreach { case ((_, sink), i) =>
        val notEarlier = conds.take(i).foldLeft(lit(true))((a, c) => a && !c)
        sink.write(df.filter(notEarlier && conds(i)))
      }
    }
  }

  /** `broker: fan_out` (`lib/broker/fan_out.go`): every sink gets every
    * row. The DF is persisted for the duration so the upstream plan runs
    * once, not once per sink. */
  final case class FanOutSink(sinks: scala.Seq[Sink]) extends Sink {
    def write(df: DataFrame): Unit = {
      val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try sinks.foreach(_.write(cached))
      finally { cached.unpersist(); () }
    }
  }

  /** `broker: round_robin` (`lib/broker/round_robin.go`): distribute rows
    * across sinks — batch rendering: row i goes to sink (seq mod N), so
    * every sink gets an even deterministic share in one pass each. */
  final case class RoundRobinSink(sinks: scala.Seq[Sink]) extends Sink {
    def write(df: DataFrame): Unit = {
      val n = sinks.length
      val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try sinks.zipWithIndex.foreach { case (sink, i) =>
        sink.write(cached.filter(pmod(col(Envelope.Seq), lit(n.toLong)) === i.toLong))
      } finally { cached.unpersist(); () }
    }
  }

  /** `retry` output (`lib/output/retry.go`): re-attempt the wrapped sink
    * with linear backoff before giving up. */
  final case class RetrySink(inner: Sink, maxRetries: Int = 3,
      backoffMs: Long = 100L) extends Sink {
    def write(df: DataFrame): Unit = {
      var attempt = 0
      var done = false
      var lastErr: Throwable = null
      while (!done && attempt <= maxRetries) {
        try { inner.write(df); done = true }
        catch {
          case e: Throwable =>
            lastErr = e
            attempt += 1
            if (attempt <= maxRetries) Thread.sleep(backoffMs * attempt)
        }
      }
      if (!done) throw lastErr
    }
  }

  /** `inproc` handoff (`lib/input/inproc.go` / `lib/output/inproc.go`):
    * pass a message stream between pipelines in the same process. The
    * Spark-native form hands off the LAZY plan — the downstream pipeline
    * composes onto the same DataFrame, so Catalyst optimizes across the
    * boundary and nothing materializes in between (strictly better than
    * the reference's channel copy). */
  object Inproc {
    private val frames = scala.collection.concurrent.TrieMap[String, DataFrame]()
    def put(name: String, df: DataFrame): Unit = frames.put(name, df)
    def get(name: String): DataFrame = frames.getOrElse(name,
      throw new IllegalArgumentException(s"inproc: nothing staged under '$name'"))
    def clear(): Unit = frames.clear()
  }

  final case class InprocSink(name: String) extends Sink {
    def write(df: DataFrame): Unit = Inproc.put(name, df)
  }

  /** Named output resources (`output.resource`). */
  object OutputResources {
    private val sinks = scala.collection.concurrent.TrieMap[String, Sink]()
    def register(name: String, sink: Sink): Unit = sinks.put(name, sink)
    def apply(name: String): Sink = sinks.getOrElse(name,
      throw new IllegalArgumentException(s"unknown output resource $name"))
  }

  /** `dynamic` output (`lib/output/dynamic.go`): a broker whose members
    * are identified by unique labels and CRUD'd at runtime via the
    * control plane — the output-side twin of the input DynamicInputs
    * registry. A write fans out to every member registered at write
    * time. */
  object DynamicOutputs {
    // member sink + its registration config (GET /outputs/{id} echoes
    // it back) + registration time (GET /outputs reports uptimes, the
    // reference's dynamic_fan_out uptime map)
    private val sinks = scala.collection.concurrent.TrieMap[
      String, (Sink, String, Long)]()
    def set(name: String, sink: Sink, conf: String = ""): Unit =
      sinks.put(name, (sink, conf, System.currentTimeMillis()))
    def remove(name: String): Boolean = sinks.remove(name).isDefined
    def list: scala.Seq[String] = sinks.keys.toSeq.sorted
    def conf(name: String): Option[String] = sinks.get(name).map(_._2)
    def uptimes: scala.Seq[(String, Long)] = sinks.toSeq.sortBy(_._1)
      .map { case (n, (_, _, t)) => (n, System.currentTimeMillis() - t) }
    def members: scala.Seq[Sink] = sinks.toSeq.sortBy(_._1).map(_._2._1)
  }
  /** `dynamic` output (`lib/output/dynamic.go`): the pattern is always
    * fan_out — every write goes to EVERY registered member. Members come
    * from the config's static `outputs` map (compiled at load time) plus
    * control-plane CRUD at `[prefix]/outputs/{id}`. `prefix` only
    * namespaces those endpoints; it never filters members. */
  final case class DynamicSink(prefix: String = "") extends Sink {
    def write(df: DataFrame): Unit = {
      val ms = DynamicOutputs.members
      // the reference's writer BLOCKS until a member registers
      // (lib/output/dynamic.go); a batch write cannot wait, so the
      // adapted contract is an explicit error — loud beats silently
      // dropping the batch
      require(ms.nonEmpty, "dynamic output: no members registered")
      ms.foreach(_.write(df))
    }
  }

  /** `sync_response` output (`lib/output/sync_response.go` wraps
    * roundtrip.Writer over `lib/message/roundtrip/result_store.go`):
    * the final payload returns to the message's input origin; inputs
    * with no sync mechanism drop it "without penalty". Payloads land in
    * the bounded in-memory roundtrip store the control plane's push
    * endpoint consults — a control-plane surface, so the driver-side
    * collect is semantically required (and capped). */
  object RoundtripStore {
    // LinkedBlockingQueue so the eviction check is O(1) — CLQ.size()
    // walks the list, and a put-per-row write would go quadratic
    private val q = new java.util.concurrent.LinkedBlockingQueue[String](10000)
    def put(s: String): Unit = { while (!q.offer(s)) q.poll() }
    def drain(): scala.Seq[String] = {
      val out = new java.util.ArrayList[String]()
      q.drainTo(out)
      import scala.jdk.CollectionConverters._
      out.asScala.toSeq
    }
  }
  final case class SyncResponseSink() extends Sink {
    // toLocalIterator, not collect: the driver holds one partition at a
    // time, so a huge batch can't OOM it on its way into the bounded
    // queue (which itself only retains the newest 10k)
    def write(df: DataFrame): Unit =
      df.select(graft.model.Envelope.contentOrDoc(df)
          .cast(org.apache.spark.sql.types.StringType))
        .toLocalIterator().forEachRemaining(r => RoundtripStore.put(r.getString(0)))
  }

  /** `http_server` output (`lib/output/http_server.go`): clients consume
    * messages from registered GET endpoints — `path` pops one message
    * per request (410 when the stream is exhausted, per the reference),
    * `stream_path` drains what is queued. Rows stage in a bounded
    * per-path queue the control plane serves; the driver-side collect
    * is the serving surface itself. */
  object HttpServe {
    // one queue SHARED by every alias of a sink (the reference's path
    // and stream_path consume from one channel — each message is
    // served exactly once, to whichever endpoint grabs it); bounded
    // LinkedBlockingQueue so eviction is O(1)
    private val queues = scala.collection.concurrent.TrieMap[
      String, java.util.concurrent.LinkedBlockingQueue[String]]()
    private val streamPaths =
      scala.collection.concurrent.TrieMap[String, Unit]()
    def register(paths: scala.Seq[String]): Unit = {
      val q = paths.flatMap(queues.get).headOption.getOrElse(
        new java.util.concurrent.LinkedBlockingQueue[String](100000))
      paths.foreach(p => queues.putIfAbsent(p, q))
    }
    def markStream(path: String): Unit = streamPaths.put(path, ())
    def isStream(path: String): Boolean = streamPaths.contains(path)
    def has(path: String): Boolean = queues.contains(path)
    def put(path: String, s: String): Unit = queues.get(path).foreach { q =>
      while (!q.offer(s)) q.poll()
    }
    def pop(path: String): Option[String] =
      queues.get(path).flatMap(q => Option(q.poll()))
    def drain(path: String): scala.Seq[String] = queues.get(path)
      .map { q =>
        val out = new java.util.ArrayList[String]()
        q.drainTo(out)
        import scala.jdk.CollectionConverters._
        out.asScala.toSeq
      }.getOrElse(Nil)
  }
  final case class HttpServeSink(path: String, streamPath: String)
      extends Sink {
    HttpServe.register(scala.Seq(path, streamPath))
    HttpServe.markStream(streamPath)
    // toLocalIterator: bounded driver memory on the way into the queue
    // (see SyncResponseSink) — eviction semantics (keep newest) intact
    def write(df: DataFrame): Unit =
      df.select(graft.model.Envelope.contentOrDoc(df)
          .cast(org.apache.spark.sql.types.StringType))
        .toLocalIterator().forEachRemaining(r => HttpServe.put(path, r.getString(0)))
  }

  /** `fallback`/`try` output (`lib/output/try.go`): dead-letter chain —
    * try each sink in order until one succeeds. */
  final case class FallbackSink(sinks: scala.Seq[Sink]) extends Sink {
    def write(df: DataFrame): Unit = {
      val it = sinks.iterator
      var done = false
      var lastErr: Throwable = null
      while (!done && it.hasNext) {
        try { it.next().write(df); done = true }
        catch { case e: Throwable => lastErr = e }
      }
      if (!done) throw lastErr
    }
  }

  /** `drop_on_error` / `reject`: route errored rows away; clean rows to
    * the inner sink, errored rows to the DLQ sink (or dropped). */
  final case class DropOnError(inner: Sink, dlq: Sink = DropSink) extends Sink {
    def write(df: DataFrame): Unit = {
      inner.write(df.filter(col(Envelope.Error).isNull))
      dlq.write(df.filter(col(Envelope.Error).isNotNull))
    }
  }

  /** `cache` output (`lib/output/cache.go`): upsert every message into a
    * cache resource under an interpolated key. */
  final case class CacheSink(store: graft.ops.CacheOps.CacheStore,
      key: String) extends Sink {
    def write(df: DataFrame): Unit = {
      graft.ops.CacheOps.CacheProc(store, "set", key)(df)
      ()
    }
  }

  /** `sql` output (insert per message): the SqlProc JDBC path with the
    * result discarded. */
  final case class SqlSink(proc: graft.ops.SqlProc) extends Sink {
    def write(df: DataFrame): Unit = { proc(df).count(); () }
  }

  /** `mongodb` output (`internal/impl/mongodb/output.go`): insert-one
    * per message through the collection-client contract. */
  final case class MongoSink(proc: graft.ops.MongoProc) extends Sink {
    def write(df: DataFrame): Unit = { proc(df).count(); () }
  }

  /** `socket`/`tcp` output (`lib/output/writer/socket.go`): one
    * connection per partition, each message a line. `udp` sends one
    * datagram per message. */
  final case class SocketSink(host: String, port: Int,
      network: String = "tcp") extends Sink {
    def write(df: DataFrame): Unit = {
      val (h, p, net) = (host, port, network)
      df.select(Envelope.contentOrDoc(df).cast("string").as("v"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          if (net == "udp") {
            val sock = new java.net.DatagramSocket()
            try {
              val addr = java.net.InetAddress.getByName(h)
              rows.foreach { r =>
                val b = (r.getString(0) + "\n").getBytes("UTF-8")
                sock.send(new java.net.DatagramPacket(b, b.length, addr, p))
              }
            } finally sock.close()
          } else {
            val sock = new java.net.Socket(h, p)
            try {
              val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
                sock.getOutputStream, "UTF-8"))
              rows.foreach { r => w.write(r.getString(0)); w.write("\n") }
              w.flush()
            } finally sock.close()
          }
        }
    }
  }

  /** `websocket` output (`lib/output/writer/websocket.go`): one JDK
    * WebSocket client per partition, one text frame per message. */
  final case class WebsocketSink(url: String, openTimeoutMs: Int = 10000)
      extends Sink {
    def write(df: DataFrame): Unit = {
      val (u, tmo) = (url, openTimeoutMs)
      df.select(Envelope.contentOrDoc(df).cast("string").as("v"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          if (rows.nonEmpty) {
            val ws = java.net.http.HttpClient.newHttpClient()
              .newWebSocketBuilder()
              .connectTimeout(java.time.Duration.ofMillis(tmo))
              .buildAsync(java.net.URI.create(u),
                new java.net.http.WebSocket.Listener {})
              .get(tmo, java.util.concurrent.TimeUnit.MILLISECONDS)
            try rows.foreach(r =>
              ws.sendText(r.getString(0), true)
                .get(tmo, java.util.concurrent.TimeUnit.MILLISECONDS))
            finally ws.sendClose(java.net.http.WebSocket.NORMAL_CLOSURE, "done")
              .get(tmo, java.util.concurrent.TimeUnit.MILLISECONDS)
          }
        }
    }
  }

  /** `subprocess` output (`lib/output/subprocess.go`): pipe each
    * message as a line to a subprocess's stdin, one process per
    * partition. */
  final case class SubprocessSink(cmd: scala.Seq[String]) extends Sink {
    def write(df: DataFrame): Unit = {
      val c = cmd
      df.select(Envelope.contentOrDoc(df).cast("string").as("v"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          if (rows.nonEmpty) {
            val pb = new ProcessBuilder(c: _*)
              .redirectOutput(ProcessBuilder.Redirect.DISCARD)
              .redirectError(ProcessBuilder.Redirect.DISCARD)
            val proc = pb.start()
            val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
              proc.getOutputStream, "UTF-8"))
            try rows.foreach { r => w.write(r.getString(0)); w.write("\n") }
            finally { w.close(); proc.waitFor() }
          }
        }
    }
  }
}
