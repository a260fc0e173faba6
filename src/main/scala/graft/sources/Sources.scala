package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Envelope

/** Input components (reference registry `lib/input/constructor.go:205-254`).
  * Every source yields the canonical envelope. File-family inputs map to
  * `spark.read`/`readStream` with the codec (§2.7) choosing the format;
  * gzip is transparent at the source. Object-store paths (s3a://, gs://,
  * abfss://) work through the same API — the path scheme IS the connector.
  */
object Sources {

  /** Codec-driven file read (`file`/`files`/`csv` inputs + §2.7 codecs,
    * `internal/codec/reader.go:204-250`). codec ∈ lines | csv |
    * csv:<delim> | json | json_documents | parquet | all-bytes |
    * delim:<d> | chunker:<n> | tar | gzip/<inner> | auto. Deprecated
    * aliases csv-gzip / tar-gzip normalize like the reference.
    *
    * json / json_documents without a `schema` infer one, once per
    * unchanged file listing (see [[JsonSchemas]]): re-reading files
    * whose paths, lengths and modification times are all unchanged, under
    * the same SQL conf, skips the inference scan. */
  def file(spark: SparkSession, path: String, codec0: String,
      schema: Option[StructType] = None, header: Boolean = true): DataFrame = {
    val meta = map(lit("path"), input_file_name())
    val codec = codec0 match { // convertDeprecatedCodec (reader.go:243-250)
      case "csv-gzip" => "gzip/csv"
      case "tar-gzip" => "gzip/tar"
      case "auto" => autoCodec(path)
      case o => o
    }
    // `<inner>/multipart` (reader.go:35,196): consume the inner codec's
    // messages and group them into batches; an EMPTY message ends a batch
    // and is itself dropped (the delimiter). Batch ids ride the same
    // partitioned prefix-sum as the batch policy — no global window.
    if (codec.endsWith("/multipart")) {
      val inner = file(spark, path, codec.stripSuffix("/multipart"), schema, header)
      val batched = graft.ops.BatchOps.SplitOnCheck(
        "content().string() == \"\"")(inner)
      return batched.filter(
        coalesce(octet_length(col(Envelope.Content)), lit(0)) > 0)
    }
    codec match {
      case "lines" =>
        val df = spark.read.text(path)
        df.select(
          col("value").cast(BinaryType).as(Envelope.Content),
          col("value").as(Envelope.Doc),
          meta.as(Envelope.Meta),
          lit(null).cast(StringType).as(Envelope.Error),
          spark_partition_id().cast(LongType).as(Envelope.BatchId),
          monotonically_increasing_id().as(Envelope.Seq))
      case c if c == "csv" || c.startsWith("csv:") =>
        val delim = if (c.startsWith("csv:")) c.substring(4) else ","
        var r = spark.read.option("header", header).option("sep", delim)
          .option("inferSchema", schema.isEmpty)
        schema.foreach(s => r = r.schema(s))
        wrap(r.csv(path))
      case "json" | "json_documents" =>
        wrap(schema.map(spark.read.schema(_).json(path)).getOrElse(JsonSchemas.read(spark, path)))
      case "parquet" => wrap(spark.read.parquet(path))
      case "all-bytes" =>
        val df = spark.read.format("binaryFile").load(path)
        df.select(
          col("content").as(Envelope.Content),
          col("content").as(Envelope.Doc),
          map(lit("path"), col("path")).as(Envelope.Meta),
          lit(null).cast(StringType).as(Envelope.Error),
          spark_partition_id().cast(LongType).as(Envelope.BatchId),
          monotonically_increasing_id().as(Envelope.Seq))
      case c if c.startsWith("delim:") =>
        // custom delimiter (reader.go:221-229): the text source's lineSep
        // handles it natively — splits stream inside the scan, scalable
        val d = c.substring(6)
        require(d.nonEmpty, "custom delimiter codec requires a non-empty delimiter")
        val df = spark.read.option("lineSep", d).text(path)
        linesEnvelope(df.select(col("value")), meta)
      case c if c.startsWith("chunker:") =>
        // fixed-size chunks (reader.go:230-238): whole file → n-byte slices
        val n = c.substring(8).toInt
        require(n > 0, "invalid chunk size for chunker codec")
        val raw = spark.read.format("binaryFile").load(path)
        chunked(raw.select(col("content"), col("path")), n)
      case "tar" =>
        val raw = spark.read.format("binaryFile").load(path)
        tarEntries(raw.select(col("content"), col("path")))
      case c if c.startsWith("gzip/") =>
        // chained wrapper codec (reader.go GetReader chain)
        val raw = spark.read.format("binaryFile").load(path)
        val unz = raw.select(
          graft.exprs.Codecs.decompress(col("content"), "gzip").as("content"),
          col("path"))
        c.substring(5) match {
          case "all-bytes" => bytesEnvelope(unz)
          case "lines" => linesEnvelope(
            unz.select(explode(splitLines(col("content"))).as("value"),
              col("path")),
            map(lit("path"), col("path")))
          case d if d.startsWith("delim:") =>
            val sep = d.substring(6)
            linesEnvelope(
              unz.select(explode(split(col("content").cast(StringType),
                java.util.regex.Pattern.quote(sep))).as("value"), col("path")),
              map(lit("path"), col("path")))
          case d if d.startsWith("chunker:") =>
            chunked(unz, d.substring(8).toInt)
          case "tar" => tarEntries(unz)
          case o => throw new IllegalArgumentException(s"unknown chained codec gzip/$o")
        }
      case o => throw new IllegalArgumentException(s"unknown codec $o")
    }
  }

  /** `auto` codec: dispatch on the path's extension (reader.go autoCodec). */
  private def autoCodec(path: String): String = {
    val p = path.toLowerCase
    if (p.endsWith(".csv")) "csv"
    else if (p.endsWith(".csv.gz") || p.endsWith(".csv.gzip")) "csv" // native .gz
    else if (p.endsWith(".tar")) "tar"
    else if (p.endsWith(".tar.gz") || p.endsWith(".tgz")) "gzip/tar"
    else if (p.endsWith(".parquet")) "parquet"
    else if (p.endsWith(".json")) "json"
    else if (p.endsWith(".gz")) "gzip/lines"
    else "lines"
  }

  /** Split decompressed bytes into lines, dropping one trailing empty
    * element (text-file convention). */
  private def splitLines(content: org.apache.spark.sql.Column) = {
    val arr = split(content.cast(StringType), "\n")
    when(element_at(arr, -1) === "", slice(arr, lit(1), size(arr) - 1)).otherwise(arr)
  }

  private def linesEnvelope(df: DataFrame, meta: Column): DataFrame =
    df.select(
      col("value").cast(BinaryType).as(Envelope.Content),
      col("value").as(Envelope.Doc),
      meta.as(Envelope.Meta),
      lit(null).cast(StringType).as(Envelope.Error),
      spark_partition_id().cast(LongType).as(Envelope.BatchId),
      monotonically_increasing_id().as(Envelope.Seq))

  private def bytesEnvelope(df: DataFrame): DataFrame =
    df.select(
      col("content").as(Envelope.Content),
      col("content").as(Envelope.Doc),
      map(lit("path"), col("path")).as(Envelope.Meta),
      lit(null).cast(StringType).as(Envelope.Error),
      spark_partition_id().cast(LongType).as(Envelope.BatchId),
      monotonically_increasing_id().as(Envelope.Seq))

  /** (content, path) → one row per n-byte slice. */
  private def chunked(df: DataFrame, n: Int): DataFrame = {
    val len = length(col("content"))
    val idxs = when(len <= 0, array().cast("array<int>"))
      .otherwise(org.apache.spark.sql.functions.sequence(
        lit(0), ceil(len.cast("double") / n).cast("int") - 1))
    df.select(posexplode(transform(idxs, i =>
          substring(col("content"), (i * n + 1).cast("int"), lit(n))))
        .as(scala.Seq("_pos", "_chunk")), col("path"))
      .select(
        col("_chunk").as(Envelope.Content),
        col("_chunk").as(Envelope.Doc),
        map(lit("path"), col("path")).as(Envelope.Meta),
        lit(null).cast(StringType).as(Envelope.Error),
        spark_partition_id().cast(LongType).as(Envelope.BatchId),
        (monotonically_increasing_id() * 1000000 + col("_pos")).as(Envelope.Seq))
  }

  /** (content, path) → one row per tar entry, name in meta. */
  private def tarEntries(df: DataFrame): DataFrame =
    df.select(posexplode(graft.exprs.Formats.untar(col("content")))
        .as(scala.Seq("_pos", "_e")), col("path"))
      .select(
        col("_e._2").as(Envelope.Content),
        col("_e._2").as(Envelope.Doc),
        map(lit("path"), col("path"), lit("archive_name"), col("_e._1"))
          .as(Envelope.Meta),
        lit(null).cast(StringType).as(Envelope.Error),
        spark_partition_id().cast(LongType).as(Envelope.BatchId),
        (monotonically_increasing_id() * 1000000 + col("_pos")).as(Envelope.Seq))

  private def wrap(df: DataFrame): DataFrame = Envelope.wrapUnordered(df)

  /** Inferred JSON schemas, keyed by the files a read would scan.
    *
    * `spark.read.json` without a schema runs an inference job, a full scan
    * of the input, before the query is planned. The key is a digest of the
    * path, the (path, length, modification time) of every file in Spark's
    * own listing for it, and the session's SQL conf (this read sets no
    * reader options). While that listing is unchanged the inferred schema
    * is the same, so a hit hands it to the reader and no inference job
    * runs. A miss, an empty listing or a failed listing reads as before.
    * At most [[MaxEntries]] schemas are kept, least recently used first out.
    */
  private object JsonSchemas {
    private val MaxEntries = 32
    private val memo = new java.util.LinkedHashMap[String, StructType](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, StructType]): Boolean =
        size() > MaxEntries
    }

    def read(spark: SparkSession, path: String): DataFrame = {
      val key = fingerprint(spark, path)
      key.flatMap(k => memo.synchronized(Option(memo.get(k)))) match {
        case Some(s) => spark.read.schema(s).json(path)
        case None =>
          val df = spark.read.json(path)
          key.foreach(k => memo.synchronized(memo.put(k, df.schema)))
          df
      }
    }

    private def fingerprint(spark: SparkSession, path: String): Option[String] =
      scala.util.Try(org.apache.spark.sql.graft.GraftSqlShims.leafFiles(spark, path))
        .toOption.filter(_.nonEmpty).map { files =>
          val md = java.security.MessageDigest.getInstance("SHA-256")
          def add(s: String): Unit = md.update((s + "\u0000").getBytes("UTF-8"))
          add(path)
          files.map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}").sorted.foreach(add)
          spark.conf.getAll.toSeq.sorted.foreach { case (k, v) => add(s"$k=$v") }
          md.digest().map(b => f"$b%02x").mkString
        }
  }

  /** `generate` input (`lib/input/generate.go:140-151`): Bloblang mapping
    * producing `count` rows (batch); streaming variant uses the rate
    * source (see graft.streaming). The mapping sees `this` = {i: Long}. */
  def generate(spark: SparkSession, mapping: String, count: Long): DataFrame = {
    val base = Envelope.wrapUnordered(spark.range(count).select(col("id").as("i")))
    graft.blobl.Mapping.compile(mapping).applyEnvelope(base)
  }

  /** Generic connector input: any Spark DataSource V2 format + options,
    * wrapped into the envelope. This is the portable escape hatch for the
    * reference's long tail of broker inputs (kinesis, pubsub, mqtt, …):
    * each is a `format` string + options + its connector jar on the
    * cluster classpath — the same mechanism the kafka input uses, minus
    * the per-connector metadata mapping. */
  def sparkFormat(spark: SparkSession, format: String,
      options: Map[String, String], streaming: Boolean,
      schema: Option[StructType] = None): DataFrame = {
    val df =
      if (streaming) {
        var r = spark.readStream.format(format).options(options)
        schema.foreach(s => r = r.schema(s))
        r.load()
      } else {
        var r = spark.read.format(format).options(options)
        schema.foreach(s => r = r.schema(s))
        r.load()
      }
    Envelope.wrapUnordered(df)
  }

  /** `broker` fan-in (`lib/broker/fan_in.go`): union of N inputs. */
  def broker(inputs: scala.Seq[DataFrame]): DataFrame =
    inputs.reduce(_.unionByName(_, allowMissingColumns = false))

  /** `sequence` input: inputs consumed in order (batch concatenation with
    * a source index so downstream can preserve order). */
  def sequence(inputs: scala.Seq[DataFrame]): DataFrame =
    inputs.zipWithIndex.map { case (df, i) =>
      df.withColumn(Envelope.BatchId, lit(i.toLong))
    }.reduce(_.unionByName(_))

  /** `read_until` (`lib/input/read_until.go:31`): consume rows (ordered by
    * seq) up to AND INCLUDING the first one matching the predicate — the
    * reference explicitly delivers the triggering message before closing
    * the input. Plan: one parallel filtered aggregate finds the first
    * triggering seq (filter pushdown applies), then a plain filter keeps
    * everything at-or-before it — no global window, no single-partition
    * stage. */
  /** `stdin` input (`lib/input/stdin.go`): driver-read lines. A console
    * is a control-plane-sized source by definition. */
  def stdin(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val lines = scala.io.Source.stdin.getLines().toSeq
    linesEnvelope(lines.toDF("value"),
      map(lit("source"), lit("stdin")))
  }

  /** `subprocess` input (`lib/input/subprocess.go`): execute a command
    * and consume its stdout as line messages (codec `lines`, the only
    * registered option). The driver runs the process — a single pipe is
    * inherently serial, like [[stdin]]/[[socket]]; `restart_on_exit`
    * is a daemon-lifecycle knob with no meaning on a bounded read. */
  def subprocess(spark: SparkSession, cmd: scala.Seq[String]): DataFrame = {
    import spark.implicits._
    val pb = new ProcessBuilder(cmd: _*)
    // stderr must not backpressure the child: an undrained stderr pipe
    // fills at ~64 KB and deadlocks a chatty command mid-stdout
    pb.redirectError(ProcessBuilder.Redirect.DISCARD)
    val p = pb.start()
    val lines = try {
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(
        p.getInputStream, "UTF-8"))
      Iterator.continually(r.readLine()).takeWhile(_ != null).toSeq
    } finally p.waitFor()
    linesEnvelope(lines.toDF("value"),
      map(lit("source"), lit(cmd.mkString(" "))))
  }

  /** `socket` input (`lib/input/socket.go`), batch form: connect, read
    * lines until EOF, envelope them. The driver performs the read — a
    * single TCP stream is inherently serial; the distributed path for
    * socket-shaped feeds is [[socketStream]]. */
  def socket(spark: SparkSession, host: String, port: Int): DataFrame = {
    import spark.implicits._
    val sock = new java.net.Socket(host, port)
    val lines = try {
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(
        sock.getInputStream, "UTF-8"))
      Iterator.continually(r.readLine()).takeWhile(_ != null).toSeq
    } finally sock.close()
    linesEnvelope(lines.toDF("value"),
      map(lit("source"), lit(s"$host:$port")))
  }

  /** `socket` input, streaming form: Spark's native socket source — each
    * line a micro-batched row (`readStream.format("socket")`). */
  def socketStream(spark: SparkSession, host: String, port: Int): DataFrame =
    graft.model.Envelope.wrapUnordered(
      spark.readStream.format("socket")
        .option("host", host).option("port", port).load())

  /** `http_client` input (`lib/input/http_client.go`): fetch a URL and
    * envelope the response by codec (`lines` or `all-bytes`). The fetch
    * runs once on the driver — an HTTP endpoint is a control-plane-sized
    * source; BULK ingest over HTTP belongs to the `http` processor over a
    * DataFrame of URLs/cursors (pooled clients per partition), which is
    * the scale path for paginated APIs. Streaming polls = generate_stream
    * trigger + that same processor. */
  def httpClient(spark: SparkSession, url: String, verb: String = "GET",
      headers: Map[String, String] = Map.empty,
      codec: String = "lines", timeoutMs: Int = 10000): DataFrame = {
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMs)).build()
    var b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofMillis(timeoutMs))
      .method(verb, java.net.http.HttpRequest.BodyPublishers.noBody())
    headers.foreach { case (k, v) => b = b.header(k, v) }
    val resp = client.send(b.build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() < 300,
      s"http_client input: $url returned ${resp.statusCode()}")
    import spark.implicits._
    val metaCol = map(lit("http_status"), lit(resp.statusCode().toString))
    codec match {
      case "lines" =>
        linesEnvelope(resp.body().stripSuffix("\n").split("\n", -1).toSeq
          .toDF("value"), metaCol)
      case "all-bytes" | "json" =>
        bytesEnvelope(scala.Seq(resp.body()).toDF("value")
          .select(col("value").cast(BinaryType).as("content"),
            lit(url).as("path")))
      case o => throw new IllegalArgumentException(s"http_client: unknown codec $o")
    }
  }

  def readUntil(df: DataFrame, check: String): DataFrame = {
    val cond = graft.blobl.Mapping.envelopeExpr(df, check)
    val first = df.filter(coalesce(cond, lit(false)))
      .agg(min(col(Envelope.Seq))).head().get(0)
    first match {
      case null => df
      case v => df.filter(col(Envelope.Seq) <= lit(v))
    }
  }

  /** `http_server` input (`lib/input/http_server.go`): messages arrive
    * as POSTs to the control plane's push endpoint
    * (`POST /streams/{id}{path}`, path default `/post`). The handler
    * stages the request bodies here and runs the pipeline synchronously;
    * this source envelopes whatever is staged for the current run. A
    * push endpoint is control-plane-sized by design — bulk ingest
    * belongs to file/kafka/spark_format sources. */
  object HttpServerStage {
    private val staged = new java.lang.ThreadLocal[scala.Seq[String]] {
      override def initialValue(): scala.Seq[String] = scala.Seq.empty
    }
    def stage(bodies: scala.Seq[String]): Unit = staged.set(bodies)
    def peek(): scala.Seq[String] = staged.get()
    def clear(): Unit = staged.remove()
  }

  def httpServer(spark: SparkSession): DataFrame = {
    import spark.implicits._
    linesEnvelope(HttpServerStage.peek().toDF("value"),
      map(lit("source"), lit("http_server")))
  }

  /** `tcp_server` / `socket_server` input (`lib/input/socket_server.go`),
    * batch form: bind, accept connections, read lines until the client
    * closes; stop after `maxConns` connections (1 = the common
    * single-feeder case). The accept loop is driver-side — a single
    * listening socket is inherently serial, same contract as [[socket]];
    * the distributed path for socket-shaped feeds is [[socketStream]]. */
  def tcpServer(spark: SparkSession, host: String, port: Int,
      maxConns: Int = 1, acceptTimeoutMs: Int = 30000): DataFrame = {
    import spark.implicits._
    val server = new java.net.ServerSocket(port, 1,
      java.net.InetAddress.getByName(host))
    // a feeder that never arrives must fail the read, not hang the job
    server.setSoTimeout(acceptTimeoutMs)
    val lines = try {
      (1 to maxConns).flatMap { _ =>
        val sock = server.accept()
        try {
          val r = new java.io.BufferedReader(new java.io.InputStreamReader(
            sock.getInputStream, "UTF-8"))
          Iterator.continually(r.readLine()).takeWhile(_ != null).toSeq
        } finally sock.close()
      }
    } finally server.close()
    linesEnvelope(lines.toDF("value"),
      map(lit("source"), lit(s"tcp_server:$host:$port")))
  }

  /** `udp_server` input (`lib/input/udp_server.go`), batch form: receive
    * datagrams (one message each) until `idleMs` passes with no packet. */
  def udpServer(spark: SparkSession, host: String, port: Int,
      idleMs: Int = 1000, maxBytes: Int = 65536): DataFrame = {
    import spark.implicits._
    val sock = new java.net.DatagramSocket(new java.net.InetSocketAddress(host, port))
    val out = scala.collection.mutable.ArrayBuffer[String]()
    try {
      sock.setSoTimeout(idleMs)
      val buf = new Array[Byte](maxBytes)
      var open = true
      while (open) {
        val pkt = new java.net.DatagramPacket(buf, buf.length)
        try {
          sock.receive(pkt)
          out += new String(pkt.getData, pkt.getOffset, pkt.getLength, "UTF-8")
            .stripLineEnd
        } catch { case _: java.net.SocketTimeoutException => open = false }
      }
    } finally sock.close()
    linesEnvelope(out.toSeq.toDF("value"),
      map(lit("source"), lit(s"udp_server:$host:$port")))
  }

  /** `websocket` input (`lib/input/reader/websocket.go`): connect as a
    * client (JDK java.net.http.WebSocket), collect text messages until
    * the server closes or `count` arrive. Driver-side control feed, like
    * [[httpClient]]. */
  def websocket(spark: SparkSession, url: String, count: Int = Int.MaxValue,
      openTimeoutMs: Int = 10000, idleMs: Int = 10000): DataFrame = {
    import spark.implicits._
    val collected = new java.util.concurrent.LinkedBlockingQueue[String]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new java.net.http.WebSocket.Listener {
      private val sb = new StringBuilder
      override def onText(ws: java.net.http.WebSocket, data: CharSequence,
          last: Boolean): java.util.concurrent.CompletionStage[_] = {
        sb.append(data)
        if (last) { collected.put(sb.toString); sb.clear() }
        ws.request(1)
        if (collected.size >= count) done.countDown()
        null
      }
      override def onClose(ws: java.net.http.WebSocket, code: Int,
          reason: String): java.util.concurrent.CompletionStage[_] = {
        done.countDown(); null
      }
    }
    val ws = java.net.http.HttpClient.newHttpClient().newWebSocketBuilder()
      .connectTimeout(java.time.Duration.ofMillis(openTimeoutMs))
      .buildAsync(java.net.URI.create(url), listener)
      .get(openTimeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    done.await(idleMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    try ws.sendClose(java.net.http.WebSocket.NORMAL_CLOSURE, "done")
      .get(1, java.util.concurrent.TimeUnit.SECONDS)
    catch { case _: Exception => ws.abort() }
    val msgs = new java.util.ArrayList[String]()
    collected.drainTo(msgs, count)
    linesEnvelope(
      scala.jdk.CollectionConverters.ListHasAsScala(msgs).asScala.toSeq
        .toDF("value"),
      map(lit("source"), lit("websocket")))
  }

  /** `redis_list` input (`lib/input/reader/redis_list.go`), batch form:
    * drain the list through the KV-client contract (RPOP until empty or
    * `limit`). Control-sized by contract — bulk replays belong to
    * redis_streams via the connector binding. */
  def redisList(spark: SparkSession, factory: graft.ops.RedisClientFactory,
      key: String, limit: Int = 1000000): DataFrame = {
    import spark.implicits._
    val client = factory.open()
    val out = scala.collection.mutable.ArrayBuffer[String]()
    try {
      var v = client.rpop(key)
      while (v.isDefined && out.size < limit) { out += v.get; v = client.rpop(key) }
    } finally client.close()
    linesEnvelope(out.toSeq.toDF("value"),
      map(lit("source"), lit(s"redis_list:$key")))
  }
}
