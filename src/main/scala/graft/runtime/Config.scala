package graft.runtime

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.yaml.snakeyaml.Yaml
import graft.ops._
import graft.ops.{BatchOps => B, FlowOps => F, ErrorOps => E}
import graft.sinks.{Sink, Sinks}
import graft.sources.Sources

/** YAML pipeline loader: the declarative surface of the engine, shaped
  * after the reference's config model (`input → pipeline.processors →
  * output`, env-var interpolation `${VAR}` at the text layer —
  * `lib/service/run.go:108-223`). A config compiles to a DataFrame chain;
  * the config is NOT the physical plan here — Catalyst optimizes it.
  */
object Config {

  /** The one YAML loader: config files, REST-supplied bodies and the
    * `parse_yaml` family all parse through SafeConstructor, so every YAML
    * input shares one policy (standard tags only). SnakeYAML 2.x's default
    * loader already rejects global tags; this keeps the policy in one
    * place rather than closing a hole. A fresh instance per call
    * (snakeyaml parsers are not thread-safe). */
  def safeYaml: Yaml = new Yaml(
    new org.yaml.snakeyaml.constructor.SafeConstructor(
      new org.yaml.snakeyaml.LoaderOptions()))

  final case class StreamSpec(
      input: SparkSession => DataFrame,
      pipeline: scala.Seq[Processor],
      output: Sink,
      streaming: Boolean = false,
      // http_server-input specs: the POST sub-path the control plane
      // serves for this stream (reference default "/post")
      pushPath: Option[String] = None,
      // `buffer: memory: batch_policy: period` (lib/buffer/constructor.go):
      // the micro-batch cadence — maps onto the streaming trigger
      bufferPeriodMs: Option[Long] = None) {
    def run(spark: SparkSession): Unit = {
      require(!streaming, "streaming config: use runStream(spark, checkpoint)")
      if (Tracing.isEnabled) Tracing.attachJobListener(spark)
      Tracing.span("pipeline") {
        val staged = pipeline.foldLeft(Tracing.span("input")(input(spark))) {
          (d, p) =>
            Tracing.span(p.getClass.getSimpleName.stripSuffix("$"))(p(d))
        }
        Tracing.span("output")(output.write(staged))
      }
    }

    /** Streaming configs (file_stream / generate_stream inputs): the same
      * pipeline on readStream, delivered through one foreachBatch. */
    def runStream(spark: SparkSession, checkpoint: String,
        trigger: org.apache.spark.sql.streaming.Trigger = null)
        : org.apache.spark.sql.streaming.StreamingQuery = {
      val t = Option(trigger).getOrElse(
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(
          bufferPeriodMs.getOrElse(1000L), java.util.concurrent.TimeUnit.MILLISECONDS))
      // Cache-backed dedupe procs anywhere in the pipeline tree need their
      // per-micro-batch key write-back run at the sink (the shared named
      // cache is a cross-pipeline resource — lib/processor/dedupe.go:32-58)
      val dedupes = pipeline.flatMap(collectCachedDedupes)
      val hook: org.apache.spark.sql.DataFrame => Unit =
        if (dedupes.isEmpty) _ => ()
        else batch => dedupes.foreach(_.writeBack(batch))
      graft.streaming.Streaming.run(
        Pipeline(pipeline)(input(spark)), output, checkpoint, t, hook)
    }
  }

  /** Compile a standalone output YAML fragment — the dynamic-output
    * CRUD body (`POST /outputs/{id}`): either a bare `kind: {...}` map
    * or one wrapped under `output:`. */
  def loadOutput(yaml: String): Sink = {
    val root = asMap(safeYaml.load[Any](yaml))
    compileOutput(root.get("output").map(asMap).getOrElse(root))
  }

  def load(yaml: String): StreamSpec = {
    val interpolated = "\\$\\{(\\w+)(?::([^}]*))?\\}".r.replaceAllIn(yaml, m =>
      scala.util.matching.Regex.quoteReplacement(
        sys.env.getOrElse(m.group(1), Option(m.group(2)).getOrElse(""))))
    val root = asMap(safeYaml.load[Any](interpolated))
    // Telemetry is one slot per process: a `tracer:` or `metrics:` section
    // replaces what an earlier load installed; a load without one keeps it.
    // tracer section (`lib/tracer/constructor.go`): `none` disables; any
    // configured tracer (jaeger, …) turns on the in-process collector —
    // spans serve from the control plane's /traces. A jaeger
    // agent_address also streams finished spans to the agent over the
    // thrift-compact UDP wire format (`lib/tracer/jaeger.go` agent mode).
    root.get("tracer").map(asMap).foreach { t =>
      if (t.contains("none")) Tracing.disable() else Tracing.enable()
      Tracing.setReporter(t.get("jaeger").map(asMap).flatMap { j =>
        j.get("agent_address").map { a =>
          val hp = a.toString.split(":", 2)
          require(hp.length == 2, "tracer jaeger: agent_address must be host:port")
          new JaegerUdpReporter(hp(0), hp(1).toInt,
            j.get("service_name").map(_.toString).getOrElse("graft"))
        }
      })
    }
    // metrics section (`lib/metrics/constructor.go:74-84`): prometheus is
    // always on via the control plane's /metrics; statsd and influxdb
    // (`lib/metrics/influxdb.go` UDP listener shape) flush UDP datagrams,
    // cloudwatch prints EMF JSON to stdout — the egress-free CloudWatch
    // ingestion path (agent/Lambda log scraping), no SDK client needed.
    root.get("metrics").map(asMap).foreach { m =>
      val (pathMap, mm) = unwrapMetrics(m, Some(_))
      val exporters = mm.toSeq.collect {
        case ("statsd", c) =>
          val sd = asMap(c)
          val prefix = sd.get("prefix").map(_.toString).getOrElse("graft")
          PeriodicExporter.udp("statsd", str(sd, "address"),
            sd.get("flush_period").map(durationMs).getOrElse(1000L))(
            Metrics.statsdLines(prefix))
        case ("influxdb", c) =>
          val in = asMap(c)
          val measurement = in.get("measurement").map(_.toString).getOrElse("graft")
          PeriodicExporter.udp("influxdb", str(in, "address"), 1000L)(
            InfluxMetrics.lines(measurement, System.currentTimeMillis() * 1000000L))
        case ("cloudwatch", c) =>
          val ns = asMap(c).get("namespace").map(_.toString).getOrElse("graft")
          new PeriodicExporter("graft-emf", 1000L, () =>
            InfluxMetrics.emfJson(ns, System.currentTimeMillis()).foreach(System.out.println))
      }
      Metrics.install(pathMap, exporters)
    }
    // cache_resources first: the cache processor resolves labels at compile
    root.get("cache_resources").map(asList).getOrElse(Nil).foreach { c =>
      val cm = asMap(c)
      graft.ops.CacheOps.Caches.register(str(cm, "label"), cacheStoreFrom(cm))
    }
    // `resources:` section (`lib/config/lint.go` surface): named inputs /
    // outputs / caches usable via the `resource` kinds
    root.get("resources").map(asMap).foreach { res =>
      res.get("inputs").map(asMap).getOrElse(Map.empty).foreach {
        case (label, c) => InputResources.register(label, compileInput(asMap(c)))
      }
      res.get("outputs").map(asMap).getOrElse(Map.empty).foreach {
        case (label, c) =>
          Sinks.OutputResources.register(label, compileOutput(asMap(c)))
      }
      res.get("caches").map(asMap).getOrElse(Map.empty).foreach {
        case (label, c) =>
          graft.ops.CacheOps.Caches.register(label, cacheStoreFrom(asMap(c)))
      }
      // named conditions (lib/condition constructor registry): compiled
      // to Bloblang check strings NOW so `condition: resource: name`
      // resolves at use sites
      res.get("conditions").map(asMap).getOrElse(Map.empty).foreach {
        case (label, c) => Conditions.resources.put(label, condString(c)); ()
      }
    }
    // rate_limit_resources: named token buckets (local rate limit)
    root.get("rate_limit_resources").map(asList).getOrElse(Nil).foreach { c =>
      val cm = asMap(c)
      graft.ops.RateLimits.register(str(cm, "label"), rateLimitPerSec(cm))
    }
    val input = compileInput(asMap(root.getOrElse("input",
      throw new IllegalArgumentException("config: missing input"))))
    val procs = root.get("pipeline").map(asMap).flatMap(_.get("processors"))
      .map(compileProcessors).getOrElse(Nil)
    // a stream writes its output once per micro-batch: a file-shaped
    // output appends there, or each batch would replace the last
    val output = root.get("output").map(asMap)
      .map(compileOutput(_, if (input.streaming) "append" else "overwrite"))
      .getOrElse(Sinks.ConsoleSink())
    val pushPath = root.get("input").map(asMap)
      .flatMap(_.get("http_server")).map(c =>
        Option(c).map(asMap).flatMap(_.get("path")).map(_.toString)
          .getOrElse("/post"))
    // buffer section (`lib/buffer/constructor.go`): `none` is the
    // passthrough default; `memory.batch_policy.period` sets the
    // micro-batch cadence (count/size bounds are admission knobs the
    // micro-batch engine owns). Unknown kinds are rejected by lint.
    val bufferPeriod = root.get("buffer").map(asMap).flatMap { b =>
      require(b.keys.forall(k => k == "none" || k == "memory" || k == "label"),
        s"config: unknown buffer kind ${b.keys.mkString(",")}")
      b.get("memory").map(asMap)
        .flatMap(_.get("batch_policy").map(asMap))
        .flatMap(_.get("period")).map(durationMs)
    }
    StreamSpec(input.read, procs, output, input.streaming, pushPath, bufferPeriod)
  }

  // ---------- components ----------

  /** Parse one YAML document into the loosely-typed map the component
    * compilers take (REST resource bodies). */
  def yamlMap(body: String): Map[String, Any] =
    asMap(safeYaml.load[Any](body))

  /** Shallow top-level merge of two YAML documents — the PATCH
    * /streams/{id} semantics: sections present in the patch replace the
    * base section wholesale (lib/stream/manager/api.go patch handler
    * operates on section granularity). */
  def mergeYaml(base: String, patch: String): String = {
    val b = new java.util.LinkedHashMap[String, Any]()
    def put(doc: String): Unit = Option(safeYaml.load[Any](doc)).foreach {
      case m: java.util.Map[_, _] =>
        m.forEach((k, v) => b.put(String.valueOf(k), v))
      case _ => ()
    }
    put(base); put(patch)
    new Yaml().dump(b)
  }

  /** Cache store from one cache-resource config map (backend key picks
    * the implementation; unknown/memory/ristretto → in-heap map). */
  private def cacheStoreFrom(cm: Map[String, Any]): graft.ops.CacheOps.CacheStore =
    if (cm.contains("file"))
      new graft.ops.CacheOps.FileCache(str(asMap(cm("file")), "directory"))
    else if (cm.contains("redis"))
      // external KV backend (`lib/cache/redis.go`): the client transport
      // is the RedisClientFactory contract; in this image it resolves to
      // the in-process fake keyed by URL
      new graft.ops.RedisCache(graft.ops.FakeRedisFactory(
        str(asMap(cm("redis")), "url")))
    else if (cm.contains("memcached"))
      // memcached is the same external-KV contract (get/set/add/delete,
      // `lib/cache/memcached.go`) — served under a distinct namespace
      new graft.ops.RedisCache(graft.ops.FakeRedisFactory(
        "memcached:" + asMap(cm("memcached")).get("addresses")
          .map(asList(_).map(_.toString).mkString(",")).getOrElse("local")))
    else if (cm.contains("multilevel"))
      // levels are prior-registered cache labels, read-through in order
      // (lib/cache/multilevel.go)
      new graft.ops.CacheOps.MultilevelCache(
        asList(cm("multilevel")).map(l =>
          graft.ops.CacheOps.Caches(l.toString)))
    else if (cm.contains("s3") || cm.contains("aws_s3") ||
        cm.contains("dynamodb") || cm.contains("aws_dynamodb") ||
        cm.contains("mongodb")) {
      // remaining external backends (`lib/cache/constructor.go:82-92`;
      // the registry carries BOTH aws_-prefixed and short spellings —
      // normalize so neither silently degrades to the in-heap default):
      // the same external-KV contract, namespaced per backend+target so
      // distinct configs never share state; transport resolves to the
      // in-process fake in this image (no egress)
      def sub(keys: String*): Option[Map[String, Any]] =
        keys.collectFirst { case k if cm.contains(k) => asMap(cm(k)) }
      val (kind, tgt) = sub("s3", "aws_s3") match {
        case Some(c) => ("s3", c.get("bucket").map(_.toString).getOrElse("default"))
        case None => sub("dynamodb", "aws_dynamodb") match {
          case Some(c) =>
            ("dynamodb", c.get("table").map(_.toString).getOrElse("default"))
          case None => ("mongodb", asMap(cm("mongodb"))
            .get("collection").map(_.toString).getOrElse("default"))
        }
      }
      new graft.ops.RedisCache(graft.ops.FakeRedisFactory(s"$kind:$tgt"))
    } else
      // memory | ristretto; `ttl` seconds per the reference memory cache
      new graft.ops.CacheOps.MemoryCache(
        cm.get("memory").map(asMap).flatMap(_.get("ttl"))
          .map(_.toString.toLong).getOrElse(0L))

  /** A Go duration string (`100ms`, `1s`) in ms; 1 s if it does not parse. */
  private def durationMs(p: Any): Long =
    graft.exprs.GoDurationParse.parse(
      org.apache.spark.unsafe.types.UTF8String.fromString(p.toString)) match {
      case null => 1000L
      case n => n / 1000000L
    }

  /** tokens/sec of a local rate-limit resource config. */
  private def rateLimitPerSec(cm: Map[String, Any]): Double = {
    val local = cm.get("local").map(asMap).getOrElse(Map.empty)
    val count = local.get("count").map(_.toString.toDouble).getOrElse(10.0)
    val interval = local.get("interval").map(_.toString).getOrElse("1s")
    val nanos = graft.exprs.GoDurationParse.parse(
      org.apache.spark.unsafe.types.UTF8String.fromString(interval))
    val intervalSec = if (nanos == null || nanos <= 0) 1.0 else nanos / 1e9
    count / intervalSec
  }

  /** REST `/resources/{type}/{id}` (lib/stream/manager/api.go:54): create
    * or replace a named resource. Types: cache, input, output, processor,
    * rate_limit. */
  def registerResource(typ: String, id: String, cm: Map[String, Any]): Unit =
    typ match {
      case "cache" =>
        graft.ops.CacheOps.Caches.register(id, cacheStoreFrom(cm))
      case "input" => InputResources.register(id, compileInput(cm))
      case "output" => Sinks.OutputResources.register(id, compileOutput(cm))
      case "processor" => F.Resources.register(id, compileProcessor(cm))
      case "rate_limit" =>
        graft.ops.RateLimits.register(id, rateLimitPerSec(cm))
      case o => throw new IllegalArgumentException(
        s"resource type must be cache|input|output|processor|rate_limit, got $o")
    }

  /** A compiled input: its reader, and whether that reader is a stream
    * (decided here, per kind, so `load` and the wrappers never re-derive
    * it). */
  final case class Input(read: SparkSession => DataFrame,
      streaming: Boolean = false)

  private def compileInputBase(m: Map[String, Any]): Input = {
    val (kind, conf) = one(m, "input")
    kind match {
      case "file" | "files" =>
        val paths = conf.get("paths").map(asList(_).map(_.toString))
          .getOrElse(scala.Seq(str(conf, "path")))
        val codec = conf.get("codec").map(_.toString).getOrElse("lines")
        Input(s => paths.map(p => Sources.file(s, p, codec)).reduce(_.unionByName(_)))
      case "generate" | "bloblang" =>
        // `bloblang` is the deprecated v3 spelling of generate —
        // lib/input/generate.go registers BOTH constructors on the same
        // reader (Constructors[TypeBloblang] wraps newBloblang too)
        val mapping = str(conf, "mapping")
        val count = conf.get("count").map(_.toString.toLong).getOrElse(100L)
        Input(s => Sources.generate(s, mapping, count))
      case "csv" =>
        // lib/input/csv.go (RFC 4180 structured records): paths (globs),
        // parse_header_row, delimiter — Spark's native CSV scan through
        // the same codec machinery as `file`
        val paths = conf.get("paths").map(asList(_).map(_.toString))
          .getOrElse(scala.Seq(str(conf, "path")))
        val header =
          conf.get("parse_header_row").forall(_.toString.toBoolean)
        val delim = optStr(conf, "delimiter", ",")
        Input(s => paths.map(p => Sources.file(s, p, s"csv:$delim",
          header = header)).reduce(_.unionByName(_)))
      case "subprocess" =>
        // lib/input/subprocess.go: run a command, consume stdout lines
        val cmd = str(conf, "name") +: conf.get("args")
          .map(asList(_).map(_.toString)).getOrElse(Nil)
        Input(s => Sources.subprocess(s, cmd))
      // wrappers are streams when any input they wrap is
      case "broker" =>
        val inputs = asList(conf("inputs")).map(i => compileInput(asMap(i)))
        Input(s => Sources.broker(inputs.map(_.read(s))), inputs.exists(_.streaming))
      case "sequence" =>
        val inputs = asList(conf("inputs")).map(i => compileInput(asMap(i)))
        Input(s => Sources.sequence(inputs.map(_.read(s))), inputs.exists(_.streaming))
      case "file_stream" =>
        val path = str(conf, "path")
        val format = conf.get("format").map(_.toString).getOrElse("parquet")
        Input(s => {
          // streaming sources need an explicit schema: infer from the
          // existing files (standard bootstrap for file streams)
          val schema = (format match {
            case "parquet" => s.read.parquet(path)
            case "json" => s.read.json(path)
            case "csv" => s.read.option("header", true).csv(path)
          }).schema
          graft.streaming.Streaming.fileStream(s, path, format, schema)
        }, streaming = true)
      case "generate_stream" =>
        val mapping = str(conf, "mapping")
        val rps = conf.get("rows_per_second").map(_.toString.toInt).getOrElse(10)
        Input(s => graft.streaming.Streaming.rateGenerate(s, mapping, rps),
          streaming = true)
      case "read_until" =>
        val inner = compileInput(asMap(conf("input")))
        val check = condString(conf("check"))
        Input(s => Sources.readUntil(inner.read(s), check), inner.streaming)
      case "http_client" =>
        val url = str(conf, "url")
        val verb = optStr(conf, "verb", "GET")
        val codec = optStr(conf, "codec", "lines")
        val hdrs = conf.get("headers").map(asMap).getOrElse(Map.empty)
          .map { case (k, v) => k -> v.toString }
        Input(s => Sources.httpClient(s, url, verb, hdrs, codec))
      case "stdin" => Input(s => Sources.stdin(s))
      case "tcp_server" | "socket_server" =>
        val addr = str(conf, "address").split(":", 2)
        require(addr.length == 2, s"$kind input: address must be host:port")
        val maxConns = conf.get("max_connections").map(_.toString.toInt).getOrElse(1)
        Input(s => Sources.tcpServer(s, addr(0), addr(1).toInt, maxConns))
      case "udp_server" =>
        val addr = str(conf, "address").split(":", 2)
        require(addr.length == 2, "udp_server input: address must be host:port")
        val idle = conf.get("idle_timeout_ms").map(_.toString.toInt).getOrElse(1000)
        Input(s => Sources.udpServer(s, addr(0), addr(1).toInt, idle))
      case "websocket" =>
        val url = str(conf, "url")
        val count = conf.get("count").map(_.toString.toInt).getOrElse(Int.MaxValue)
        Input(s => Sources.websocket(s, url, count))
      case "redis_list" =>
        Input(s => Sources.redisList(s,
          graft.ops.FakeRedisFactory(str(conf, "url")), str(conf, "key")))
      case "http_server" =>
        // push input: bodies staged by the control plane per request
        // (lib/input/http_server.go); path handled via StreamSpec.pushPath
        Input(s => Sources.httpServer(s))
      case "inproc" =>
        val name = m(kind).toString
        Input(_ => Sinks.Inproc.get(name))
      case "resource" =>
        // the reader resolves at run time (the resource may be replaced
        // after this config loads); stream-ness is the one registered now
        val name = m(kind).toString
        Input(s => InputResources(name).read(s), InputResources.streaming(name))
      case "socket" | "tcp" =>
        // address "host:port" (lib/input/socket.go; `tcp` is the
        // deprecated v3 spelling, lib/input/tcp.go — same line-reader
        // connect semantics); stream: true → Spark's native socket
        // streaming source
        val addr = str(conf, "address").split(":", 2)
        require(addr.length == 2, s"$kind input: address must be host:port")
        val (host, port) = (addr(0), addr(1).toInt)
        val stream = conf.get("stream").exists(_.toString.toBoolean)
        Input(s => if (stream) Sources.socketStream(s, host, port)
             else Sources.socket(s, host, port), stream)
      case "kafka" | "kafka_balanced" | "kafka_cg" | "kafka_parts" =>
        // kafka_balanced (lib/input/kafka_balanced.go) / kafka_cg are
        // v3's consumer-group variants and kafka_parts pins explicit
        // partitions — Spark's kafka source balances partitions across
        // tasks natively and accepts assign-style partition maps, so
        // all four map onto the same connector config
        val c = kafkaInputConfig(conf)
        val batch = conf.get("batch").exists(_.toString.toBoolean)
        Input(s => if (batch) graft.sources.Kafka.read(s, c)
             else graft.sources.Kafka.readStream(s, c), !batch)
      case "dynamic" =>
        // dynamic (lib/input/dynamic.go): REST-managed named input set —
        // union whatever is registered at plan time. The static `inputs`
        // map registers members at load time; `prefix` namespaces the
        // CRUD endpoints (like the output twin, it never filters members).
        // REST-added members are unknown at load: the input stays batch.
        conf.get("inputs").map(asMap).getOrElse(Map.empty).foreach {
          case (id, in) => DynamicInputs.set(id.toString, compileInput(asMap(in)).read)
        }
        Input(s => DynamicInputs.union(s))
      case "spark_format" =>
        val format = str(conf, "format")
        val opts = conf.get("options").map(asMap).getOrElse(Map.empty)
          .map { case (k, v) => k -> v.toString }
        val stream = conf.get("streaming").forall(_.toString.toBoolean)
        Input(s => Sources.sparkFormat(s, format, opts, stream), stream)
      case k @ ("aws_s3" | "s3" | "gcp_cloud_storage" | "azure_blob_storage" |
          "hdfs" | "sftp") =>
        // object-store inputs (lib/input/aws_s3.go, gcp_cloud_storage.go,
        // azure_blob_storage.go, hdfs.go, sftp.go): Spark reads these
        // stores natively through Hadoop FileSystem URI schemes, so the
        // connector config compiles to a path + the SAME codec machinery
        // as `file` — a list+download loop would fight the scheduler.
        // `scheme` is overridable (tests use file://); credentials ride
        // the standard Hadoop conf, not this config.
        val path = objectStorePath(k, conf)
        val codec = conf.get("codec").map(_.toString).getOrElse("lines")
        Input(s => Sources.file(s, path, codec))
      case k if graft.sources.Brokers.inputKinds(k) =>
        // broker breadth (lib/input/constructor.go registry): binding is
        // compiled (and linted) NOW; the transport format resolves at
        // call time from the deploy-provided connector jar
        val b = graft.sources.Brokers.input(k, conf)
        Input(s => graft.sources.Brokers.readStream(s, b), streaming = true)
      case o => throw new IllegalArgumentException(s"config: unknown input kind $o")
    }
  }

  private def compileInput(m: Map[String, Any]): Input = {
    val base = compileInputBase(m)
    // input-level `batching:` (the Batching field on broker/file inputs),
    // applied right after the source. Streaming inputs keep micro-batch
    // batching.
    one(m, "input")._2.get("batching").map(asMap).map(rebatcher) match {
      case Some(p) if !(p eq Noop) && !base.streaming =>
        base.copy(read = s => p(base.read(s)))
      case _ => base
    }
  }

  /** An input/output `batching:` policy's re-batcher: `check` splits
    * where the condition holds, else `byte_size`, else `count` (period is
    * a trigger knob). Noop when nothing re-batches. */
  private def rebatcher(b: Map[String, Any]): Processor = {
    val count = b.get("count").map(_.toString.toLong).getOrElse(0L)
    val bytes = b.get("byte_size").map(_.toString.toLong).getOrElse(0L)
    val check = b.get("check").map(_.toString).filter(_.nonEmpty)
    if (check.isDefined) B.SplitOnCheck(check.get)
    else if (bytes > 0) B.Split(1L, bytes)
    else if (count > 1) B.Split(count)
    else Noop
  }

  /** Walk a processor tree (generic productIterator descent, so every
    * combinator — Pipeline, ForEach, Switch, Try/Catch, GroupBy, … — is
    * covered without enumerating them) collecting cache-backed dedupes. */
  private[runtime] def collectCachedDedupes(p: Processor)
      : scala.Seq[CachedDedupeProc] = {
    def walk(x: Any): scala.Seq[CachedDedupeProc] = x match {
      case d: CachedDedupeProc => scala.Seq(d)
      case pr: Processor with Product =>
        pr.productIterator.flatMap(walk).toSeq
      case it: scala.collection.Iterable[_] => it.flatMap(walk).toSeq
      case o: Option[_] => o.toSeq.flatMap(walk)
      case (a, b) => walk(a) ++ walk(b)
      case _ => Nil
    }
    walk(p)
  }

  /** A processor list. A `try` directly followed by a `catch` compiles to
    * one [[E.TryCatch]]: the same rows and flags as the two in sequence,
    * while a row's doc type is only that of the arms it ran. */
  private def compileProcessors(list: Any): scala.Seq[Processor] =
    asList(list).map(p => compileProcessor(asMap(p))).foldRight(List.empty[Processor]) {
      case (E.TryProc(t), E.CatchProc(c) :: rest) => E.TryCatch(t, c) :: rest
      case (p, rest) => p :: rest
    }

  def compileProcessor(m: Map[String, Any]): Processor = {
    val (kind, conf) = one(m, "processor")
    // generic `parts` scoping (PartsFieldSpec on the deprecated
    // processors): run the child on the listed batch indices only.
    // select_parts/insert_part consume `parts` natively.
    val partsScope =
      if (kind == "select_parts" || kind == "insert_part") Nil
      else conf match {
        case cm: Map[_, _] => cm.asInstanceOf[Map[String, Any]].get("parts")
          .map(asList(_).map(_.toString.toLong)).getOrElse(Nil)
        case _ => Nil
      }
    val compiled = kind match {
      case "bloblang" | "mapping" => BloblangProc(m(kind).toString)
      case "filter" => FilterProc(condString(m(kind)))
      case "noop" => Noop
      case "for_each" | "process_batch" =>
        ForEach(compileProcessors(m(kind)))
      case "dedupe" =>
        // with a `cache:` resource the reference form dedupes ACROSS
        // batches/runs (lib/processor/dedupe.go:53); without one it's
        // batch-local. `key` is interpolated per the reference (a bare
        // Bloblang expression also works), defaulting to the message
        // contents; `hash: xxhash` hashes the key first. `drop_on_err`
        // is accepted (no cache backend here surfaces read errors —
        // rows never drop on infrastructure failure, strictly safer).
        val dKey = conf.get("key").map(_.toString).filter(_.nonEmpty)
          .getOrElse("content().string()")
        val dHash = conf.get("hash").map(_.toString).getOrElse("none")
        conf.get("cache").map(_.toString) match {
          case Some(label) =>
            CachedDedupeProc(graft.ops.CacheOps.Caches(label), dKey, dHash)
          case None => DedupeProc(dKey, dHash)
        }
      case "sample" => SampleProc(dbl(conf, "retain") / 100.0,
        conf.get("seed").map(_.toString.toLong).getOrElse(42L))
      case "hash_sample" =>
        HashSampleProc(dbl(conf, "retain_min"), dbl(conf, "retain_max"),
          conf.get("key").map(_.toString).getOrElse("content().string()"))
      case "split" => B.Split(
        conf.get("size").map(_.toString.toLong).getOrElse(1L),
        conf.get("byte_size").map(_.toString.toLong).getOrElse(0L))
      case "batch" =>
        // DEPRECATED v3 re-batcher (lib/processor/batch.go): count /
        // byte_size / condition — the same policy shape the output-level
        // `batching:` compiles to (period is a trigger-cadence knob).
        // The reference ORs every configured trigger; OR-batching needs
        // a segmented scan (the accumulator resets at whichever trigger
        // fired — see Split's byte_size note), so multiple knobs take a
        // DOCUMENTED precedence here (condition > byte_size > count)
        // and setting more than one is rejected loudly instead of
        // silently diverging.
        val count = conf.get("count").map(_.toString.toLong).getOrElse(0L)
        val bytes = conf.get("byte_size").map(_.toString.toLong).getOrElse(0L)
        val check = conf.get("condition").map(condString)
        require(scala.Seq(check.isDefined, bytes > 0, count > 0)
          .count(identity) <= 1,
          "batch processor: count/byte_size/condition are OR-triggers in " +
            "the reference; this engine batches on ONE — configure a single" +
            " trigger")
        if (check.isDefined) B.SplitOnCheck(check.get)
        else if (bytes > 0) B.Split(1L, bytes)
        else B.Split(math.max(count, 1L))
      case "json" =>
        // DEPRECATED v3 json operator processor (lib/processor/json.go) —
        // most operators translate onto the Bloblang mapping compiler;
        // explode/flatten/clean run typed schema surgery (ops/JsonOps)
        JsonProc(str(conf, "operator"),
          optStr(conf, "path", ""), conf.get("value"))
      case "merge_json" =>
        // config-loaded pipelines are dynamic -> the exact gabs-fold
        // path (lib/processor/merge_json.go semantics incl. parts /
        // retain_parts); the static-schema aggregate stays the
        // programmatic default for typed pipelines
        B.MergeJson(
          parts = asList(conf.getOrElse("parts", new java.util.ArrayList[Any]()))
            .map(_.toString.trim.toInt),
          retain = conf.get("retain_parts").exists(_.toString.toBoolean),
          exact = true)
      case "sleep" => SleepProc(str(conf, "duration"))
      // throttle (lib/processor/throttle.go): per-message pacing by
      // `period` — same per-row pause the sleep processor implements
      case "throttle" => SleepProc(str(conf, "period"))
      case "cache" => graft.ops.CacheOps.CacheProc(
        graft.ops.CacheOps.Caches(str(conf, "resource")),
        str(conf, "operator"), str(conf, "key"), optStr(conf, "value"))
      case "awk" => AwkProc(str(conf, "program"),
        optStr(conf, "codec", "text"))
      case "log" => LogProc(optStr(conf, "level", "INFO"),
        str(conf, "message"))
      case "archive" => B.Archive(str(conf, "format"))
      case "unarchive" => str(conf, "format") match {
        case "lines" => B.UnarchiveLines()
        case "tar" | "zip" => B.UnarchiveArchive(str(conf, "format"))
        case f @ ("json_array" | "json_map" | "csv" | "binary") => B.UnarchiveParts(f)
        case o => throw new IllegalArgumentException(s"unarchive: unsupported format $o")
      }
      case "select_parts" =>
        B.SelectParts(asList(conf("parts")).map(_.toString.toLong))
      case "group_by_value" => B.GroupByValue(str(conf, "value"))
      case "group_by" =>
        B.GroupBy(asList(m(kind)).map { g =>
          val gm = asMap(g)
          (condString(gm("check")),
            compileProcessors(gm("processors")))
        })
      case "switch" =>
        F.Switch(asList(m(kind)).map { c =>
          val cm = asMap(c)
          (cm.get("check").map(condString).filter(_.nonEmpty),
            compileProcessors(cm("processors")))
        })
      case "while" =>
        F.WhileProc(condString(conf("check")),
          compileProcessors(conf("processors")),
          conf.get("max_loops").map(_.toString.toInt).getOrElse(10))
      case "try" =>
        E.TryProc(compileProcessors(m(kind)))
      case "catch" =>
        E.CatchProc(compileProcessors(m(kind)))
      case "bounds_check" =>
        E.BoundsCheck(
          conf.get("min_part_size").map(_.toString.toLong).getOrElse(0L),
          conf.get("max_part_size").map(_.toString.toLong).getOrElse(Long.MaxValue))
      case "grok" =>
        Grok.GrokProc(asList(conf("expressions")).head.toString)
      case "parse_log" => str(conf, "format") match {
        case "syslog_rfc3164" => Grok.GrokProc(Grok.Rfc3164)
        case "syslog_rfc5424" => Grok.GrokProc(Grok.Rfc5424)
        case o => throw new IllegalArgumentException(s"parse_log: unknown format $o")
      }
      case "compress" => CodecProcs.CompressProc(str(conf, "algorithm"))
      case "decompress" => CodecProcs.DecompressProc(str(conf, "algorithm"))
      case "avro" => CodecProcs.AvroProc(str(conf, "operator"), str(conf, "schema"))
      case "aws_lambda" | "lambda" => LambdaProc(
        str(conf, "function"),
        region = optStr(conf, "region", "us-east-1"),
        endpoint = optStr(conf, "endpoint"),
        timeoutMs = conf.get("timeout_ms").map(_.toString.toInt).getOrElse(10000))
      case "sync_response" => SyncResponseProc()
      case "redis" => RedisProc(
        FakeRedisFactory(str(conf, "url")),
        str(conf, "operator"), str(conf, "key"))
      case "mongodb" => MongoProc(
        FakeMongoFactory(str(conf, "url")),
        str(conf, "database"), str(conf, "collection"),
        str(conf, "operation"),
        documentMap = optStr(conf, "document_map"),
        filterMap = optStr(conf, "filter_map"))
      case "sql" => SqlProc(
        optStr(conf, "driver"),
        conf.get("data_source_name").orElse(conf.get("dsn")).map(_.toString)
          .getOrElse(throw new IllegalArgumentException(
            "config: sql needs data_source_name")),
        str(conf, "query"),
        argsMapping = optStr(conf, "args_mapping"),
        resultCodec = optStr(conf, "result_codec", "none"))
      case "protobuf" => CodecProcs.ProtobufProc(str(conf, "operator"),
        str(conf, "message"),
        importPaths = strings(conf, "import_paths") ++
          conf.get("import_path").map(_.toString).toSeq)
      case "subprocess" =>
        SubprocessProc(str(conf, "name") +: conf.get("args")
          .map(asList(_).map(_.toString)).getOrElse(Nil))
      case "http" =>
        HttpProc(str(conf, "url"),
          conf.get("verb").map(_.toString).getOrElse("POST"),
          conf.get("headers").map(h => asMap(h).map { case (k, v) => (k, v.toString) })
            .getOrElse(Map.empty),
          rateLimit = optStr(conf, "rate_limit"))
      case "text" => TextProc(str(conf, "operator"),
        optStr(conf, "arg"), optStr(conf, "value"))
      case "jmespath" => graft.blobl.JmesPathProc(str(conf, "query"))
      case "jq" => graft.blobl.JqProc(str(conf, "query"),
        raw = conf.get("raw").exists(_.toString.toBoolean),
        // extension field: `wrap: true` selects the reference's exact
        // part semantics (multi-output -> one array part, zero -> drop)
        // instead of the default row-per-output superset
        wrap = conf.get("wrap").exists(_.toString.toBoolean))
      case "filter_parts" => FilterProc(condString(conf("check")))
      case "hash" =>
        ContentProc(s"""content().hash("${str(conf, "algorithm")}")""")
      case "encode" =>
        ContentProc(s"""content().encode("${str(conf, "scheme")}")""")
      case "decode" =>
        ContentProc(s"""content().decode("${str(conf, "scheme")}")""")
      case "xml" => // operator: to_json (lib/processor/xml.go)
        ContentProc("content().string().parse_xml().format_json()")
      case "metadata" =>
        MetadataProc(str(conf, "operator"), str(conf, "key"),
          optStr(conf, "value"))
      case "insert_part" =>
        B.InsertPart(conf.get("index").map(_.toString.toLong).getOrElse(-1L),
          conf.get("mapping").map(_.toString).getOrElse {
            val c = str(conf, "content").replace("\\", "\\\\").replace("\"", "\\\"")
            "root = \"" + c + "\""
          })
      case "number" =>
        // add | subtract on numeric content (lib/processor/number.go:71-78)
        val v = conf.getOrElse("value", 0).toString.toDouble
        val op = optStr(conf, "operator", "add") match {
          case "add" => "+"
          case "subtract" => "-"
          case o => throw new IllegalArgumentException(s"number: operator $o")
        }
        ContentProc(s"(content().string().number() $op $v).string()")
      case "process_map" | "process_field" =>
        // both are pre-branch forms of branch (premap/postmap ≈
        // request_map/result_map; process_field path sugar)
        val req = conf.get("premap").map(m => "root = " + asMap(m)("root"))
          .orElse(conf.get("path").map(p => s"root = this.$p"))
          .getOrElse("root = this")
        val res = conf.get("postmap").map(m => asMap(m).map {
            case (k, v) => s"root.$k = this.$v"
          }.mkString("\n"))
          .orElse(conf.get("path").map(p => s"root.$p = this"))
          .getOrElse("root = this")
        F.Branch(req,
          compileProcessors(conf.getOrElse("processors", new java.util.ArrayList[Any]())),
          parseResultMap(res))
      case "conditional" =>
        F.Switch(scala.Seq(
          (Some(condString(conf("condition"))),
            compileProcessors(conf.getOrElse("processors", new java.util.ArrayList[Any]()))),
          (None,
            compileProcessors(conf.getOrElse("else_processors", new java.util.ArrayList[Any]())))))
      case "parallel" =>
        ForEach(compileProcessors(conf.getOrElse("processors", new java.util.ArrayList[Any]())))
      case "jsonschema" | "json_schema" =>
        // registry spelling is json_schema (lib/processor/constructor.go:164)
        E.JsonSchema(conf.get("schema").map(_.toString).getOrElse(
          new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
            str(conf, "schema_path").stripPrefix("file://"))), "UTF-8")))
      // --- curation extension processors (no reference equivalent) ---
      case "c4_line_filter" => graft.ops.CurationProcs.C4LineFilterProc(
        optStr(conf, "separator", "\n"),
        conf.get("min_words").map(_.toString.toInt).getOrElse(5),
        conf.get("bad_substrings")
          .map(v => asList(v).map(_.toString))
          .getOrElse(scala.Seq("lorem ipsum", "javascript")),
        conf.get("min_kept_lines").map(_.toString.toInt).getOrElse(1))
      case "pii_redact" => graft.ops.CurationProcs.PiiRedactProc()
      case "dedup_lines" =>
        graft.ops.CurationProcs.DedupLinesProc(optStr(conf, "separator", "\n"))
      case "quality_score" =>
        graft.ops.CurationProcs.QualityScoreProc(
          str(conf, "weights_path"),
          conf.get("dim").map(_.toString.toInt).getOrElse(4096),
          conf.get("scale").map(_.toString.toLong).getOrElse(1000000L),
          optStr(conf, "meta_key", "quality_score_fp"))
      case "gopher_filter" => graft.ops.CurationProcs.GopherFilterProc()
      case "truncate_budget" =>
        graft.ops.CurationProcs.TruncateBudgetProc(
          conf.get("max_tokens").map(_.toString.toInt).getOrElse(2048))
      case "unicode_normalize" =>
        graft.ops.CurationProcs.UnicodeNormalizeProc(optStr(conf, "form", "NFC"))
      case "hash_split" =>
        val w = asMap(conf("weights")).toSeq
          .map { case (k, v) => k -> v.toString.toDouble }.sortBy(_._1)
        graft.ops.CurationProcs.HashSplitProc(w,
          optStr(conf, "meta_key", "split"),
          optStr(conf, "key", "content().string()"))
      case "branch" =>
        F.Branch(str(conf, "request_map"),
          compileProcessors(conf.getOrElse("processors", new java.util.ArrayList[Any]())),
          parseResultMap(str(conf, "result_map")))
      case "workflow" | "process_dag" =>
        val branches = asMap(conf("branches")).toSeq.sortBy(_._1).map { case (_, b) =>
          val bm = asMap(b)
          F.Branch(str(bm, "request_map"),
            compileProcessors(bm.getOrElse("processors", new java.util.ArrayList[Any]())),
            parseResultMap(str(bm, "result_map")))
        }
        F.Workflow.auto(branches)
      case "resource" => F.Resource(m(kind).toString)
      case "metric" =>
        // live df.observe: row count under the configured metric name,
        // rendered at /metrics (`lib/processor/metric.go` counter form)
        import org.apache.spark.sql.functions.{count => cnt, lit => l}
        MetricProc(Metrics.freshObservation(str(conf, "name")),
          scala.Seq(cnt(l(1)).as("count")))
      // log and sleep have real processors above; only the inline
      // rate_limit placement degrades to a no-op (named rate_limit
      // resources are acquired by the http processor per request)
      case "rate_limit" => Noop
      case o => throw new IllegalArgumentException(s"config: unknown processor $o")
    }
    if (partsScope.isEmpty) compiled else B.PartsScoped(partsScope, compiled)
  }

  /** A file-shaped output (`file`, `parquet`, the object stores) at
    * `path`: an interpolated path (writer/files.go:51) splits into its
    * static directory prefix and the compiled Bloblang rest; any other is
    * one static-path sink. */
  private def fileOutput(path: String, codec: String, mode: String): Sink =
    if (path.contains("${!")) {
      val cut = path.lastIndexOf('/', path.indexOf("${!"))
      Sinks.DynamicPathSink(if (cut < 0) "." else path.substring(0, cut),
        Conditions.interpToExpr(path.substring(cut + 1)), codec, mode)
    } else Sinks.FileSink(path, codec, mode)

  private def writerCodec(conf: Map[String, Any]): String =
    conf.get("codec").orElse(conf.get("format")).map(_.toString).getOrElse("lines")

  /** `fileMode`: the write mode of a file-shaped output that sets no
    * `mode` (this output's and those nested in it). */
  private def compileOutput(m: Map[String, Any],
      fileMode: String = "overwrite"): Sink = {
    def child(o: Any): Sink = compileOutput(asMap(o), fileMode)
    val (kind, conf) = one(m, "output")
    val sink = kind match {
      case "file" | "files" => fileOutput(str(conf, "path"), writerCodec(conf),
        conf.get("mode").map(_.toString).getOrElse(fileMode))
      case "parquet" => fileOutput(str(conf, "path"), "parquet", fileMode)
      case "stdout" => Sinks.ConsoleSink()
      case "drop" => Sinks.DropSink
      case "switch" =>
        Sinks.SwitchSink(asList(conf("cases")).map { c =>
          val cm = asMap(c)
          (cm.get("check").map(condString).filter(_.nonEmpty),
            child(cm("output")))
        })
      case "broker" =>
        val outs = asList(conf("outputs")).map(child)
        conf.get("pattern").map(_.toString).getOrElse("fan_out") match {
          // fan_out_sequential: FanOutSink already writes sinks in order
          case "fan_out" | "fan_out_sequential" => Sinks.FanOutSink(outs)
          case "round_robin" => Sinks.RoundRobinSink(outs)
          // greedy load-balances for throughput; with Spark's partition
          // parallelism one sink takes the whole (parallel) write
          case "greedy" => outs.head
          case o => throw new IllegalArgumentException(s"broker output: unsupported pattern $o")
        }
      case "retry" =>
        Sinks.RetrySink(child(conf("output")),
          conf.get("max_retries").map(_.toString.toInt).getOrElse(3))
      case "resource" =>
        Sinks.OutputResources(m(kind).toString)
      case "dynamic" =>
        // lib/output/dynamic.go: REST-managed named output set (always
        // fan_out). The config's static `outputs` map creates members at
        // load time; the control plane CRUDs more at /outputs/{id}.
        // `prefix` namespaces those endpoints (it is NOT a member filter).
        conf.get("outputs").map(asMap).getOrElse(Map.empty).foreach {
          case (id, o) =>
            Sinks.DynamicOutputs.set(id.toString, compileOutput(asMap(o)))
        }
        Sinks.DynamicSink(optStr(conf, "prefix", ""))
      case "sync_response" =>
        // lib/output/sync_response.go: the payload returns to the input
        // origin via the roundtrip store; inputs with no sync mechanism
        // drop it without penalty
        Sinks.SyncResponseSink()
      case "http_server" =>
        // lib/output/http_server.go: GET `path` pops one message,
        // GET `stream_path` drains (reference defaults)
        Sinks.HttpServeSink(optStr(conf, "path", "/get"),
          optStr(conf, "stream_path", "/get/stream"))
      case "fallback" | "try" =>
        Sinks.FallbackSink(asList(m(kind)).map(child))
      case "reject" | "drop_on_error" =>
        Sinks.DropOnError(Sinks.DropSink)
      case "http_client" =>
        Sinks.HttpClientSink(str(conf, "url"), optStr(conf, "verb", "POST"),
          conf.get("headers").map(asMap).getOrElse(Map.empty)
            .map { case (k, v) => k -> v.toString })
      case "kafka" =>
        Sinks.KafkaSink(kafkaOutputConfig(conf))
      case "cache" =>
        // reference default key is ${!count:items}-${!timestamp_unix_nano};
        // uuid gives the same per-message uniqueness without envelope deps
        Sinks.CacheSink(graft.ops.CacheOps.Caches(str(conf, "target")),
          optStr(conf, "key", "${! uuid_v4() }"))
      case "sql" =>
        Sinks.SqlSink(SqlProc(
          optStr(conf, "driver"),
          conf.get("data_source_name").orElse(conf.get("dsn")).map(_.toString)
            .getOrElse(throw new IllegalArgumentException(
              "config: sql output needs data_source_name")),
          str(conf, "query"),
          argsMapping = optStr(conf, "args_mapping")))
      case "mongodb" =>
        Sinks.MongoSink(MongoProc(
          FakeMongoFactory(str(conf, "url")),
          str(conf, "database"), str(conf, "collection"), "insert-one",
          documentMap = optStr(conf, "document_map", "root = this")))
      case "subprocess" =>
        Sinks.SubprocessSink(str(conf, "name") +: conf.get("args")
          .map(asList(_).map(_.toString)).getOrElse(Nil))
      case "socket" | "tcp" | "udp" =>
        val addr = str(conf, "address").split(":", 2)
        require(addr.length == 2, s"$kind output: address must be host:port")
        val network = if (kind == "udp") "udp"
          else optStr(conf, "network", "tcp")
        Sinks.SocketSink(addr(0), addr(1).toInt, network)
      case "redis_list" =>
        graft.ops.RedisListSink(
          graft.ops.FakeRedisFactory(str(conf, "url")), str(conf, "key"))
      case "inproc" =>
        Sinks.InprocSink(m(kind).toString)
      case "websocket" =>
        Sinks.WebsocketSink(str(conf, "url"))
      case "spark_format" =>
        Sinks.SparkFormatSink(str(conf, "format"),
          conf.get("options").map(asMap).getOrElse(Map.empty)
            .map { case (k, v) => k -> v.toString },
          optStr(conf, "mode", "append"))
      case k @ ("aws_s3" | "s3" | "gcp_cloud_storage" | "azure_blob_storage" |
          "blob_storage" | "hdfs" | "sftp") =>
        // object-store outputs: the write side of the URI-scheme mapping
        // — a per-task parallel file write, never a driver upload loop
        // (`blob_storage` is the deprecated alias of azure_blob_storage,
        // lib/output/constructor.go:170)
        fileOutput(objectStorePath(
          if (k == "blob_storage") "azure_blob_storage" else k, conf),
          writerCodec(conf), fileMode)
      case k @ ("aws_kinesis" | "kinesis" | "aws_sqs" | "sqs" | "gcp_pubsub" |
          "nats" | "nats_stream" | "nats_jetstream" | "mqtt" | "amqp_0_9" |
          "amqp" | "amqp_1" | "nsq" | "pulsar" | "redis_streams" |
          "redis_pubsub" | "redis_hash" | "zmq4" | "nanomsg" |
          "scalability_protocols" | "aws_dynamodb" | "dynamodb" | "aws_sns" |
          "sns" | "aws_kinesis_firehose" | "kinesis_firehose" |
          "azure_queue_storage" | "azure_table_storage" | "table_storage" |
          "cassandra" | "elasticsearch") =>
        // deprecated spellings (lib/output/constructor.go:170,190,215 +
        // the sns/dynamodb short names registered by aws_sns.go /
        // aws_dynamodb.go): aliases normalize to the azure_/aws_ forms
        // before dispatch
        Sinks.BrokerSink(graft.sources.Brokers.output(
          k match {
            case "kinesis_firehose" => "aws_kinesis_firehose"
            case "table_storage"    => "azure_table_storage"
            case "sns"              => "aws_sns"
            case "dynamodb"         => "aws_dynamodb"
            case other              => other
          }, conf))
      case "drop_on" =>
        // lib/output/drop_on.go: wrap a child output, dropping messages
        // instead of erroring when `error: true` (back_pressure is a
        // liveness knob the micro-batch engine handles via triggers)
        val inner = child(conf("output"))
        if (conf.get("error").exists(_.toString.toBoolean))
          Sinks.DropOnError(inner)
        else inner
      case o => throw new IllegalArgumentException(s"config: unknown output $o")
    }
    // output-level `batching:` (every writer output's Batching field):
    // re-batch + post-batch processors
    conf.get("batching").map(asMap) match {
      case Some(b) =>
        val rebatch = rebatcher(b)
        val post = b.get("processors").map(compileProcessors).getOrElse(Nil)
        if ((rebatch eq Noop) && post.isEmpty) sink
        else graft.sinks.BatchedSink(sink, rebatch, post)
      case None => sink
    }
  }

  // ---------- kafka config mapping ----------
  private def strings(m: Map[String, Any], k: String): scala.Seq[String] =
    m.get(k).map(asList(_).map(_.toString)).getOrElse(Nil)
  private def optStr(m: Map[String, Any], k: String, dflt: String = ""): String =
    m.get(k).map(_.toString).getOrElse(dflt)
  private def kafkaSecurity(m: Map[String, Any])
      : (Boolean, String, String, String) = {
    val tls = m.get("tls").map(asMap).exists(t =>
      t.get("enabled").exists(_.toString.toBoolean))
    val sasl = m.get("sasl").map(asMap).getOrElse(Map.empty)
    (tls, optStr(sasl, "mechanism"), optStr(sasl, "user"),
      optStr(sasl, "password"))
  }
  private def kafkaInputConfig(conf: Map[String, Any])
      : graft.sources.Kafka.InputConfig = {
    val (tls, mech, user, pass) = kafkaSecurity(conf)
    graft.sources.Kafka.InputConfig(
      addresses = strings(conf, "addresses"),
      topics = strings(conf, "topics"),
      consumerGroup = optStr(conf, "consumer_group"),
      clientId = optStr(conf, "client_id", "graft"),
      startFromOldest =
        conf.get("start_from_oldest").forall(_.toString.toBoolean),
      tlsEnabled = tls, saslMechanism = mech,
      saslUser = user, saslPassword = pass,
      minPartitions = conf.get("min_partitions").map(_.toString.toInt))
  }
  private def kafkaOutputConfig(conf: Map[String, Any])
      : graft.sources.Kafka.OutputConfig = {
    val (tls, mech, user, pass) = kafkaSecurity(conf)
    graft.sources.Kafka.OutputConfig(
      addresses = strings(conf, "addresses"),
      topic = str(conf, "topic"),
      key = optStr(conf, "key"),
      clientId = optStr(conf, "client_id", "graft"),
      compression = optStr(conf, "compression"),
      staticHeaders = conf.get("static_headers").map(asMap).getOrElse(Map.empty)
        .map { case (k, v) => k -> v.toString },
      metadataHeaders = conf.get("metadata").isDefined,
      tlsEnabled = tls, saslMechanism = mech,
      saslUser = user, saslPassword = pass)
  }

  /** result_map subset: lines of `root.<dest> = this.<srcField>` become
    * (childField → destPath) merge pairs (the general result_map is a
    * full mapping; the overwhelmingly common shape is field copies). */
  private def parseResultMap(mapping: String): scala.Seq[(String, String)] = {
    import graft.blobl.Ast._
    graft.blobl.Parser.parseMapping(mapping).stmts.collect {
      case Assign(RootPath(dest), Field(This, src)) if dest.nonEmpty =>
        (src, dest.mkString("."))
      // `root.<dest> = this`: the whole child doc lands at dest ("" src)
      case Assign(RootPath(dest), This) if dest.nonEmpty =>
        ("", dest.mkString("."))
    }
  }

  // ---------- yaml helpers ----------
  private def asMap(a: Any): Map[String, Any] = a match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, v) => k.toString -> v }.toMap
    case null => Map.empty
    case o => throw new IllegalArgumentException(s"config: expected mapping, got $o")
  }
  private def asList(a: Any): List[Any] = a match {
    case l: java.util.List[_] => l.asScala.toList
    case null => Nil
    case o => throw new IllegalArgumentException(s"config: expected list, got $o")
  }
  /** `dynamic` input registry (`lib/input/dynamic.go`): a named,
    * REST-mutable set of inputs; the dynamic input unions the current
    * members at plan time. The control plane exposes CRUD at
    * `/inputs/{id}`. */
  object DynamicInputs {
    private val inputs =
      scala.collection.concurrent.TrieMap[String, SparkSession => DataFrame]()
    def set(name: String, in: SparkSession => DataFrame): Unit =
      inputs.put(name, in)
    def remove(name: String): Boolean = inputs.remove(name).isDefined
    def list: scala.Seq[String] = inputs.keys.toSeq.sorted
    def union(s: SparkSession): DataFrame = {
      val members = inputs.toSeq.sortBy(_._1).map(_._2(s))
      require(members.nonEmpty, "dynamic input: no members registered")
      members.reduce(_.unionByName(_))
    }
  }

  /** Named input resources (`input.resource` / `resources.inputs`). */
  object InputResources {
    private val inputs = scala.collection.concurrent.TrieMap[String, Input]()
    def register(name: String, in: Input): Unit = inputs.put(name, in)
    def apply(name: String): Input = inputs.getOrElse(name,
      throw new IllegalArgumentException(s"unknown input resource $name"))
    /** False for a name not registered (yet): it reads as batch. */
    def streaming(name: String): Boolean = inputs.get(name).exists(_.streaming)
  }

  /** Metrics wrapper peeling (`lib/metrics` whitelist / blacklist /
    * rename chains + the per-sink `path_mapping` Bloblang field): each
    * wrapper composes onto `map`, outermost first. Returns the composed
    * path mapping and the innermost sink config. */
  private def unwrapMetrics(mm: Map[String, Any], map: String => Option[String])
      : (String => Option[String], Map[String, Any]) = {
    def child(c: Map[String, Any], next: String => Option[String]) =
      c.get("child").map(ch => unwrapMetrics(asMap(ch), next))
        .getOrElse((next, Map.empty[String, Any]))
    if (mm.contains("whitelist") || mm.contains("blacklist")) {
      val allow = mm.contains("whitelist")
      val c = asMap(mm(if (allow) "whitelist" else "blacklist"))
      val paths = strings(c, "paths")
      val pats = strings(c, "patterns").map(_.r)
      child(c, n => map(n).filter { p =>
        (paths.exists(p.startsWith) ||
          pats.exists(_.findFirstIn(p).isDefined)) == allow
      })
    } else if (mm.contains("rename")) {
      val c = asMap(mm("rename"))
      val rules = c.get("by_regexp").map(asList).getOrElse(Nil).map(asMap)
        .map(r => (str(r, "pattern").r, str(r, "value")))
      child(c, n => map(n).map(p =>
        rules.foldLeft(p) { case (acc, (re, v)) => re.replaceAllIn(acc, v) }))
    } else {
      // innermost sink: the common `path_mapping` Bloblang field (applies
      // to the dotted path, `deleted()` drops the metric)
      val mapping = mm.values.toSeq.flatMap {
        case m: java.util.Map[_, _] => asMap(m).get("path_mapping").map(_.toString)
        case m: Map[_, _] => asMap(m).get("path_mapping").map(_.toString)
        case _ => None
      }.headOption.filter(_.nonEmpty)
      (mapping.fold(map) { m =>
        val mapper = new BloblPathMapper(m)
        n => map(n).flatMap(mapper)
      }, mm)
    }
  }

  /** Canonical Hadoop-FileSystem URI for an object-store connector config.
    * Field names follow the reference per kind (bucket/prefix for s3+gcs,
    * storage_account+container for azure, directory for hdfs, address+path
    * for sftp); `scheme` overrides for tests (file://) or alt connectors
    * (s3n, abfs, wasbs). */
  def objectStorePath(kind: String, conf: Map[String, Any]): String = {
    val scheme = conf.get("scheme").map(_.toString).getOrElse(kind match {
      case "aws_s3" | "s3" => "s3a"
      case "gcp_cloud_storage" => "gs"
      case "azure_blob_storage" => "abfss"
      case "hdfs" => "hdfs"
      case "sftp" => "sftp"
      case o => throw new IllegalArgumentException(s"objectStorePath: $o")
    })
    def prefix = conf.get("prefix").orElse(conf.get("path")).map(_.toString)
      .map(p => if (p.startsWith("/")) p else "/" + p).getOrElse("")
    kind match {
      case "aws_s3" | "s3" | "gcp_cloud_storage" =>
        s"$scheme://${str(conf, "bucket")}$prefix"
      case "azure_blob_storage" =>
        val container = str(conf, "container")
        conf.get("storage_account").map(_.toString) match {
          case Some(acct) if scheme.startsWith("abfs") =>
            s"$scheme://$container@$acct.dfs.core.windows.net$prefix"
          case Some(acct) if scheme.startsWith("wasb") =>
            s"$scheme://$container@$acct.blob.core.windows.net$prefix"
          case _ => s"$scheme://$container$prefix"
        }
      case "hdfs" =>
        val host = strings(conf, "hosts").headOption.getOrElse("")
        val dir = str(conf, "directory")
        s"$scheme://$host${if (dir.startsWith("/")) dir else "/" + dir}"
      case "sftp" =>
        val addr = optStr(conf, "address")
        val p = conf.get("paths").map(asList(_).map(_.toString)).toSeq.flatten
          .headOption.orElse(conf.get("path").map(_.toString)).getOrElse("")
        s"$scheme://$addr${if (p.startsWith("/")) p else "/" + p}"
      case o => throw new IllegalArgumentException(s"objectStorePath: $o")
    }
  }

  private def one(m: Map[String, Any], what: String): (String, Map[String, Any]) = {
    val known = m.filterNot { case (k, _) => k == "label" || k == "processors" }
    require(known.size == 1, s"config: $what must have exactly one component, got ${known.keys}")
    val (k, v) = known.head
    (k, v match { case mm: java.util.Map[_, _] => asMap(mm); case _ => Map.empty })
  }
  private def str(m: Map[String, Any], k: String): String = m.get(k).map(_.toString)
    .getOrElse(throw new IllegalArgumentException(s"config: missing field $k"))
  private def dbl(m: Map[String, Any], k: String): Double = str(m, k).toDouble
  // plain strings are Bloblang checks; maps are the reference's
  // structured v3 condition tree (text/number/json/and/or/...)
  private def condString(a: Any): String = Conditions.compile(a)
}
