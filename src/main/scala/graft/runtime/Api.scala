package graft.runtime

import java.net.InetSocketAddress
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import graft.streaming.StreamRegistry

/** Metric registry: named `df.observe` observations. Batch observations
  * publish after their action completes; streaming metrics surface
  * through query progress (`/streams/{id}/stats`). Every sink —
  * prometheus (`/metrics`), statsd, influxdb and cloudwatch EMF
  * (`lib/metrics/constructor.go:74-84`) — renders [[snapshot]], so the
  * path wrappers apply to whichever sink is configured. */
object Metrics {
  private val observations =
    scala.collection.concurrent.TrieMap[String, org.apache.spark.sql.Observation]()

  /** A NEW Observation registered under `name` (replacing any prior) —
    * an Observation instance can only attach to one DataFrame, so every
    * pipeline compile needs a fresh one; the sinks always render the
    * latest. */
  def freshObservation(name: String): org.apache.spark.sql.Observation = {
    val o = org.apache.spark.sql.Observation(
      s"$name#${System.nanoTime()}")
    observations.put(name, o)
    o
  }

  // The process's one telemetry slot: the path mapping and the exporters
  // of the last config with a `metrics:` section.
  @volatile private var pathMap: String => Option[String] = Some(_)
  private var exporters: scala.Seq[PeriodicExporter] = Nil

  /** Replace the running telemetry: stop the installed exporters (threads
    * and sockets), then map paths with `map` and start `next`. */
  private[runtime] def install(map: String => Option[String],
      next: scala.Seq[PeriodicExporter]): Unit = synchronized {
    exporters.foreach(_.stop())
    pathMap = map
    exporters = next.map(_.start())
  }

  def clear(): Unit = { observations.clear(); install(Some(_), Nil) }

  /** Every completed observation's numeric values as (dotted
    * `obs.metric` path after the path mapping, value), sorted by
    * observation then metric; a path mapped to None is dropped. */
  def snapshot: scala.Seq[(String, java.lang.Number)] =
    observations.toSeq.sortBy(_._1).flatMap { case (n, o) =>
      org.apache.spark.sql.GraftBridge.observationValues(o)
        .toSeq.sortBy(_._1).flatMap {
          case (k, v: java.lang.Number) => pathMap(s"$n.$k").map(_ -> v)
          case _ => None
        }
    }

  private def sanitize(s: String): String =
    s.replaceAll("[^A-Za-z0-9_]", "_")

  /** Prometheus exposition text: one gauge per snapshot value. */
  def prometheus: String =
    snapshot.map { case (path, v) =>
      val metric = s"graft_${sanitize(path)}"
      s"# TYPE $metric gauge\n$metric ${v.doubleValue}"
    }.mkString("", "\n", "\n")

  /** statsd line protocol (`lib/metrics/statsd.go`): one
    * `<prefix>.<obs>.<metric>:<v>|g` gauge line per snapshot value. */
  def statsdLines(prefix: String = "graft"): scala.Seq[String] =
    snapshot.map { case (p, v) =>
      s"$prefix.${p.split('.').map(sanitize).mkString(".")}:${v.doubleValue}|g"
    }
}

/** `path_mapping` metric-name Bloblang mapper (`lib/metrics/
  * path_mapping.go`): the mapping runs with `this` = the dotted metric
  * path; `deleted()` drops the metric. Names are memoized — the
  * registry is tiny and names are stable, so each distinct path
  * evaluates its (one-row, local) plan exactly once. */
final class BloblPathMapper(mapping: String) extends (String => Option[String]) {
  private val stmts = graft.blobl.Parser.parseMapping(mapping).stmts
  private val cache =
    scala.collection.concurrent.TrieMap[String, Option[String]]()
  def apply(n: String): Option[String] = cache.getOrElseUpdate(n, {
    val spark = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession).orNull
    if (spark == null) Some(n)
    else {
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types.StringType
      val df = spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(n)),
        org.apache.spark.sql.types.StructType(scala.Seq(
          org.apache.spark.sql.types.StructField("p", StringType))))
      val ctx = graft.blobl.Ctx(
        thisTC = graft.blobl.TC(col("p"), Some(StringType)),
        meta = None, err = None, content = None,
        vars = Map.empty, maps = Map.empty, batch = None)
      val tc = graft.blobl.Mapping.compileMapValue(stmts, ctx)
      val r = df.select(tc.col.cast("string")).head()
      if (r.isNullAt(0)) None else Some(r.getString(0))
    }
  })
}

/** Library build identity, served at GET /version (`lib/api` version
  * endpoint analog). */
object BuildInfo {
  val version = "0.4.0"
  val built = "2026-08-14"
}

/** REST control plane over the stream registry — the reference's streams
  * mode API (`lib/stream/manager/api.go:34-58`):
  *
  *   GET    /ping, /ready          liveness / readiness
  *   GET    /streams               ids → {active, uptime_s}
  *   POST   /streams/{id}          body = YAML config → start
  *   GET    /streams/{id}          status JSON
  *   DELETE /streams/{id}          stop
  *   GET    /streams/{id}/stats    last progress JSON (streaming)
  *   GET    /metrics, /stats       prometheus text of observations
  *
  * Runs on the driver (the natural control-plane host in Spark's
  * architecture); data never flows through it. */
final class ControlPlane(spark: SparkSession,
    registry: StreamRegistry = new StreamRegistry, port: Int = 0) {

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  private val started =
    scala.collection.concurrent.TrieMap[String, (Long, Boolean)]() // id → (t0, streaming)
  // http_server-input specs: registered at POST /streams/{id}, fed by
  // POST /streams/{id}{pushPath} (lib/input/http_server.go)
  private val pushSpecs =
    scala.collection.concurrent.TrieMap[String, Config.StreamSpec]()
  private val checkpointRoot =
    java.nio.file.Files.createTempDirectory("graft-api-ckpt").toString

  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def jsonStr(s: String): String = graft.ops.JsonProc.quote(s)

  private def streamStatus(id: String): Option[String] =
    started.get(id).map { case (t0, streaming) =>
      val active = streaming && registry.list.contains(id)
      val uptime = (System.currentTimeMillis() - t0) / 1000.0
      s"""{"active":$active,"uptime_s":$uptime,"streaming":$streaming}"""
    }

  // original YAML per stream, kept for PATCH-merge restarts
  private val configsYaml =
    scala.collection.concurrent.TrieMap[String, String]()

  /** Start (or replace) one stream from a YAML body; shared by
    * POST/PUT/PATCH /streams/{id} and the bulk POST /streams. Returns the
    * created-response body. */
  private def startStream(id: String, body: String): String = {
    stopStream(id)
    val spec = Config.load(body)
    configsYaml.put(id, body)
    if (spec.pushPath.isDefined) {
      // push input: no data yet — runs per POST to the push path
      pushSpecs.put(id, spec)
      started.put(id, (System.currentTimeMillis(), false))
      s"""{"status":"created","post_path":"/streams/$id${spec.pushPath.get}"}"""
    } else if (spec.streaming) {
      val q = spec.runStream(spark, s"$checkpointRoot/$id")
      registry.start(id, q)
      started.put(id, (System.currentTimeMillis(), true))
      """{"status":"created"}"""
    } else {
      spec.run(spark)
      started.put(id, (System.currentTimeMillis(), false))
      """{"status":"created"}"""
    }
  }

  /** Returns (existed, wasStreaming): a registered batch stream existed
    * without ever holding a running StreamingQuery — `was_active` must
    * report only the latter (an actually-running streaming query). */
  private def stopStream(id: String): (Boolean, Boolean) = {
    val wasStreaming = registry.stop(id)
    pushSpecs.remove(id)
    configsYaml.remove(id)
    (started.remove(id).isDefined || wasStreaming, wasStreaming)
  }

  /** Endpoint inventory served at GET /endpoints
    * (`lib/api/api.go` RegisterEndpoint descriptions). */
  private val endpointDocs: scala.Seq[(String, String)] = scala.Seq(
    "/ping" -> "Liveness check, returns pong.",
    "/ready" -> "200 when all active streams are running, else 503.",
    "/version" -> "Build/version information.",
    "/endpoints" -> "This listing.",
    "/metrics" -> "Prometheus text exposition of observed metrics.",
    "/stats" -> "Alias of /metrics.",
    "/traces" -> "In-process trace spans as JSON.",
    "/debug/stack" -> "JVM thread dump (the goroutine-dump analog).",
    "/streams" -> ("GET: list streams with status/uptime. POST: replace " +
      "the entire set from a map of id -> config."),
    "/streams/{id}" -> ("POST create, GET read, PUT replace, PATCH " +
      "section-merge update, DELETE stop."),
    "/streams/{id}/stats" -> "Structured metrics for one stream.",
    "/resources/{type}/{id}" -> ("POST: create or replace a named " +
      "resource: cache, input, output, processor or rate_limit."),
    "/inputs" -> "Dynamic-input CRUD (list; POST/DELETE /inputs/{id}).",
    "/outputs" -> ("Dynamic-output CRUD: GET lists ids with uptimes; " +
      "POST/GET/DELETE /outputs/{id} (optionally under the configured " +
      "prefix, `{prefix}/outputs/...`)."))

  /** Matches dynamic-output CRUD paths: `/outputs[/{id}]`, optionally
    * under one prefix segment (`/{prefix}/outputs[/{id}]` — the
    * reference registers the endpoints under the output's `prefix`).
    * Reserved root segments never act as a prefix. */
  private object DynOutPath {
    private val reserved =
      Set("streams", "inputs", "resources", "debug", "outputs")
    def unapply(segs: List[String]): Option[Option[String]] = segs match {
      case List("outputs") => Some(None)
      case List("outputs", id) => Some(Some(id))
      case List(p, "outputs") if !reserved(p) => Some(None)
      case List(p, "outputs", id) if !reserved(p) => Some(Some(id))
      case _ => None
    }
  }

  private def handle(ex: HttpExchange): Unit = try {
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    val method = ex.getRequestMethod
    (method, path.split("/").filter(_.nonEmpty).toList) match {
      case ("GET", List("ping")) => respond(ex, 200, "pong", "text/plain")
      case ("GET", List("ready")) =>
        // 503 when a registered streaming query died (api.go /ready doc:
        // connected-check over active streams; none active → 200)
        val dead = started.collect {
          case (id, (_, true)) if !registry.list.contains(id) => id }
        if (dead.isEmpty) respond(ex, 200, """{"ready":true}""")
        else respond(ex, 503, s"""{"ready":false,"dead":${
          dead.toSeq.sorted.map(jsonStr).mkString("[", ",", "]")}}""")
      case ("GET", List("version")) =>
        respond(ex, 200, s"""{"version":"graft-${BuildInfo.version}","built":"${BuildInfo.built}"}""")
      case ("GET", List("endpoints")) =>
        respond(ex, 200, endpointDocs.map { case (p, d) =>
          s"${jsonStr(p)}:${jsonStr(d)}" }.mkString("{", ",", "}"))
      case ("GET", List("debug", "stack")) =>
        val sb = new StringBuilder
        import scala.jdk.CollectionConverters._
        Thread.getAllStackTraces.asScala.toSeq
          .sortBy(_._1.getName).foreach { case (t, frames) =>
            sb.append(s"${t.getName} [${t.getState}]\n")
            frames.foreach(f => sb.append(s"  at $f\n"))
          }
        respond(ex, 200, sb.toString, "text/plain")
      case ("POST", List("resources", typ, id)) =>
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        Config.registerResource(typ, id, Config.yamlMap(body))
        respond(ex, 200, """{"status":"registered"}""")
      case ("GET", List("metrics")) | ("GET", List("stats")) =>
        respond(ex, 200, Metrics.prometheus,
          "text/plain; version=0.0.4; charset=utf-8")
      case ("GET", List("traces")) =>
        respond(ex, 200, Tracing.tracesJson)
      case ("GET", List("streams")) =>
        val items = started.keys.toSeq.sorted.map(id =>
          s"${jsonStr(id)}:${streamStatus(id).get}")
        respond(ex, 200, items.mkString("{", ",", "}"))
      case ("POST", List("streams")) =>
        // bulk replace (api.go HandleStreamsCRUD POST): body = map of
        // id -> stream config; the whole running set is swapped
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        val yaml = Config.safeYaml
        val set = yaml.load[Any](body).asInstanceOf[java.util.Map[String, Any]]
        started.keys.toSeq.foreach(stopStream)
        import scala.jdk.CollectionConverters._
        val results = set.asScala.toSeq.sortBy(_._1).map { case (id, conf) =>
          s"${jsonStr(id)}:${startStream(id, yaml.dump(conf))}"
        }
        respond(ex, 200, results.mkString("{", ",", "}"))
      case ("POST" | "PUT", List("streams", id)) =>
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        respond(ex, 200, startStream(id, body))
      case ("PATCH", List("streams", id)) =>
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        configsYaml.get(id) match {
          case None => respond(ex, 404, """{"error":"stream not found"}""")
          case Some(base) =>
            respond(ex, 200, startStream(id, Config.mergeYaml(base, body)))
        }
      case ("GET", List("streams", id)) =>
        streamStatus(id) match {
          case Some(s) => respond(ex, 200, s)
          case None => respond(ex, 404, """{"error":"stream not found"}""")
        }
      case ("POST", "streams" :: id :: rest)
          if pushSpecs.get(id).exists(_.pushPath.contains("/" + rest.mkString("/"))) =>
        // the push endpoint: body → one staged message → synchronous
        // pipeline run; a sync_response capture answers the request,
        // the (possibly further-transformed) message goes to the output
        val spec = pushSpecs(id)
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        graft.sources.Sources.HttpServerStage.stage(scala.Seq(body))
        try {
          val staged = spec.pipeline.foldLeft(spec.input(spark))((d, p) => p(d))
          import org.apache.spark.sql.functions.{col, element_at, lit}
          val syncParts = staged.select(element_at(
              col(graft.model.Envelope.Meta),
              lit(graft.ops.SyncResponseProc.MetaKey)).as("_s"))
            .collect().flatMap(r => Option(r.getString(0)))
          spec.output.write(staged)
          if (syncParts.nonEmpty)
            respond(ex, 200, syncParts.mkString("\n"), "application/octet-stream")
          else respond(ex, 200, """{"received":1}""")
        } finally graft.sources.Sources.HttpServerStage.clear()
      // dynamic-input CRUD (lib/input/dynamic.go REST surface): the
      // registered YAML fragment becomes a member of the `dynamic` input
      case ("POST", List("inputs", id)) =>
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        Config.DynamicInputs.set(id, Config.load(
          if (body.trim.startsWith("input:")) body else s"input:\n" +
            body.linesIterator.map("  " + _).mkString("\n") +
            "\noutput:\n  drop: {}\n").input)
        respond(ex, 200, """{"status":"registered"}""")
      case ("GET", List("inputs")) =>
        respond(ex, 200, Config.DynamicInputs.list
          .map(jsonStr).mkString("[", ",", "]"))
      case ("DELETE", List("inputs", id)) =>
        if (Config.DynamicInputs.remove(id))
          respond(ex, 200, """{"status":"removed"}""")
        else respond(ex, 404, """{"error":"input not found"}""")
      // dynamic-output CRUD (lib/output/dynamic.go REST surface): the
      // registered YAML fragment becomes a fan_out member of the
      // `dynamic` output. The reference registers these under the
      // output's `prefix` — a single leading segment before /outputs
      // is accepted as that prefix.
      case ("POST", DynOutPath(Some(id))) =>
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        graft.sinks.Sinks.DynamicOutputs.set(id, Config.loadOutput(body), body)
        respond(ex, 200, """{"status":"registered"}""")
      case ("GET", DynOutPath(None)) =>
        // GET /outputs: a JSON map of output id -> uptime (reference doc:
        // "a JSON map of output identifiers with their current uptimes")
        respond(ex, 200, graft.sinks.Sinks.DynamicOutputs.uptimes
          .map { case (n, ms) => s"${jsonStr(n)}:${jsonStr(s"${ms / 1000.0}s")}" }
          .mkString("{", ",", "}"))
      case ("GET", DynOutPath(Some(id))) =>
        graft.sinks.Sinks.DynamicOutputs.conf(id) match {
          case Some(c) => respond(ex, 200, c, "application/yaml")
          case None => respond(ex, 404, """{"error":"output not found"}""")
        }
      case ("DELETE", DynOutPath(Some(id))) =>
        if (graft.sinks.Sinks.DynamicOutputs.remove(id))
          respond(ex, 200, """{"status":"removed"}""")
        else respond(ex, 404, """{"error":"output not found"}""")
      case ("DELETE", List("streams", id)) =>
        val (existed, wasStreaming) = stopStream(id)
        if (existed)
          respond(ex, 200, s"""{"status":"stopped","was_active":$wasStreaming}""")
        else respond(ex, 404, """{"error":"stream not found"}""")
      case ("GET", List("streams", id, "stats")) =>
        if (!started.contains(id))
          respond(ex, 404, """{"error":"stream not found"}""")
        else respond(ex, 200, registry.stats(id).getOrElse("{}"))
      case ("GET", _) if graft.sinks.Sinks.HttpServe.has(path) =>
        // `http_server` OUTPUT endpoints (lib/output/http_server.go):
        // GET `path` serves ONE queued message; GET `stream_path`
        // drains everything queued, newline-joined (the continuous-
        // stream shape, adapted to request/response). The reference
        // blocks an empty `path` GET until a message arrives — a
        // single-threaded control plane can't park a request, so empty
        // answers 204 No Content instead.
        if (graft.sinks.Sinks.HttpServe.isStream(path)) {
          val msgs = graft.sinks.Sinks.HttpServe.drain(path)
          if (msgs.isEmpty) respond(ex, 204, "")
          else respond(ex, 200, msgs.mkString("", "\n", "\n"), "text/plain")
        } else graft.sinks.Sinks.HttpServe.pop(path) match {
          case Some(m) => respond(ex, 200, m, "application/octet-stream")
          case None => respond(ex, 204, "")
        }
      case _ => respond(ex, 404, """{"error":"not found"}""")
    }
  } catch {
    case e: Exception =>
      respond(ex, 400, s"""{"error":${jsonStr(String.valueOf(e.getMessage))}}""")
  }

  server.createContext("/", handle(_))
  server.setExecutor(null) // single-threaded: a control plane, not a data path

  def start(): ControlPlane = { server.start(); this }
  def stop(): Unit = { registry.stopAll(); server.stop(0) }
}
