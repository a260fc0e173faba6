package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.runtime.{Config, ControlPlane, Metrics, Tracing}

/** Control-plane REST API (lib/stream/manager/api.go surface) + the
  * prometheus rendering of df.observe metrics. */
class ApiSpec extends AnyFunSuite {
  lazy val spark = Sessions.builder("4").getOrCreate()

  def http(method: String, url: String, body: String = null): (Int, String) = {
    val conn = new java.net.URI(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod(method)
    if (body != null) {
      conn.setDoOutput(true)
      conn.getOutputStream.write(body.getBytes("UTF-8"))
    }
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text = if (is == null) "" else new String(is.readAllBytes(), "UTF-8")
    conn.disconnect()
    (code, text)
  }

  test("lifecycle: ready, create, list, status, stats, delete") {
    val api = new ControlPlane(spark).start()
    val base = s"http://localhost:${api.boundPort}"
    try {
      assert(http("GET", s"$base/ping")._2 == "pong")
      assert(http("GET", s"$base/ready")._1 == 200)

      // create a (batch) stream from YAML
      val (code, _) = http("POST", s"$base/streams/job1",
        """input:
          |  generate:
          |    count: 5
          |    mapping: "root.i = this.i"
          |output:
          |  drop: {}
          |""".stripMargin)
      assert(code == 200)

      val (_, list) = http("GET", s"$base/streams")
      assert(list.contains("\"job1\""))
      val (sCode, status) = http("GET", s"$base/streams/job1")
      assert(sCode == 200 && status.contains("\"streaming\":false"))

      // a real streaming stream: rate-source generate → drop
      val (cCode, _) = http("POST", s"$base/streams/job2",
        """input:
          |  generate_stream:
          |    rows_per_second: 5
          |    mapping: "root.v = this.i"
          |output:
          |  drop: {}
          |""".stripMargin)
      assert(cCode == 200)
      assert(http("GET", s"$base/streams/job2")._2.contains("\"active\":true"))
      // stats: JSON (may be {} before the first progress event)
      assert(http("GET", s"$base/streams/job2/stats")._1 == 200)
      assert(http("DELETE", s"$base/streams/job2")._1 == 200)
      assert(http("GET", s"$base/streams/job2")._1 == 404)

      assert(http("GET", s"$base/streams/nope")._1 == 404)
      assert(http("POST", s"$base/streams/bad", "not: [valid")._1 == 400)
    } finally api.stop()
  }

  test("version, endpoints, stack, resource CRUD, put/patch, bulk set") {
    val api = new ControlPlane(spark).start()
    val base = s"http://localhost:${api.boundPort}"
    val batchCfg =
      """input:
        |  generate:
        |    count: 3
        |    mapping: "root.i = this.i"
        |output:
        |  drop: {}
        |""".stripMargin
    def patch(url: String, body: String): Int = {
      val client = java.net.http.HttpClient.newHttpClient()
      client.send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .method("PATCH", java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
    }
    try {
      assert(http("GET", s"$base/version")._2.contains("graft-"))
      val eps = http("GET", s"$base/endpoints")._2
      assert(eps.contains("/resources/{type}/{id}") && eps.contains("/streams/{id}"))
      assert(http("GET", s"$base/debug/stack")._2.contains("at "))

      // resource CRUD: cache + rate_limit registries observe the POST
      assert(http("POST", s"$base/resources/cache/api_c1", "memory: {}")._1 == 200)
      import spark.implicits._
      val store = graft.ops.CacheOps.Caches("api_c1")
      store.upsert(Seq(("k", "v")).toDF("key", "value"))
      assert(store.snapshot(spark).collect().map(r => (r.getString(0), r.getString(1)))
        .toSeq == Seq(("k", "v")))
      assert(http("POST", s"$base/resources/rate_limit/api_rl1",
        "local:\n  count: 5\n  interval: 1s")._1 == 200)
      assert(graft.ops.RateLimits.configFor("api_rl1") == 5.0)
      assert(http("POST", s"$base/resources/nope/x", "a: 1")._1 == 400)

      // PUT create-or-replace; PATCH section-merge restart
      assert(http("PUT", s"$base/streams/pj", batchCfg)._1 == 200)
      assert(http("GET", s"$base/streams/pj")._1 == 200)
      assert(patch(s"$base/streams/pj",
        "output:\n  drop: {}\n") == 200)
      assert(patch(s"$base/streams/ghost", "output:\n  drop: {}\n") == 404)

      // bulk replace: the whole set becomes {a, b}; pj is gone
      val (bc, bb) = http("POST", s"$base/streams",
        s"""a:
           |  input:
           |    generate:
           |      count: 2
           |      mapping: "root.x = this.i"
           |  output:
           |    drop: {}
           |b:
           |  input:
           |    generate:
           |      count: 2
           |      mapping: "root.y = this.i"
           |  output:
           |    drop: {}
           |""".stripMargin)
      assert(bc == 200 && bb.contains("\"a\"") && bb.contains("\"b\""))
      val list = http("GET", s"$base/streams")._2
      assert(list.contains("\"a\"") && list.contains("\"b\"") && !list.contains("\"pj\""))
    } finally api.stop()
  }

  test("tracer: spans per processor + spark jobs, served at /traces") {
    Tracing.clear()
    val spec = Config.load(
      """tracer:
        |  jaeger:
        |    agent_address: localhost:6831
        |input:
        |  generate:
        |    count: 50
        |    mapping: "root.i = this.i"
        |pipeline:
        |  processors:
        |    - bloblang: "root.double = this.i * 2"
        |output:
        |  stdout: {}
        |""".stripMargin)
    try {
      spec.run(spark)
      val spans = Tracing.spans
      assert(spans.exists(_.operation == "pipeline"))
      assert(spans.exists(_.operation == "BloblangProc"))
      assert(spans.exists(_.operation.startsWith("spark job")),
        s"no job span in ${spans.map(_.operation)}")
      // processor span is a child of the pipeline root
      val root = spans.find(_.operation == "pipeline").get
      val proc = spans.find(_.operation == "BloblangProc").get
      assert(proc.parentId.contains(root.id) && proc.traceId == root.traceId)

      val api = new ControlPlane(spark).start()
      try {
        val (code, text) =
          http("GET", s"http://localhost:${api.boundPort}/traces")
        assert(code == 200)
        assert(text.contains("\"operationName\":\"pipeline\""))
        assert(text.contains("CHILD_OF"))
      } finally api.stop()
    } finally {
      Tracing.disable()
      Tracing.detachJobListener()
      Tracing.clear()
    }
  }

  test("prometheus rendering of df.observe metrics") {
    Metrics.clear()
    val obs = Metrics.freshObservation("events_seen")
    val df = spark.range(100).observe(obs,
      count(lit(1)).as("rows"), sum(col("id")).as("id_sum"))
    df.collect()
    val api = new ControlPlane(spark).start()
    try {
      val (code, text) =
        http("GET", s"http://localhost:${api.boundPort}/metrics")
      assert(code == 200)
      assert(text.contains("graft_events_seen_rows 100.0"))
      assert(text.contains("graft_events_seen_id_sum 4950.0"))
      assert(text.contains("# TYPE graft_events_seen_rows gauge"))
    } finally api.stop()
  }

  test("metrics wrappers: whitelist / blacklist / rename / path_mapping") {
    Metrics.clear()
    val obs = Metrics.freshObservation("events_seen")
    spark.range(10).observe(obs, count(lit(1)).as("rows"),
      sum(col("id")).as("id_sum")).collect()
    try {
      // whitelist by prefix keeps only matching dotted paths
      val yamlW =
        """whitelist:
          |  paths: [events_seen.rows]
          |  child:
          |    prometheus: {}
          |""".stripMargin
      graft.runtime.Config.load(
        "input:\n  generate:\n    count: 1\n    mapping: 'root = {}'\n" +
        "output:\n  drop: {}\nmetrics:\n" + yamlW.linesIterator.map("  " + _).mkString("\n"))
      val prom1 = Metrics.prometheus
      assert(prom1.contains("graft_events_seen_rows"), prom1)
      assert(!prom1.contains("id_sum"), prom1)
      // rename by_regexp rewrites the dotted path
      graft.runtime.Config.load(
        """input:
          |  generate: {count: 1, mapping: 'root = {}'}
          |output:
          |  drop: {}
          |metrics:
          |  rename:
          |    by_regexp:
          |      - pattern: "^events_seen\\.(.*)$"
          |        value: "evt.$1"
          |    child:
          |      prometheus: {}
          |""".stripMargin)
      val prom2 = Metrics.prometheus
      assert(prom2.contains("graft_evt_rows"), prom2)
      // path_mapping bloblang: delete id_sum, prefix the rest
      graft.runtime.Config.load(
        """input:
          |  generate: {count: 1, mapping: 'root = {}'}
          |output:
          |  drop: {}
          |metrics:
          |  prometheus:
          |    path_mapping: |
          |      root = if this.contains("id_sum") { deleted() } else { "app." + this }
          |""".stripMargin)
      val prom3 = Metrics.prometheus
      assert(prom3.contains("graft_app_events_seen_rows"), prom3)
      assert(!prom3.contains("id_sum"), prom3)
    } finally Metrics.clear()
  }

  test("a metrics load builds its path mapping from scratch: rename, then whitelist") {
    Metrics.clear()
    val obs = Metrics.freshObservation("events_seen")
    spark.range(10).observe(obs, count(lit(1)).as("rows"),
      sum(col("id")).as("id_sum")).collect()
    def load(metrics: String): Unit = Config.load(
      "input:\n  generate: {count: 1, mapping: 'root = {}'}\nmetrics:\n" + metrics)
    try {
      load("""  rename:
             |    by_regexp:
             |      - pattern: "^events_seen\\.(.*)$"
             |        value: "evt.$1"
             |    child:
             |      prometheus: {}
             |""".stripMargin)
      assert(Metrics.prometheus.contains("graft_evt_rows"))
      load("""  whitelist:
             |    paths: [events_seen.rows]
             |    child:
             |      prometheus: {}
             |""".stripMargin)
      assert(Metrics.prometheus ==
        "# TYPE graft_events_seen_rows gauge\ngraft_events_seen_rows 10.0\n")
    } finally Metrics.clear()
  }

  test("http_server input: push a batch through a pipeline; sync_response answers") {
    val api = new ControlPlane(spark).start()
    val base = s"http://localhost:${api.boundPort}"
    try {
      // register a push-input pipeline: uppercase, capture as the
      // response, then keep transforming toward the output
      val (code, created) = http("POST", s"$base/streams/push1",
        """input:
          |  http_server:
          |    path: /post
          |pipeline:
          |  processors:
          |    - bloblang: 'root = content().string().uppercase()'
          |    - sync_response: {}
          |    - bloblang: 'root = content().string() + "-stored"'
          |output:
          |  drop: {}
          |""".stripMargin)
      assert(code == 200 && created.contains("/streams/push1/post"))

      // the POST is answered by the sync_response capture (uppercased),
      // NOT the post-capture transform
      val (pCode, pBody) = http("POST", s"$base/streams/push1/post", "hello world")
      assert(pCode == 200)
      assert(pBody == "HELLO WORLD")

      // without sync_response the endpoint acks receipt
      http("POST", s"$base/streams/push2",
        """input:
          |  http_server: {}
          |output:
          |  drop: {}
          |""".stripMargin)
      val (aCode, aBody) = http("POST", s"$base/streams/push2/post", "x")
      assert(aCode == 200 && aBody.contains("received"))

      // unknown push path → 404
      assert(http("POST", s"$base/streams/push1/nope", "x")._1 == 404)
    } finally api.stop()
  }

  test("http_server OUTPUT: GET path pops one message, stream_path drains, empty is 204") {
    import spark.implicits._
    val api = new ControlPlane(spark).start()
    val base = s"http://localhost:${api.boundPort}"
    try {
      val env = graft.model.Envelope.wrapUnordered(
        scala.Seq("alpha", "beta").toDF("m"))
      graft.sinks.Sinks.HttpServeSink("/served", "/served/all").write(env)
      // one message per GET, shared queue with the stream path
      val (c1, b1) = http("GET", s"$base/served")
      assert(c1 == 200 && (b1.contains("alpha") || b1.contains("beta")))
      val (c2, b2) = http("GET", s"$base/served/all")
      assert(c2 == 200 && b2.nonEmpty && b2 != b1)
      // exhausted → 204 (the reference blocks; a control plane can't)
      assert(http("GET", s"$base/served")._1 == 204)
      assert(http("GET", s"$base/served/all")._1 == 204)
    } finally api.stop()
  }
}
