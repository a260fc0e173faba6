package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Envelope
import graft.ops._
import graft.sinks.Sinks
import graft.sources.Sources
import graft.runtime.{Config, Metrics, PeriodicExporter}

/** Server-push inputs (tcp_server/udp_server), socket/udp outputs,
  * writer codecs, redis_list roundtrip, cache/sql/mongodb outputs, and
  * statsd export — all over loopback transports, no egress. */
class ServerIoSpec extends AnyFunSuite {
  lazy val spark = Sessions.builder("4").getOrCreate()
  import spark.implicits._

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  def env(rows: (Long, String)*) = Envelope.wrap(
    rows.toDF("id", "s"), scala.Seq(col("id")))

  test("tcp_server input reads one connection's lines; SocketSink feeds it") {
    spark.range(1).count() // force session init BEFORE the feeder's retry window
    val port = freePort()
    val feeder = new Thread(() => {
      var sent = false
      var attempts = 0
      while (!sent && attempts < 200) {
        try {
          val sock = new java.net.Socket("127.0.0.1", port)
          val w = new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8")
          w.write("alpha\nbeta\ngamma\n"); w.flush(); sock.close(); sent = true
        } catch {
          case _: java.net.ConnectException =>
            attempts += 1; Thread.sleep(100)
        }
      }
    })
    feeder.start()
    val got = Sources.tcpServer(spark, "127.0.0.1", port)
    assert(got.select(col(Envelope.Doc).cast("string")).as[String]
      .collect().toSeq == scala.Seq("alpha", "beta", "gamma"))
    feeder.join()
  }

  test("udp_server input collects datagrams until idle") {
    val port = freePort()
    val feeder = new Thread(() => {
      Thread.sleep(150)
      val sock = new java.net.DatagramSocket()
      val addr = java.net.InetAddress.getByName("127.0.0.1")
      for (m <- scala.Seq("one", "two")) {
        val b = m.getBytes("UTF-8")
        sock.send(new java.net.DatagramPacket(b, b.length, addr, port))
      }
      sock.close()
    })
    feeder.start()
    val got = Sources.udpServer(spark, "127.0.0.1", port, idleMs = 800)
    assert(got.select(col(Envelope.Doc).cast("string")).as[String]
      .collect().sorted.toSeq == scala.Seq("one", "two"))
    feeder.join()
  }

  test("SocketSink (udp) → udp_server roundtrip") {
    val port = freePort()
    val sinkThread = new Thread(() => {
      Thread.sleep(200)
      Sinks.SocketSink("127.0.0.1", port, "udp").write(
        env(1L -> "m1", 2L -> "m2")
          .withColumn(Envelope.Content, col("doc.s").cast("binary")))
    })
    sinkThread.start()
    val got = Sources.udpServer(spark, "127.0.0.1", port, idleMs = 1200)
    assert(got.count() == 2)
    sinkThread.join()
  }

  test("writer codecs: append concatenates, all-bytes one file per message, delim") {
    val base = java.nio.file.Files.createTempDirectory("graft-wcodec")
    val e = env(1L -> "aa", 2L -> "bb").coalesce(1)
      .withColumn(Envelope.Content, col("doc.s").cast("binary"))

    Sinks.FileSink(s"$base/append", "append").write(e)
    val appended = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$base/append")).toArray.map(_.toString)
      .filter(_.endsWith(".bin"))
      .flatMap(p => new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8"))
      .mkString
    assert(appended.sorted == "aabb".sorted)

    Sinks.FileSink(s"$base/ab", "all-bytes").write(e)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(s"$base/ab"))
      .toArray.map(_.toString).filter(_.endsWith(".bin")).sorted
    assert(files.length == 2)

    Sinks.FileSink(s"$base/delim", "delim:|").write(e)
    val joined = spark.read.option("lineSep", "|").text(s"$base/delim")
      .as[String].collect().filter(_.nonEmpty).sorted.toSeq
    assert(joined == scala.Seq("aa", "bb"))
  }

  test("redis_list: sink LPUSH then input drains in order") {
    FakeRedisServer.reset("redis://list1")
    val fac = FakeRedisFactory("redis://list1")
    RedisListSink(fac, "jobs").write(
      env(1L -> "j1", 2L -> "j2", 3L -> "j3")
        .withColumn(Envelope.Content, col("doc.s").cast("binary")))
    assert(fac.open().llen("jobs") == 3)
    val got = Sources.redisList(spark, fac, "jobs")
    // LPUSH + RPOP = FIFO: arrival order preserved per producer
    assert(got.count() == 3)
    assert(fac.open().llen("jobs") == 0)
  }

  test("cache + mongodb outputs write through their resources") {
    FakeRedisServer.reset("redis://out1")
    val store = new RedisCache(FakeRedisFactory("redis://out1"))
    graft.ops.CacheOps.Caches.register("out_kv", store)
    Sinks.CacheSink(store, "k-${! this.id }").write(env(7L -> "seven"))
    assert(FakeRedisFactory("redis://out1").open().get("k-7")
      .exists(_.contains("seven")))

    FakeMongoServer.reset("mongodb://out2", "db", "sunk")
    val spec = Config.load(
      """input:
        |  generate:
        |    count: 2
        |    mapping: 'root.n = this.i + 1'
        |output:
        |  mongodb:
        |    url: mongodb://out2
        |    database: db
        |    collection: sunk
        |    document_map: 'root.n = this.n'
        |""".stripMargin)
    spec.run(spark)
    val cli = FakeMongoFactory("mongodb://out2").open("db", "sunk")
    assert(cli.findOne("""{"n":1}""").isDefined)
    assert(cli.findOne("""{"n":2}""").isDefined)
  }

  test("statsd exporter flushes observation gauges over UDP") {
    Metrics.clear()
    val obs = Metrics.freshObservation("statsd_seen")
    spark.range(50).observe(obs, count(lit(1)).as("rows")).collect()

    val recv = new java.net.DatagramSocket(0)
    recv.setSoTimeout(3000)
    val exporter = PeriodicExporter.udp("statsd", s"127.0.0.1:${recv.getLocalPort}",
      100L)(Metrics.statsdLines("graft"))
    try {
      exporter.flush()
      val buf = new Array[Byte](2048)
      val pkt = new java.net.DatagramPacket(buf, buf.length)
      recv.receive(pkt)
      val line = new String(pkt.getData, 0, pkt.getLength, "UTF-8")
      assert(line == "graft.statsd_seen.rows:50.0|g")
    } finally { exporter.stop(); recv.close() }
  }

  private def statsdThreads: Set[Thread] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName == "graft-statsd" && t.isAlive).toSet
  }

  private def statsdConfig(metrics: String): String =
    s"""metrics:
       |$metrics
       |input:
       |  generate: {count: 1, mapping: 'root = {}'}
       |""".stripMargin

  test("two metrics loads leave one statsd exporter thread") {
    Metrics.clear()
    val yaml = statsdConfig(
      "  statsd:\n    address: 127.0.0.1:18126\n    flush_period: 100ms")
    try {
      Config.load(yaml)
      Config.load(yaml)
      assert(statsdThreads.size == 1)
    } finally Metrics.clear()
    assert(statsdThreads.isEmpty)
  }

  test("a load without metrics keeps the exporter and mapping; clear stops it") {
    Metrics.clear()
    val obs = Metrics.freshObservation("kept_seen")
    spark.range(3).observe(obs, count(lit(1)).as("rows")).collect()
    try {
      Config.load(statsdConfig(
        """  rename:
          |    by_regexp:
          |      - pattern: "^kept_seen"
          |        value: "renamed"
          |    child:
          |      statsd:
          |        address: 127.0.0.1:18126""".stripMargin))
      val running = statsdThreads
      assert(running.size == 1)
      Config.load("input:\n  generate: {count: 1, mapping: 'root = {}'}\n")
      assert(statsdThreads == running)
      assert(Metrics.statsdLines() == scala.Seq("graft.renamed.rows:3.0|g"))
    } finally Metrics.clear()
    assert(statsdThreads.isEmpty)
  }

  test("config lint: server inputs, writer codecs, statsd, new outputs") {
    val spec = Config.load(
      """metrics:
        |  statsd:
        |    address: 127.0.0.1:18125
        |    flush_period: 100ms
        |input:
        |  tcp_server:
        |    address: 127.0.0.1:19999
        |output:
        |  file:
        |    path: /tmp/graft-wc-out
        |    codec: append
        |""".stripMargin)
    assert(spec.output.isInstanceOf[Sinks.FileSink])
    val spec2 = Config.load(
      """input:
        |  redis_list:
        |    url: redis://lint
        |    key: q
        |output:
        |  socket:
        |    address: 127.0.0.1:12345
        |""".stripMargin)
    assert(spec2.output.isInstanceOf[Sinks.SocketSink])
    val spec3 = Config.load(
      """input:
        |  websocket:
        |    url: ws://127.0.0.1:1/stream
        |output:
        |  subprocess:
        |    name: cat
        |""".stripMargin)
    assert(spec3.output.isInstanceOf[Sinks.SubprocessSink])
    Metrics.clear() // stop the statsd exporter the first config started
  }

  test("inproc handoff + named input/output resources") {
    Sinks.Inproc.clear()
    // pipeline 1 writes to inproc; pipeline 2 reads it via the resource
    val p1 = Config.load(
      """resources:
        |  outputs:
        |    sink_a:
        |      inproc: chan1
        |input:
        |  generate:
        |    count: 3
        |    mapping: 'root.v = this.i * 10'
        |output:
        |  resource: sink_a
        |""".stripMargin)
    p1.run(spark)
    val p2 = Config.load(
      """resources:
        |  inputs:
        |    src_a:
        |      inproc: chan1
        |input:
        |  resource: src_a
        |pipeline:
        |  processors:
        |    - bloblang: 'root.v2 = this.v + 1'
        |output:
        |  drop: {}
        |""".stripMargin)
    val out = p2.pipeline.foldLeft(p2.input(spark))((d, pr) => pr(d))
    assert(out.select(col("doc.v2")).as[Long].collect().sorted.toSeq ==
      scala.Seq(1L, 11L, 21L))
  }

  test("dynamic input: REST-registered members union at plan time") {
    val api = new graft.runtime.ControlPlane(spark).start()
    val base = s"http://localhost:${api.boundPort}"
    def http(method: String, url: String, body: String = null): (Int, String) = {
      val conn = new java.net.URI(url).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod(method)
      if (body != null) { conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes("UTF-8")) }
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val text = if (is == null) "" else new String(is.readAllBytes(), "UTF-8")
      conn.disconnect(); (code, text)
    }
    try {
      http("POST", s"$base/inputs/gen_a",
        "generate:\n  count: 2\n  mapping: 'root.v = 1'\n")
      http("POST", s"$base/inputs/gen_b",
        "generate:\n  count: 3\n  mapping: 'root.v = 2'\n")
      assert(http("GET", s"$base/inputs")._2.contains("gen_a"))
      val spec = Config.load(
        "input:\n  dynamic: {}\npipeline:\n  processors:\n    - noop: {}\noutput:\n  drop: {}\n")
      assert(spec.input(spark).count() == 5)
      assert(http("DELETE", s"$base/inputs/gen_b")._1 == 200)
      assert(spec.input(spark).count() == 2)
    } finally {
      Config.DynamicInputs.remove("gen_a"); Config.DynamicInputs.remove("gen_b")
      api.stop()
    }
  }

  test("dynamic output: static `outputs` map + REST CRUD fan_out") {
    val api = new graft.runtime.ControlPlane(spark).start()
    val base = s"http://localhost:${api.boundPort}"
    def http(method: String, url: String, body: String = null): (Int, String) = {
      val conn = new java.net.URI(url).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod(method)
      if (body != null) { conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes("UTF-8")) }
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val text = if (is == null) "" else new String(is.readAllBytes(), "UTF-8")
      conn.disconnect(); (code, text)
    }
    try {
      // the static `outputs` map (lib/output/dynamic.go Config.Outputs)
      // compiles and registers members at LOAD time
      val spec = Config.load(
        """input:
          |  generate:
          |    count: 3
          |    mapping: 'root.v = 7'
          |output:
          |  dynamic:
          |    outputs:
          |      stat_a:
          |        inproc: dynout_a
          |""".stripMargin)
      assert(Sinks.DynamicOutputs.list.contains("stat_a"))
      // CRUD a second member; a write must fan out to BOTH
      assert(http("POST", s"$base/outputs/crud_b", "inproc: dynout_b")._1 == 200)
      assert(http("GET", s"$base/outputs")._2.contains("crud_b"))
      assert(http("GET", s"$base/outputs/crud_b")._2.contains("dynout_b"))
      val staged = spec.pipeline.foldLeft(spec.input(spark))((d, p) => p(d))
      spec.output.write(staged)
      assert(Sinks.Inproc.get("dynout_a").count() == 3)
      assert(Sinks.Inproc.get("dynout_b").count() == 3)
      assert(http("DELETE", s"$base/outputs/crud_b")._1 == 200)
      assert(http("GET", s"$base/outputs/crud_b")._1 == 404)
      // prefixed endpoint spelling reaches the same registry
      assert(http("POST", s"$base/myprefix/outputs/crud_c", "inproc: dynout_c")._1 == 200)
      assert(Sinks.DynamicOutputs.list.contains("crud_c"))
    } finally {
      Sinks.DynamicOutputs.list.foreach(Sinks.DynamicOutputs.remove)
      Sinks.Inproc.clear()
      api.stop()
    }
  }

  test("websocket output lints; kafka_balanced aliases kafka") {
    val s1 = Config.load(
      "input:\n  generate:\n    count: 1\n    mapping: 'root.x = 1'\noutput:\n  websocket:\n    url: ws://127.0.0.1:1/out\n")
    assert(s1.output.isInstanceOf[Sinks.WebsocketSink])
    val s2 = Config.load(
      "input:\n  kafka_balanced:\n    addresses: [h:9092]\n    topics: [t]\n    batch: true\noutput:\n  drop: {}\n")
    assert(s2.pipeline.isEmpty)
  }
}
