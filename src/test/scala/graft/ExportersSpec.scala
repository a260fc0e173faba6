package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.runtime._

/** Export-breadth surfaces: influx line protocol, CloudWatch EMF, and the
  * jaeger thrift-compact agent wire format. The jaeger test decodes the
  * datagram with an INDEPENDENT compact-protocol reader written from the
  * public Thrift spec — a true round trip, not an encoder echo. */
class ExportersSpec extends AnyFunSuite {
  lazy val spark = Sessions.builder("4").getOrCreate()

  // --- minimal thrift compact reader (public spec) -----------------------
  private class CompactReader(b: Array[Byte]) {
    var pos = 0
    def u8(): Int = { val v = b(pos) & 0xff; pos += 1; v }
    def varint(): Long = {
      var shift = 0; var r = 0L; var x = 0
      do { x = u8(); r |= (x & 0x7fL) << shift; shift += 7 } while ((x & 0x80) != 0)
      r
    }
    def zigzag(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1L) }
    def string(): String = {
      val n = varint().toInt
      val s = new String(b, pos, n, "UTF-8"); pos += n; s
    }
    def readValue(tpe: Int): Any = tpe match {
      case 1 => true
      case 2 => false
      case 3 => u8()
      case 4 | 5 | 6 => zigzag()
      case 8 => string()
      case 9 | 10 =>
        val h = u8(); val et = h & 0x0f
        val n = if ((h >> 4) == 15) varint().toInt else (h >> 4)
        (0 until n).map(_ => readValue(et)).toList
      case 12 => readStruct()
      case other => fail(s"unexpected compact type $other at $pos")
    }
    def readStruct(): Map[Int, Any] = {
      var last = 0
      val m = scala.collection.mutable.Map[Int, Any]()
      var done = false
      while (!done) {
        val head = u8()
        if (head == 0) done = true
        else {
          val tpe = head & 0x0f
          val delta = (head >> 4) & 0x0f
          val id = if (delta != 0) last + delta else zigzag().toInt
          last = id
          m(id) = readValue(tpe)
        }
      }
      m.toMap
    }
  }

  test("jaeger emitBatch datagram round-trips through an independent compact reader") {
    val spans = scala.Seq(
      Tracing.Span(7L, None, 99L, "pipeline", 1000L, 5000L,
        Map("component" -> "graft")),
      Tracing.Span(8L, Some(7L), 99L, "spark job 0", 1200L, 4200L, Map.empty))
    val rep = new JaegerUdpReporter("127.0.0.1", 1, serviceName = "graft-test")
    val bytes = try rep.encodeBatch(spans) finally rep.close()

    val r = new CompactReader(bytes)
    assert(r.u8() == 0x82, "compact protocol id")
    assert(r.u8() == 0x81, "version 1 | oneway<<5")
    r.varint() // seqid
    assert(r.string() == "emitBatch")
    val args = r.readStruct()
    val batch = args(1).asInstanceOf[Map[Int, Any]]
    val process = batch(1).asInstanceOf[Map[Int, Any]]
    assert(process(1) == "graft-test")
    val got = batch(2).asInstanceOf[List[Any]].map(_.asInstanceOf[Map[Int, Any]])
    assert(got.map(s => (s(1), s(3), s(4), s(5), s(8), s(9))) == List(
      (99L, 7L, 0L, "pipeline", 1000L, 4000L),
      (99L, 8L, 7L, "spark job 0", 1200L, 3000L)))
    val tags = got.head(10).asInstanceOf[List[Any]]
      .map(_.asInstanceOf[Map[Int, Any]])
    assert(tags.map(t => (t(1), t(2), t(3))) == List(("component", 0L, "graft")))
    assert(r.pos == bytes.length, "reader consumed every byte")
  }

  test("jaeger reporter sends over loopback UDP; tracer config wires the hook") {
    Tracing.clear()
    val recv = new java.net.DatagramSocket(0)
    recv.setSoTimeout(5000)
    try {
      runtime.Config.load(
        s"""tracer:
           |  jaeger:
           |    agent_address: 127.0.0.1:${recv.getLocalPort}
           |    service_name: graft-spec
           |input:
           |  generate:
           |    count: 1
           |    mapping: 'root.i = this.i'
           |""".stripMargin)
      Tracing.span("root-op") { () }
      val buf = new Array[Byte](65536)
      val pkt = new java.net.DatagramPacket(buf, buf.length)
      recv.receive(pkt)
      val r = new CompactReader(java.util.Arrays.copyOf(pkt.getData, pkt.getLength))
      assert(r.u8() == 0x82 && r.u8() == 0x81)
      r.varint()
      assert(r.string() == "emitBatch")
      val batch = r.readStruct()(1).asInstanceOf[Map[Int, Any]]
      assert(batch(1).asInstanceOf[Map[Int, Any]](1) == "graft-spec")
      val ops = batch(2).asInstanceOf[List[Any]]
        .map(_.asInstanceOf[Map[Int, Any]](5))
      assert(ops == List("root-op"))
    } finally {
      recv.close(); noTracer(); Tracing.clear()
    }
  }

  // a `tracer: none` load disables tracing and drops the jaeger reporter
  private def noTracer(): Unit = runtime.Config.load(
    "tracer:\n  none: {}\ninput:\n  generate: {count: 1, mapping: 'root = {}'}\n")

  test("a second jaeger tracer load replaces the reporter: each trace is sent once") {
    Tracing.clear()
    val recv = new java.net.DatagramSocket(0)
    try {
      val yaml = s"""tracer:
           |  jaeger:
           |    agent_address: 127.0.0.1:${recv.getLocalPort}
           |input:
           |  generate: {count: 1, mapping: 'root = {}'}
           |""".stripMargin
      runtime.Config.load(yaml)
      runtime.Config.load(yaml)
      Tracing.span("once") { () }
      val buf = new Array[Byte](65536)
      recv.setSoTimeout(5000)
      recv.receive(new java.net.DatagramPacket(buf, buf.length))
      recv.setSoTimeout(1000)
      intercept[java.net.SocketTimeoutException] {
        recv.receive(new java.net.DatagramPacket(buf, buf.length))
      }
    } finally {
      recv.close(); noTracer(); Tracing.clear()
    }
  }

  test("influx line protocol renders observation gauges; UDP flush delivers") {
    Metrics.clear()
    val obs = Metrics.freshObservation("influx_seen")
    spark.range(25).observe(obs, count(lit(1)).as("rows")).collect()
    val lines = InfluxMetrics.lines("graft", tsNanos = 123L)
    assert(lines == scala.Seq("graft,obs=influx_seen rows=25i 123"))

    val recv = new java.net.DatagramSocket(0)
    recv.setSoTimeout(3000)
    val exp = PeriodicExporter.udp("influxdb", s"127.0.0.1:${recv.getLocalPort}", 1000L)(
      InfluxMetrics.lines("graft", System.currentTimeMillis() * 1000000L))
    try {
      exp.flush()
      val buf = new Array[Byte](2048)
      val pkt = new java.net.DatagramPacket(buf, buf.length)
      recv.receive(pkt)
      val line = new String(pkt.getData, 0, pkt.getLength, "UTF-8")
      assert(line.startsWith("graft,obs=influx_seen rows=25i "))
    } finally { exp.stop(); recv.close() }
  }

  test("cloudwatch EMF objects carry the _aws metadata block") {
    Metrics.clear()
    val obs = Metrics.freshObservation("emf_seen")
    spark.range(9).observe(obs, count(lit(1)).as("rows")).collect()
    val out = InfluxMetrics.emfJson("graftns", tsMillis = 555L)
    assert(out == scala.Seq(
      """{"_aws":{"Timestamp":555,"CloudWatchMetrics":[{"Namespace":"graftns",""" +
        """"Dimensions":[["obs"]],"Metrics":[{"Name":"rows"}]}]},"obs":"emf_seen","rows":9}"""))
    // and it parses as JSON through the engine's own parser surface
    val parsed = spark.range(1).select(
      get_json_object(lit(out.head), "$._aws.Timestamp").as("ts"),
      get_json_object(lit(out.head), "$.rows").as("rows")).head()
    assert(parsed.getString(0) == "555" && parsed.getString(1) == "9")
  }

  test("whitelist and rename wrappers reach influx lines and EMF JSON") {
    Metrics.clear()
    val obs = Metrics.freshObservation("wrapped")
    spark.range(4).observe(obs, count(lit(1)).as("rows"),
      sum(col("id")).as("id_sum")).collect()
    try {
      runtime.Config.load(
        """metrics:
          |  whitelist:
          |    paths: [wrapped.rows]
          |    child:
          |      rename:
          |        by_regexp:
          |          - pattern: "^wrapped\\."
          |            value: "kept."
          |        child:
          |          prometheus: {}
          |input:
          |  generate: {count: 1, mapping: 'root = {}'}
          |""".stripMargin)
      assert(InfluxMetrics.lines("graft", tsNanos = 7L) ==
        scala.Seq("graft,obs=kept rows=4i 7"))
      assert(InfluxMetrics.emfJson("ns", tsMillis = 8L) == scala.Seq(
        """{"_aws":{"Timestamp":8,"CloudWatchMetrics":[{"Namespace":"ns",""" +
          """"Dimensions":[["obs"]],"Metrics":[{"Name":"rows"}]}]},"obs":"kept","rows":4}"""))
    } finally Metrics.clear()
  }
}
