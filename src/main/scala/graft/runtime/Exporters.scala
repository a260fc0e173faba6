package graft.runtime

/** Metrics/trace export breadth beyond prometheus + statsd
  * (`lib/metrics/constructor.go:74-84`, `lib/tracer/jaeger.go`):
  *
  *  - InfluxDB line protocol over UDP (the influxdb metrics sink)
  *  - CloudWatch Embedded Metric Format (EMF) JSON — the egress-free
  *    CloudWatch path: EMF lines on stdout/logs are ingested by the
  *    CloudWatch agent/Lambda runtime, so no SDK or network client is
  *    needed (the aws_cloudwatch sink's deploy shape in this image)
  *  - Jaeger thrift-compact UDP reporter: the REAL agent wire format
  *    (jaeger-idl `jaeger.thrift` over the compact protocol, agent port
  *    6831), emitting `emitBatch` oneway messages — replacing the
  *    in-proc-JSON-only trace surface for deployments with an agent.
  *
  * All formats are public protocol specs implemented from scratch.
  */
object InfluxMetrics {

  private def esc(s: String) =
    s.replace("\\", "\\\\").replace(" ", "\\ ").replace(",", "\\,").replace("=", "\\=")

  /** [[Metrics.snapshot]] grouped per observation: the mapped path up to
    * its last `.` names the observation, the rest the field (a path with
    * no `.` is one observation with a `value` field). */
  private def byObservation: scala.Seq[(String, scala.Seq[(String, java.lang.Number)])] =
    Metrics.snapshot.map { case (p, v) =>
      val i = p.lastIndexOf('.')
      if (i < 0) (p, ("value", v)) else (p.take(i), (p.drop(i + 1), v))
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (n, fs) => n -> fs.map(_._2) }

  /** Influx line protocol: one `<measurement>,obs=<name> <k>=<v>,...
    * <ts_ns>` line per observation. */
  def lines(measurement: String = "graft", tsNanos: Long): scala.Seq[String] =
    byObservation.map { case (n, fields) =>
      val kv = fields.map {
        case (k, x @ (_: java.lang.Long | _: java.lang.Integer)) => s"${esc(k)}=${x.longValue}i"
        case (k, x) => s"${esc(k)}=${x.doubleValue}"
      }
      s"${esc(measurement)},obs=${esc(n)} ${kv.mkString(",")} $tsNanos"
    }

  /** CloudWatch EMF: one JSON object per observation with the `_aws`
    * metadata block declaring namespace/dimensions/metrics. Written to a
    * log stream (stdout by default) — the agent-side ingestion contract. */
  def emfJson(namespace: String = "graft", tsMillis: Long): scala.Seq[String] = {
    import graft.ops.JsonProc.quote
    byObservation.map { case (n, fields) =>
      val metricDefs = fields.map { case (k, _) => s"""{"Name":${quote(k)}}""" }
        .mkString("[", ",", "]")
      val values = fields.map { case (k, x) =>
        val v = x.doubleValue
        val r = if (v == v.floor && math.abs(v) < 1e15) v.toLong.toString else v.toString
        s"${quote(k)}:$r"
      }.mkString(",")
      s"""{"_aws":{"Timestamp":$tsMillis,"CloudWatchMetrics":[""" +
        s"""{"Namespace":${quote(namespace)},"Dimensions":[["obs"]],""" +
        s""""Metrics":$metricDefs}]},"obs":${quote(n)},$values}"""
    }
  }
}

/** A daemon thread named `name` that runs `flush` every `periodMs` until
  * [[stop]], which waits for the thread to end and then runs `close` —
  * the one loop behind the statsd, influxdb and cloudwatch sinks. */
final class PeriodicExporter(name: String, periodMs: Long,
    val flush: () => Unit, close: () => Unit = () => ()) {
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      flush()
      try Thread.sleep(periodMs) catch { case _: InterruptedException => }
    }
  }, name)
  thread.setDaemon(true)

  def start(): PeriodicExporter = { thread.start(); this }
  def stop(): Unit = {
    running = false; thread.interrupt(); thread.join(5000); close()
  }
}

object PeriodicExporter {
  /** Send each of `lines` as one UDP datagram to `address` (`host:port`)
    * — the statsd and influx UDP listener transport. */
  def udp(name: String, address: String, periodMs: Long)(
      lines: => scala.Seq[String]): PeriodicExporter = {
    val hp = address.split(":", 2)
    require(hp.length == 2, s"metrics $name: address must be host:port")
    val (addr, port) = (java.net.InetAddress.getByName(hp(0)), hp(1).toInt)
    val sock = new java.net.DatagramSocket()
    new PeriodicExporter(s"graft-$name", periodMs, () => lines.foreach { line =>
      val b = line.getBytes("UTF-8")
      sock.send(new java.net.DatagramPacket(b, b.length, addr, port))
    }, () => sock.close())
  }
}

/** Thrift compact-protocol writer — the subset the jaeger agent wire
  * format needs (struct/list/i32/i64/string/double fields, oneway
  * message framing). Implemented from the public Thrift compact spec. */
final class ThriftCompactWriter {
  private val buf = new java.io.ByteArrayOutputStream()
  private var lastFieldId = List(0) // per-struct field-id stack

  def bytes: Array[Byte] = buf.toByteArray

  private def writeByte(b: Int): Unit = buf.write(b & 0xff)
  private def writeVarint(v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) { writeByte(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    writeByte(v.toInt)
  }
  private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)

  /** Message header for a oneway call (jaeger emitBatch). */
  def beginOnewayMessage(name: String, seqId: Int): Unit = {
    writeByte(0x82)               // COMPACT protocol id
    writeByte(0x01 | (4 << 5))    // version 1, message type ONEWAY(4)
    writeVarint(seqId.toLong & 0xffffffffL)
    writeString(name)
  }

  def writeString(s: String): Unit = {
    val b = s.getBytes("UTF-8")
    writeVarint(b.length.toLong)
    buf.write(b, 0, b.length)
  }

  private def fieldHeader(id: Int, tpe: Int): Unit = {
    val delta = id - lastFieldId.head
    if (delta > 0 && delta <= 15) writeByte((delta << 4) | tpe)
    else { writeByte(tpe); writeVarint(zigzag(id.toLong)) }
    lastFieldId = id :: lastFieldId.tail
  }

  def beginStruct(): Unit = { lastFieldId = 0 :: lastFieldId }
  def endStruct(): Unit = { writeByte(0); lastFieldId = lastFieldId.tail }

  def structField(id: Int): Unit = { fieldHeader(id, 12); beginStruct() }
  def i64Field(id: Int, v: Long): Unit = { fieldHeader(id, 6); writeVarint(zigzag(v)) }
  def i32Field(id: Int, v: Int): Unit = { fieldHeader(id, 5); writeVarint(zigzag(v.toLong)) }
  def stringField(id: Int, v: String): Unit = { fieldHeader(id, 8); writeString(v) }
  def listField(id: Int, elemType: Int, size: Int): Unit = {
    fieldHeader(id, 9)
    if (size < 15) writeByte((size << 4) | elemType)
    else { writeByte(0xF0 | elemType); writeVarint(size.toLong) }
  }
}

/** Jaeger agent reporter: encodes [[Tracing.Span]]s as thrift-compact
  * `emitBatch(Batch)` oneway messages and sends them as UDP datagrams to
  * the agent (default port 6831) — the jaeger client library wire
  * contract, so a stock agent/collector ingests these directly. */
final class JaegerUdpReporter(host: String, port: Int,
    serviceName: String = "graft", maxSpansPerPacket: Int = 64) {
  private val sock = new java.net.DatagramSocket()
  private val addr = java.net.InetAddress.getByName(host)
  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Encode one emitBatch message (exposed for the round-trip spec). */
  def encodeBatch(spans: scala.Seq[Tracing.Span]): Array[Byte] = {
    val w = new ThriftCompactWriter
    w.beginOnewayMessage("emitBatch", seq.incrementAndGet())
    w.beginStruct()                 // emitBatch args
    w.structField(1)                // 1: Batch
    w.structField(1)                //   1: Process
    w.stringField(1, serviceName)   //     1: serviceName
    w.endStruct()
    w.listField(2, 12, spans.size)  //   2: list<Span>
    spans.foreach { s =>
      w.beginStruct()
      w.i64Field(1, s.traceId)      // traceIdLow
      w.i64Field(2, 0L)             // traceIdHigh
      w.i64Field(3, s.id)
      w.i64Field(4, s.parentId.getOrElse(0L))
      w.stringField(5, s.operation)
      w.i32Field(7, 1)              // flags: sampled
      w.i64Field(8, s.startUs)
      w.i64Field(9, s.durationUs)
      if (s.tags.nonEmpty) {
        w.listField(10, 12, s.tags.size)
        s.tags.toSeq.sortBy(_._1).foreach { case (k, v) =>
          w.beginStruct()
          w.stringField(1, k)       // key
          w.i32Field(2, 0)          // vType STRING
          w.stringField(3, v)       // vStr
          w.endStruct()
        }
      }
      w.endStruct()
    }
    w.endStruct()                   // Batch
    w.endStruct()                   // args
    w.bytes
  }

  /** Flush completed spans to the agent, chunked under the UDP limit. */
  def report(spans: scala.Seq[Tracing.Span]): Int = {
    var sent = 0
    spans.grouped(maxSpansPerPacket).foreach { chunk =>
      val b = encodeBatch(chunk)
      sock.send(new java.net.DatagramPacket(b, b.length, addr, port))
      sent += 1
    }
    sent
  }

  def close(): Unit = sock.close()
}
