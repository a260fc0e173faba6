package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Envelope
import graft.sources.Brokers

/** Broker connector breadth: config→option mapping + lint for every
  * registry kind, and wire→envelope projections over hand-built frames
  * (the same transport boundary KafkaSpec draws). */
class BrokersSpec extends AnyFunSuite {
  lazy val spark = Sessions.builder("4").getOrCreate()
  import spark.implicits._

  test("input bindings: option mapping for every broker kind") {
    val b1 = Brokers.input("aws_kinesis",
      Map("stream" -> "events", "region" -> "us-east-1",
        "start_from_oldest" -> "true"))
    assert(b1.format == "kinesis" && b1.options("streamName") == "events" &&
      b1.options("initialPosition") == "earliest")

    val b2 = Brokers.input("aws_sqs",
      Map("url" -> "https://sqs.us-east-1.amazonaws.com/1/q"))
    assert(b2.format == "sqs" && b2.options("queueUrl").endsWith("/q"))

    val b3 = Brokers.input("gcp_pubsub",
      Map("project" -> "p1", "subscription" -> "s1"))
    assert(b3.options == Map("projectId" -> "p1", "subscriptionId" -> "s1"))

    val urls = new java.util.ArrayList[String]()
    urls.add("nats://n1:4222"); urls.add("nats://n2:4222")
    val b4 = Brokers.input("nats", Map("urls" -> urls, "subject" -> "subj",
      "queue" -> "q"))
    assert(b4.options("nats.urls") == "nats://n1:4222,nats://n2:4222" &&
      b4.options("nats.queue") == "q")

    val b5 = Brokers.input("nats_stream", Map("urls" -> urls,
      "subject" -> "subj", "cluster_id" -> "c", "durable_name" -> "d"))
    assert(b5.options("nats.cluster.id") == "c" && b5.options("nats.durable") == "d")

    val topics = new java.util.ArrayList[String]()
    topics.add("t/1")
    val murls = new java.util.ArrayList[String]()
    murls.add("tcp://m:1883")
    val b6 = Brokers.input("mqtt", Map("urls" -> murls, "topics" -> topics,
      "qos" -> 2, "client_id" -> "cid"))
    assert(b6.format.contains("MQTTStreamSourceProvider") &&
      b6.options("QoS") == "2" && b6.options("clientId") == "cid")

    val b7 = Brokers.input("amqp_0_9",
      Map("url" -> "amqp://guest@localhost:5672/", "queue" -> "jobs"))
    assert(b7.options("queue") == "jobs")

    val b8 = Brokers.input("amqp_1",
      Map("url" -> "amqps://h", "source_address" -> "queue:/jobs"))
    assert(b8.options("sourceAddress") == "queue:/jobs")

    val nsqd = new java.util.ArrayList[String]()
    nsqd.add("n1:4150")
    val b9 = Brokers.input("nsq", Map("nsqd_tcp_addresses" -> nsqd,
      "topic" -> "t", "channel" -> "ch"))
    assert(b9.options("nsqdTcpAddresses") == "n1:4150" &&
      b9.options("channel") == "ch")

    val pt = new java.util.ArrayList[String]()
    pt.add("persistent://public/default/t")
    val b10 = Brokers.input("pulsar", Map("url" -> "pulsar://h:6650",
      "topics" -> pt, "subscription_name" -> "sub"))
    assert(b10.options("service.url") == "pulsar://h:6650" &&
      b10.options("predefinedSubscription") == "sub")

    val streams = new java.util.ArrayList[String]()
    streams.add("st1")
    val b11 = Brokers.input("redis_streams", Map("url" -> "redis://r:6379",
      "streams" -> streams, "consumer_group" -> "g"))
    assert(b11.options("stream.keys") == "st1" &&
      b11.options("stream.group.name") == "g")
  }

  test("lint: missing required fields throw with the field name") {
    val e1 = intercept[IllegalArgumentException] {
      Brokers.input("aws_kinesis", Map.empty) }
    assert(e1.getMessage.contains("stream"))
    val e2 = intercept[IllegalArgumentException] {
      Brokers.input("gcp_pubsub", Map("project" -> "p")) }
    assert(e2.getMessage.contains("subscription"))
    val e3 = intercept[IllegalArgumentException] {
      Brokers.input("nsq", Map("topic" -> "t", "channel" -> "c")) }
    assert(e3.getMessage.contains("addresses"))
    val e4 = intercept[IllegalArgumentException] {
      Brokers.output("pulsar", Map("url" -> "pulsar://h")) }
    assert(e4.getMessage.contains("topic"))
  }

  test("config surface lint-accepts each broker input kind and compiles a plan") {
    val kinds = scala.Seq(
      "aws_kinesis" -> "    stream: s\n",
      "aws_sqs" -> "    url: https://sqs/q\n",
      "gcp_pubsub" -> "    project: p\n    subscription: s\n",
      "nats" -> "    urls: [nats://h:4222]\n    subject: subj\n",
      "nats_stream" -> "    urls: [nats://h:4222]\n    subject: subj\n",
      "nats_jetstream" -> "    urls: [nats://h:4222]\n    subject: subj\n",
      "mqtt" -> "    urls: [tcp://h:1883]\n    topics: [t]\n",
      "amqp_0_9" -> "    url: amqp://h\n    queue: q\n",
      "amqp_1" -> "    url: amqps://h\n    source_address: q\n",
      "nsq" -> "    nsqd_tcp_addresses: [h:4150]\n    topic: t\n    channel: c\n",
      "pulsar" -> "    url: pulsar://h:6650\n    topics: [t]\n",
      "redis_streams" -> "    url: redis://h\n    streams: [s]\n")
    for ((kind, fields) <- kinds) {
      val spec = graft.runtime.Config.load(
        s"input:\n  $kind:\n$fields" +
          "pipeline:\n  processors:\n    - bloblang: 'root = this'\n" +
          "output:\n  drop: {}\n")
      assert(spec.pipeline.size == 1, kind)
    }
    // broker output kinds lint too
    val out = graft.runtime.Config.load(
      "input:\n  generate:\n    count: 1\n    mapping: 'root.x = 1'\n" +
        "output:\n  aws_kinesis:\n    stream: s\n    region: r\n")
    assert(out.output.isInstanceOf[graft.sinks.Sinks.BrokerSink])
  }

  test("a broker input config is a stream: its file output appends") {
    val spec = graft.runtime.Config.load(
      "input:\n  nats:\n    urls: [nats://h:4222]\n    subject: subj\n" +
        "output:\n  file:\n    path: /tmp/graft-nats-out\n")
    assert(spec.streaming)
    assert(spec.output == graft.sinks.Sinks.FileSink("/tmp/graft-nats-out", "lines", "append"))
  }

  test("kinesis wire frame → envelope projection (recorded fixture rows)") {
    // recorded DSv2-connector-shaped wire rows: two shards of one
    // stream, sequence numbers in real 128-bit-decimal form
    val wire = scala.Seq(
      ("payload-a", "events", "pk1",
        "49590338271490256608559692538361571095921575989136588898",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "shardId-000000000000"),
      ("payload-b", "events", "pk2",
        "49590338271490256608559692538361571095921575989136588899",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "shardId-000000000001"))
      .toDF("data", "streamName", "partitionKey", "sequenceNumber",
        "approximateArrivalTimestamp", "shardId")
      .withColumn("data", col("data").cast(BinaryType))
    val env = Brokers.kinesisEnvelope(wire)
    // the REFERENCE metadata contract: kinesis_shard + kinesis_stream
    // (lib/input/reader/kinesis.go:288-289) must both be present
    val rows = env.select(col(Envelope.Content).cast(StringType),
      element_at(col(Envelope.Meta), "kinesis_shard"),
      element_at(col(Envelope.Meta), "kinesis_stream"),
      element_at(col(Envelope.Meta), "kinesis_partition_key"),
      element_at(col(Envelope.Meta), "kinesis_sequence_number"))
      .orderBy(col(Envelope.Content).cast(StringType)).collect()
    assert(rows(0).getString(0) == "payload-a" &&
      rows(0).getString(1) == "shardId-000000000000" &&
      rows(0).getString(2) == "events" && rows(0).getString(3) == "pk1" &&
      rows(0).getString(4).endsWith("898"))
    assert(rows(1).getString(1) == "shardId-000000000001" &&
      rows(1).getString(3) == "pk2")
    // seq is the (hashed) within-shard sequence number: deterministic
    // and distinct across records
    val seqs = env.select(col(Envelope.Seq)).collect().map(_.getLong(0))
    assert(seqs.distinct.length == 2)
    // a relay without the shardId column still projects, defaulting to
    // the reference's default shard "0" (kinesis.go:45)
    val noShard = Brokers.kinesisEnvelope(wire.drop("shardId"))
    assert(noShard.select(element_at(col(Envelope.Meta), "kinesis_shard"))
      .head().getString(0) == "0")
  }

  test("pulsar wire frame → envelope projection") {
    val wire = scala.Seq(("m1", "k1", "persistent://t", "id-1",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("value", "__key", "__topic", "__messageId", "__publishTime")
      .withColumn("value", col("value").cast(BinaryType))
      .withColumn("__messageId", col("__messageId").cast(BinaryType))
    val env = Brokers.pulsarEnvelope(wire)
    val r = env.select(col(Envelope.Doc),
      element_at(col(Envelope.Meta), "pulsar_key"),
      element_at(col(Envelope.Meta), "pulsar_topic")).head()
    assert(r.getString(0) == "m1" && r.getString(1) == "k1" &&
      r.getString(2) == "persistent://t")
  }

  test("pulsar envelope: reference metadata contract (input.go:191-196)") {
    // pulsar_key is set ONLY for a non-empty message key; message
    // properties are injected afterwards, so a property sharing a named
    // key's name wins (part.Metadata().Set in Set order)
    val wire = scala.Seq(
      ("m1", "", "persistent://t", "id-1",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        Map("trace" -> "abc", "pulsar_topic" -> "overridden")),
      ("m2", "k2", "persistent://t", "id-2",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:01"),
        Map.empty[String, String]))
      .toDF("value", "__key", "__topic", "__messageId", "__publishTime",
        "__messageProperties")
      .withColumn("value", col("value").cast(BinaryType))
      .withColumn("__messageId", col("__messageId").cast(BinaryType))
    val rows = Brokers.pulsarEnvelope(wire)
      .select(col(Envelope.Doc),
        element_at(col(Envelope.Meta), "pulsar_key"),
        element_at(col(Envelope.Meta), "pulsar_topic"),
        element_at(col(Envelope.Meta), "trace"))
      .orderBy(col(Envelope.Doc)).collect()
    // empty key -> no pulsar_key entry; property overrides named key
    assert(rows(0).isNullAt(1) && rows(0).getString(2) == "overridden" &&
      rows(0).getString(3) == "abc")
    // non-empty key -> present; no properties -> named keys untouched
    assert(rows(1).getString(1) == "k2" &&
      rows(1).getString(2) == "persistent://t" && rows(1).isNullAt(3))
  }

  test("mqtt envelope: reference flag keys project when the wire carries them") {
    // mqtt.go:253-257 contract: duplicate/qos/retained/topic/message_id.
    // Bahir's base schema carries only id/topic; a relay adding the paho
    // flags gets them projected under the reference names.
    val base = scala.Seq((1L, "t/1", "p1",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "topic", "payload", "timestamp")
      .withColumn("payload", col("payload").cast(BinaryType))
    val plain = Brokers.mqttEnvelope(base)
    assert(plain.select(element_at(col(Envelope.Meta), "mqtt_topic"))
      .head().getString(0) == "t/1")
    assert(plain.select(element_at(col(Envelope.Meta), "mqtt_qos"))
      .head().isNullAt(0))
    val flagged = Brokers.mqttEnvelope(
      base.withColumn("qos", lit(1)).withColumn("retained", lit(false))
        .withColumn("duplicate", lit(false)))
    val f = flagged.select(
      element_at(col(Envelope.Meta), "mqtt_qos"),
      element_at(col(Envelope.Meta), "mqtt_retained"),
      element_at(col(Envelope.Meta), "mqtt_duplicate"),
      element_at(col(Envelope.Meta), "mqtt_message_id")).head()
    assert(f.getString(0) == "1" && f.getString(1) == "false" &&
      f.getString(2) == "false" && f.getString(3) == "1")
  }

  test("redis_streams envelope: body_key payload, entry fields → metadata") {
    // redis_streams.go:292-313: payload from the `body` field (entries
    // without it DROP), redis_stream = entry ID, other fields ride as
    // metadata under their own names
    val wire = scala.Seq(
      ("1690000000000-0", "payload-1", "shop", "eu"),
      ("1690000000000-1", null, "shop", "us"))
      .toDF("_id", "body", "app", "region")
    val env = Brokers.redisStreamsEnvelope(wire)
    val rows = env.select(col(Envelope.Doc),
      element_at(col(Envelope.Meta), "redis_stream"),
      element_at(col(Envelope.Meta), "app"),
      element_at(col(Envelope.Meta), "region")).collect()
    assert(rows.length == 1) // the body-less entry dropped
    assert(rows(0).getString(0) == "payload-1" &&
      rows(0).getString(1) == "1690000000000-0" &&
      rows(0).getString(2) == "shop" && rows(0).getString(3) == "eu")
    assert(Brokers.envelope("redis_streams", wire).columns.toSeq ==
      Envelope.envelopeCols)
  }

  test("generic value frame → envelope (sqs/pubsub/nats relays)") {
    val env = Brokers.valueEnvelope(
      scala.Seq("m1", "m2").toDF("value"), "aws_sqs")
    assert(env.select(col(Envelope.Doc)).as[String].collect().sorted.toSeq ==
      scala.Seq("m1", "m2"))
    assert(env.select(element_at(col(Envelope.Meta), "source"))
      .as[String].head() == "aws_sqs")
    // the envelope schema is canonical
    assert(env.columns.toSeq == Envelope.envelopeCols)
  }

  test("redis_pubsub / zmq4 / nanomsg bindings + config lint") {
    val chans = new java.util.ArrayList[String](); chans.add("ch1")
    val b1 = Brokers.input("redis_pubsub",
      Map("url" -> "redis://h", "channels" -> chans))
    assert(b1.options("channels") == "ch1")
    val urls = new java.util.ArrayList[String](); urls.add("tcp://h:5555")
    val b2 = Brokers.input("zmq4", Map("urls" -> urls, "socket_type" -> "SUB"))
    assert(b2.format == "zeromq" && b2.options("socketType") == "SUB")
    val b3 = Brokers.input("nanomsg", Map("urls" -> urls))
    assert(b3.options("socketType") == "PULL")
    for ((kind, fields) <- scala.Seq(
        "redis_pubsub" -> "    url: redis://h\n    channels: [c]\n",
        "zmq4" -> "    urls: [tcp://h:5555]\n",
        "nanomsg" -> "    urls: [tcp://h:5556]\n")) {
      val spec = graft.runtime.Config.load(
        s"input:\n  $kind:\n$fields" + "output:\n  drop: {}\n")
      assert(spec.streaming || !spec.streaming, kind) // compiled
    }
  }

  test("full-registry parity: remaining reference input/output kinds") {
    // inputs: aliases + azure queue
    val b1 = Brokers.input("kinesis_balanced",
      Map("stream" -> "s1", "region" -> "us-east-1"))
    assert(b1.format == "kinesis" && b1.options("streamName") == "s1")
    val b2 = Brokers.input("azure_queue_storage",
      Map("storage_account" -> "acct", "queue_name" -> "q"))
    assert(b2.options("storageAccount") == "acct" &&
      b2.options("queueName") == "q")
    // outputs: database/cloud sinks
    val addrs = new java.util.ArrayList[String](); addrs.add("cass1:9042")
    val o1 = Brokers.output("cassandra",
      Map("addresses" -> addrs, "keyspace" -> "ks", "table" -> "t"))
    assert(o1.options("spark.cassandra.connection.host") == "cass1:9042")
    val urls = new java.util.ArrayList[String](); urls.add("http://es:9200")
    val o2 = Brokers.output("elasticsearch",
      Map("urls" -> urls, "index" -> "idx", "id" -> "${!json(\"id\")}"))
    assert(o2.options("es.resource") == "idx")
    val o3 = Brokers.output("aws_dynamodb", Map("table" -> "t1"))
    assert(o3.options("tableName") == "t1")
    val o4 = Brokers.output("aws_sns", Map("topic_arn" -> "arn:x"))
    assert(o4.options("topicArn") == "arn:x")
    val o5 = Brokers.output("aws_kinesis_firehose", Map("stream" -> "fh"))
    assert(o5.options("deliveryStreamName") == "fh")
    val o6 = Brokers.output("azure_table_storage",
      Map("storage_account" -> "acct", "table_name" -> "tbl"))
    assert(o6.options("tableName") == "tbl")
    val o7 = Brokers.output("redis_hash", Map("url" -> "redis://h", "key" -> "k"))
    assert(o7.options("model") == "hash")
    // config-level: kafka aliases compile; drop_on unwraps its child
    for (kind <- scala.Seq("kafka_cg", "kafka_parts")) {
      val spec = graft.runtime.Config.load(
        s"""input:
           |  $kind:
           |    addresses: [b:9092]
           |    topics: [t]
           |output:
           |  drop_on:
           |    error: true
           |    output:
           |      drop: {}
           |""".stripMargin)
      assert(spec.streaming || !spec.streaming, kind)
    }
  }
}
