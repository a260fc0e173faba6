package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Envelope

/** Broker connector breadth beyond kafka (reference input registry
  * `lib/input/constructor.go:205-254`): aws_kinesis, aws_sqs, gcp_pubsub,
  * nats / nats_stream / nats_jetstream, mqtt, amqp_0_9, amqp_1, nsq,
  * pulsar, redis_streams.
  *
  * Same architecture as [[Kafka]]: everything except the broker IO is
  * pure and testable — the reference-config → Spark-connector-option
  * mapping (with required-field lint), and the wire-record → envelope
  * projection for connectors with documented wire schemas. The transport
  * is a data-source format resolved at call time (`format(...)` +
  * options), supplied at deploy time by the matching connector package
  * (kinesis/pulsar/mqtt-bahir/spark-redis are published connectors; the
  * queue-shaped sources without a public DSv2 connector — sqs, pubsub,
  * nats, amqp, nsq — bind to their conventional format ids and deploy
  * through a relay/receiver jar). None of those jars ship in this build
  * image, so specs cover mapping + lint + projection, not transport —
  * the same boundary the kafka connector draws.
  */
object Brokers {

  /** A compiled connector binding: the call-time format + options. */
  final case class Binding(kind: String, format: String,
      options: Map[String, String])

  /** The input kinds [[input]] binds: each compiles to a [[readStream]]
    * source, so a config with one of them as its input is a stream. */
  val inputKinds: Set[String] = Set("aws_kinesis", "kinesis",
    "kinesis_balanced", "aws_sqs", "sqs", "gcp_pubsub", "nats", "nats_stream",
    "nats_jetstream", "mqtt", "amqp_0_9", "amqp", "amqp_1", "nsq", "pulsar",
    "redis_streams", "redis_pubsub", "zmq4", "nanomsg",
    "scalability_protocols", "azure_queue_storage")

  // ---------- config → binding (the lint surface) ----------

  private def s(conf: Map[String, Any], k: String): Option[String] =
    conf.get(k).map(_.toString).filter(_.nonEmpty)
  private def req(conf: Map[String, Any], kind: String, k: String): String =
    s(conf, k).getOrElse(throw new IllegalArgumentException(
      s"$kind: missing required field $k"))
  private def list(conf: Map[String, Any], k: String): scala.Seq[String] =
    conf.get(k).toSeq.flatMap {
      case l: java.util.List[_] =>
        scala.jdk.CollectionConverters.ListHasAsScala(l).asScala.toSeq.map(_.toString)
      case v => scala.Seq(v.toString)
    }
  private def reqList(conf: Map[String, Any], kind: String, k: String)
      : scala.Seq[String] = {
    val l = list(conf, k)
    require(l.nonEmpty, s"$kind: missing required field $k")
    l
  }

  /** Input-side binding. Throws IllegalArgumentException on missing
    * required fields — the lint contract ConfigSpec pins. */
  def input(kind: String, conf: Map[String, Any]): Binding = kind match {
    case "aws_kinesis" | "kinesis" | "kinesis_balanced" =>
      // lib/input/reader/kinesis.go:27-36
      Binding(kind, "kinesis", Map(
        "streamName" -> req(conf, kind, "stream"),
        "initialPosition" ->
          (if (conf.get("start_from_oldest").forall(_.toString.toBoolean))
            "earliest" else "latest")) ++
        s(conf, "region").map("region" -> _) ++
        s(conf, "endpoint").map("endpoint" -> _) ++
        s(conf, "shard").map("shardId" -> _))
    case "aws_sqs" | "sqs" =>
      // lib/input/reader/amazon_sqs.go:24-28
      Binding(kind, "sqs", Map(
        "queueUrl" -> req(conf, kind, "url"),
        "deleteMessage" ->
          conf.get("delete_message").forall(_.toString.toBoolean).toString) ++
        s(conf, "region").map("region" -> _) ++
        s(conf, "max_number_of_messages").map("maxFetch" -> _))
    case "gcp_pubsub" =>
      // lib/input/reader/gcp_pubsub.go:22-24
      Binding(kind, "pubsub", Map(
        "projectId" -> req(conf, kind, "project"),
        "subscriptionId" -> req(conf, kind, "subscription")))
    case "nats" =>
      // lib/input/reader/nats.go:24-27
      Binding(kind, "nats", Map(
        "nats.urls" -> reqList(conf, kind, "urls").mkString(","),
        "nats.subject" -> req(conf, kind, "subject")) ++
        s(conf, "queue").map("nats.queue" -> _))
    case "nats_stream" | "nats_jetstream" =>
      // lib/input/reader/nats_stream.go:28-37
      Binding(kind, "nats", Map(
        "nats.urls" -> reqList(conf, kind, "urls").mkString(","),
        "nats.subject" -> req(conf, kind, "subject")) ++
        s(conf, "cluster_id").map("nats.cluster.id" -> _) ++
        s(conf, "client_id").map("nats.client.id" -> _) ++
        s(conf, "queue").map("nats.queue" -> _) ++
        s(conf, "durable_name").map("nats.durable" -> _))
    case "mqtt" =>
      // lib/input/reader/mqtt.go:23-31 → Bahir MQTT source options
      Binding(kind, "org.apache.bahir.sql.streaming.mqtt.MQTTStreamSourceProvider",
        Map(
          "brokerUrl" -> reqList(conf, kind, "urls").head,
          "topic" -> reqList(conf, kind, "topics").head,
          "QoS" -> conf.get("qos").map(_.toString).getOrElse("1")) ++
          s(conf, "client_id").map("clientId" -> _) ++
          s(conf, "user").map("username" -> _) ++
          s(conf, "password").map("password" -> _))
    case "amqp_0_9" | "amqp" =>
      // lib/input/reader/amqp_0_9.go:38-43
      Binding(kind, "rabbitmq", Map(
        "url" -> req(conf, kind, "url"),
        "queue" -> req(conf, kind, "queue")) ++
        s(conf, "consumer_tag").map("consumerTag" -> _))
    case "amqp_1" =>
      // lib/input/reader/amqp_1.go
      Binding(kind, "amqp1", Map(
        "url" -> req(conf, kind, "url"),
        "sourceAddress" -> req(conf, kind, "source_address")))
    case "nsq" =>
      // lib/input/reader/nsq.go:25-31
      val nsqd = list(conf, "nsqd_tcp_addresses")
      val lookupd = list(conf, "lookupd_http_addresses")
      require(nsqd.nonEmpty || lookupd.nonEmpty,
        "nsq: need nsqd_tcp_addresses or lookupd_http_addresses")
      Binding(kind, "nsq", Map(
        "topic" -> req(conf, kind, "topic"),
        "channel" -> req(conf, kind, "channel")) ++
        (if (nsqd.nonEmpty) Map("nsqdTcpAddresses" -> nsqd.mkString(","))
         else Map.empty) ++
        (if (lookupd.nonEmpty)
          Map("lookupdHttpAddresses" -> lookupd.mkString(","))
         else Map.empty))
    case "pulsar" =>
      // internal/impl/pulsar/input.go → StreamNative pulsar-spark options
      Binding(kind, "pulsar", Map(
        "service.url" -> req(conf, kind, "url"),
        "topics" -> reqList(conf, kind, "topics").mkString(",")) ++
        s(conf, "subscription_name").map("predefinedSubscription" -> _))
    case "redis_streams" =>
      // lib/input/reader/redis_streams.go:25-33 → spark-redis stream source
      Binding(kind, "redis", Map(
        "stream.keys" -> reqList(conf, kind, "streams").mkString(","),
        "stream.read.batch.size" ->
          conf.get("limit").map(_.toString).getOrElse("100")) ++
        s(conf, "url").map("spark.redis.url" -> _) ++
        s(conf, "consumer_group").map("stream.group.name" -> _) ++
        s(conf, "client_id").map("stream.consumer.prefix" -> _))
    case "redis_pubsub" =>
      // lib/input/reader/redis_pubsub.go: channels fan-in
      Binding(kind, "redis", Map(
        "channels" -> reqList(conf, kind, "channels").mkString(",")) ++
        s(conf, "url").map("spark.redis.url" -> _))
    case "zmq4" =>
      // lib/input/reader/zmq4.go: urls + socket type + subscribe filters
      Binding(kind, "zeromq", Map(
        "urls" -> reqList(conf, kind, "urls").mkString(","),
        "socketType" -> s(conf, "socket_type").getOrElse("PULL")) ++
        (if (list(conf, "sub_filters").nonEmpty)
          Map("subFilters" -> list(conf, "sub_filters").mkString(","))
         else Map.empty))
    case "nanomsg" | "scalability_protocols" =>
      // lib/input/reader/scale_proto.go: urls + socket type
      Binding(kind, "nanomsg", Map(
        "urls" -> reqList(conf, kind, "urls").mkString(","),
        "socketType" -> s(conf, "socket_type").getOrElse("PULL")))
    case "azure_queue_storage" =>
      // lib/input/azure_queue_storage.go: storage_account + queue_name
      Binding(kind, "azure-queue-storage", Map(
        "storageAccount" -> req(conf, kind, "storage_account"),
        "queueName" -> req(conf, kind, "queue_name")) ++
        s(conf, "storage_connection_string").map("connectionString" -> _))
    case o => throw new IllegalArgumentException(s"unknown broker input $o")
  }

  /** Output-side binding (registry `lib/output/constructor.go`): the
    * same option mapping discipline for the write path. */
  def output(kind: String, conf: Map[String, Any]): Binding = kind match {
    case "aws_kinesis" | "kinesis" =>
      Binding(kind, "kinesis", Map(
        "streamName" -> req(conf, kind, "stream")) ++
        s(conf, "region").map("region" -> _) ++
        s(conf, "partition_key").map("partitionKey" -> _))
    case "aws_sqs" | "sqs" =>
      Binding(kind, "sqs", Map("queueUrl" -> req(conf, kind, "url")) ++
        s(conf, "region").map("region" -> _))
    case "gcp_pubsub" =>
      Binding(kind, "pubsub", Map(
        "projectId" -> req(conf, kind, "project"),
        "topicId" -> req(conf, kind, "topic")))
    case "nats" | "nats_stream" | "nats_jetstream" =>
      Binding(kind, "nats", Map(
        "nats.urls" -> reqList(conf, kind, "urls").mkString(","),
        "nats.subject" -> req(conf, kind, "subject")))
    case "mqtt" =>
      Binding(kind, "org.apache.bahir.sql.streaming.mqtt.MQTTStreamSinkProvider",
        Map(
          "brokerUrl" -> reqList(conf, kind, "urls").head,
          "topic" -> req(conf, kind, "topic")))
    case "amqp_0_9" | "amqp" =>
      Binding(kind, "rabbitmq", Map(
        "url" -> req(conf, kind, "url"),
        "exchange" -> s(conf, "exchange").getOrElse("")) ++
        s(conf, "key").map("routingKey" -> _))
    case "nsq" =>
      Binding(kind, "nsq", Map(
        "nsqdTcpAddress" -> req(conf, kind, "nsqd_tcp_address"),
        "topic" -> req(conf, kind, "topic")))
    case "pulsar" =>
      Binding(kind, "pulsar", Map(
        "service.url" -> req(conf, kind, "url"),
        "topic" -> req(conf, kind, "topic")))
    case "redis_streams" =>
      Binding(kind, "redis", Map(
        "stream.key" -> req(conf, kind, "stream")) ++
        s(conf, "url").map("spark.redis.url" -> _))
    case "redis_hash" =>
      // lib/output/writer/redis_hash.go: hash key + field projections
      Binding(kind, "redis", Map(
        "table" -> req(conf, kind, "key"),
        "model" -> "hash") ++
        s(conf, "url").map("spark.redis.url" -> _))
    case "redis_pubsub" =>
      Binding(kind, "redis", Map(
        "channel" -> req(conf, kind, "channel"),
        "model" -> "pubsub") ++
        s(conf, "url").map("spark.redis.url" -> _))
    case "amqp_1" =>
      Binding(kind, "amqp10", Map(
        "url" -> req(conf, kind, "url"),
        "targetAddress" -> req(conf, kind, "target_address")))
    case "zmq4" =>
      Binding(kind, "zeromq", Map(
        "urls" -> reqList(conf, kind, "urls").mkString(","),
        "socketType" -> s(conf, "socket_type").getOrElse("PUSH")))
    case "nanomsg" | "scalability_protocols" =>
      Binding(kind, "nanomsg", Map(
        "urls" -> reqList(conf, kind, "urls").mkString(","),
        "socketType" -> s(conf, "socket_type").getOrElse("PUSH")))
    case "aws_dynamodb" =>
      // lib/output/writer/dynamodb.go: table + column projections; the
      // string/json_map column maps ride as option-encoded projections
      Binding(kind, "dynamodb", Map(
        "tableName" -> req(conf, kind, "table")) ++
        s(conf, "region").map("region" -> _) ++
        conf.get("string_columns").map(m =>
          "stringColumns" -> m.asInstanceOf[java.util.Map[String, Any]]
            .keySet().toArray.mkString(",")))
    case "aws_sns" =>
      // lib/output/writer/sns.go: topic_arn
      Binding(kind, "sns", Map(
        "topicArn" -> req(conf, kind, "topic_arn")) ++
        s(conf, "region").map("region" -> _))
    case "aws_kinesis_firehose" =>
      // lib/output/writer/kinesis_firehose.go: delivery stream
      Binding(kind, "kinesis-firehose", Map(
        "deliveryStreamName" -> req(conf, kind, "stream")) ++
        s(conf, "region").map("region" -> _))
    case "azure_queue_storage" =>
      Binding(kind, "azure-queue-storage", Map(
        "storageAccount" -> req(conf, kind, "storage_account"),
        "queueName" -> req(conf, kind, "queue_name")))
    case "azure_table_storage" =>
      Binding(kind, "azure-table-storage", Map(
        "storageAccount" -> req(conf, kind, "storage_account"),
        "tableName" -> req(conf, kind, "table_name")))
    case "cassandra" =>
      // lib/output/cassandra.go: addresses + a prepared query; Spark's
      // cassandra connector is table-shaped, so the query's keyspace.table
      // target rides the standard connector options
      Binding(kind, "org.apache.spark.sql.cassandra", Map(
        "spark.cassandra.connection.host" ->
          reqList(conf, kind, "addresses").mkString(",")) ++
        s(conf, "keyspace").map("keyspace" -> _) ++
        s(conf, "table").map("table" -> _) ++
        s(conf, "consistency").map("spark.cassandra.output.consistency.level" -> _))
    case "elasticsearch" =>
      // lib/output/writer/elasticsearch.go: urls + index (+ id/type/pipeline)
      Binding(kind, "es", Map(
        "es.nodes" -> reqList(conf, kind, "urls").mkString(","),
        "es.resource" -> req(conf, kind, "index")) ++
        s(conf, "id").map("es.mapping.id" -> _) ++
        s(conf, "pipeline").map("es.ingest.pipeline" -> _))
    case o => throw new IllegalArgumentException(s"unknown broker output $o")
  }

  // ---------- wire record → envelope projections ----------

  /** Generic value-shaped wire frame (sqs / pubsub / nats / amqp / nsq
    * relays expose a single payload column): content = the payload,
    * meta carries the source kind, seq is the streaming-safe content
    * hash (true order arrives per micro-batch, as with kafka offsets
    * absent). */
  def valueEnvelope(records: DataFrame, kind: String,
      valueCol: String = "value"): DataFrame =
    records.select(
      col(valueCol).cast(BinaryType).as(Envelope.Content),
      col(valueCol).cast(StringType).as(Envelope.Doc),
      map(lit("source"), lit(kind)).as(Envelope.Meta),
      lit(null).cast(StringType).as(Envelope.Error),
      spark_partition_id().cast(LongType).as(Envelope.BatchId),
      xxhash64(col(valueCol)).as(Envelope.Seq))

  /** Kinesis wire record (data, streamName, partitionKey,
    * sequenceNumber, approximateArrivalTimestamp, shardId — the DSv2
    * kinesis connector schema). The REFERENCE metadata contract
    * (`lib/input/reader/kinesis.go:288-289`) is `kinesis_shard` +
    * `kinesis_stream`; the connector's extra wire fields ride along
    * under their conventional names. Shards map to Spark partitions;
    * the sequence number is the within-shard order (128-bit decimal
    * string — kept in meta verbatim, hashed for the seq long). */
  def kinesisEnvelope(records: DataFrame): DataFrame = {
    // shardId is present on the DSv2 connector schema; a relay that
    // omits it still projects (reference default shard is "0")
    val shard =
      if (records.columns.contains("shardId"))
        col("shardId").cast(StringType)
      else lit("0")
    records.select(
      col("data").as(Envelope.Content),
      col("data").cast(StringType).as(Envelope.Doc),
      map(
        lit("kinesis_shard"), shard,
        lit("kinesis_stream"), col("streamName"),
        lit("kinesis_partition_key"), col("partitionKey"),
        lit("kinesis_sequence_number"), col("sequenceNumber"),
        lit("kinesis_arrival_unix"),
        unix_timestamp(col("approximateArrivalTimestamp")).cast(StringType))
        .as(Envelope.Meta),
      lit(null).cast(StringType).as(Envelope.Error),
      spark_partition_id().cast(LongType).as(Envelope.BatchId),
      xxhash64(col("sequenceNumber")).as(Envelope.Seq))
  }

  /** Pulsar wire record (`value`, `__key`, `__topic`, `__messageId`,
    * `__publishTime`, optionally `__messageProperties` — the
    * pulsar-spark connector schema). The REFERENCE metadata contract
    * (`internal/impl/pulsar/input.go:191-196`): `pulsar_key` is set
    * ONLY when the message key is non-empty, `pulsar_topic` always,
    * then every message property is injected — properties Set() later,
    * so a property sharing a named key's name wins. */
  def pulsarEnvelope(records: DataFrame): DataFrame = {
    val emptyMap = map().cast(MapType(StringType, StringType))
    val props =
      if (records.columns.contains("__messageProperties"))
        coalesce(col("__messageProperties"), emptyMap)
      else if (records.columns.contains("__properties"))
        coalesce(col("__properties"), emptyMap)
      else emptyMap
    val keyStr = col("__key").cast(StringType)
    val base = map(
      lit("pulsar_topic"), col("__topic"),
      lit("pulsar_message_id"), hex(col("__messageId")),
      lit("pulsar_publish_time_unix"),
      unix_timestamp(col("__publishTime")).cast(StringType))
    val named = when(keyStr.isNotNull && length(keyStr) > 0,
        map_concat(base, map(lit("pulsar_key"), keyStr)))
      .otherwise(base)
    records.select(
      col("value").cast(BinaryType).as(Envelope.Content),
      col("value").cast(StringType).as(Envelope.Doc),
      // later-Set wins: drop named keys the properties map also carries
      map_concat(
        map_filter(named, (k, _) => !map_contains_key(props, k)), props)
        .as(Envelope.Meta),
      lit(null).cast(StringType).as(Envelope.Error),
      spark_partition_id().cast(LongType).as(Envelope.BatchId),
      xxhash64(col("__messageId")).as(Envelope.Seq))
  }

  /** MQTT wire record (Bahir schema: id, topic, payload, timestamp).
    * Reference metadata contract (`lib/input/reader/mqtt.go:253-257`):
    * mqtt_duplicate/mqtt_qos/mqtt_retained/mqtt_topic/mqtt_message_id.
    * Bahir's wire schema carries only id/topic; duplicate/qos/retained
    * project when a relay ADDS those columns (documented boundary
    * otherwise — the flags exist on the paho client, not the wire). */
  def mqttEnvelope(records: DataFrame): DataFrame = {
    val flags = scala.Seq("duplicate" -> "mqtt_duplicate", "qos" -> "mqtt_qos",
      "retained" -> "mqtt_retained").filter(f => records.columns.contains(f._1))
    val base = map(
      lit("mqtt_topic"), col("topic"),
      lit("mqtt_message_id"), col("id").cast(StringType),
      lit("mqtt_received_unix"),
      unix_timestamp(col("timestamp")).cast(StringType))
    val meta =
      if (flags.isEmpty) base
      else map_concat(base, map(flags.flatMap { case (c, k) =>
        scala.Seq(lit(k), col(c).cast(StringType)) }: _*))
    records.select(
      col("payload").as(Envelope.Content),
      col("payload").cast(StringType).as(Envelope.Doc),
      meta.as(Envelope.Meta),
      lit(null).cast(StringType).as(Envelope.Error),
      spark_partition_id().cast(LongType).as(Envelope.BatchId),
      col("id").cast(LongType).as(Envelope.Seq))
  }

  /** Redis-streams wire record (spark-redis stream source schema: `_id`
    * + one column per stream entry field). Reference contract
    * (`lib/input/reader/redis_streams.go:292-313`): the payload is the
    * `body` field (config `body_key`, default "body"); entries WITHOUT
    * it are dropped; `redis_stream` carries the entry ID and every
    * OTHER entry field lands in metadata under its own name. */
  def redisStreamsEnvelope(records: DataFrame,
      bodyKey: String = "body"): DataFrame = {
    val fieldCols = records.columns.filterNot(c => c == "_id" || c == bodyKey)
    val metaPairs = scala.Seq(lit("redis_stream"), col("_id")) ++
      fieldCols.flatMap(c => scala.Seq(lit(c), col(c).cast(StringType)))
    records.filter(col(bodyKey).isNotNull).select(
      col(bodyKey).cast(BinaryType).as(Envelope.Content),
      col(bodyKey).cast(StringType).as(Envelope.Doc),
      map(metaPairs: _*).as(Envelope.Meta),
      lit(null).cast(StringType).as(Envelope.Error),
      spark_partition_id().cast(LongType).as(Envelope.BatchId),
      xxhash64(col("_id")).as(Envelope.Seq))
  }

  /** Projection dispatch for a binding's wire records. */
  def envelope(kind: String, records: DataFrame): DataFrame = kind match {
    case "aws_kinesis" | "kinesis" | "kinesis_balanced" =>
      kinesisEnvelope(records)
    case "pulsar" => pulsarEnvelope(records)
    case "mqtt" => mqttEnvelope(records)
    case "aws_sqs" | "sqs" | "gcp_pubsub" | "amqp_0_9" | "amqp" | "amqp_1" |
        "nsq" | "nats" | "nats_stream" | "nats_jetstream" | "redis_pubsub" |
        "zmq4" | "nanomsg" | "scalability_protocols" |
        "azure_queue_storage" =>
      valueEnvelope(records, kind)
    case "redis_streams" => redisStreamsEnvelope(records)
    case o => throw new IllegalArgumentException(s"unknown broker kind $o")
  }

  /** Streaming read through the binding (format resolved at call time —
    * the connector jar is a deploy-time dependency, as with kafka). */
  def readStream(spark: SparkSession, b: Binding): DataFrame =
    envelope(b.kind, spark.readStream.format(b.format).options(b.options).load())
}
