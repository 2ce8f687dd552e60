package graft

import org.apache.spark.sql.functions._

import graft.model._
import graft.schema.AvroBackend
import graft.streaming.Streams

/** The declarative config surface (reference
  * `lib/deimos/config/configuration.rb`): file → typed configs →
  * running pipeline, plus the removed-setting guidance and
  * all-errors-at-once discipline.
  */
class ConfigFileSpec extends SparkSpec {
  import spark.implicits._

  private val fullConfig = """
    |# engine-wide
    |producers.topic_prefix = prod.
    |producers.backend      = outbox
    |producers.truncate_columns = true
    |kafka.bootstrap_servers = broker-a:9092
    |schema.backend = avro
    |schema.path = /schemas            # trailing comment
    |schema.use_schema_classes = true
    |outbox.compact_topics = all
    |outbox.log_topics = orders,audit
    |
    |topic.orders.schema = Order
    |topic.orders.namespace = com.example
    |topic.orders.key_config = field:order_id
    |topic.orders.max_db_batch_size = 500
    |topic.orders.bootstrap_servers = cluster-b:9092
    |topic.audit.schema = Audit
    |topic.audit.key_config = none
    |topic.audit.compacted = false
    |
    |db_poller.users.mode = time_based
    |db_poller.users.run_every = 120
    |db_poller.users.timestamp_column = changed_at
    |db_poller.flags.mode = state_based
    |db_poller.flags.state_column = publish_state
    |db_poller.flags.published_state = done
    |""".stripMargin

  test("a full config file parses into the typed settings") {
    val cfg = GraftConfigFile.parse(fullConfig)
    assert(cfg.producers === ProducersSettings(topicPrefix = "prod.",
      backend = "outbox", truncateColumns = true))
    assert(cfg.kafkaBootstrapServers === Some("broker-a:9092"))
    assert(cfg.schema.backend === "avro")
    assert(cfg.schema.path === Some("/schemas"))
    assert(cfg.schema.useSchemaClasses)
    assert(cfg.outbox.compactTopics === TopicSelector.All)
    assert(cfg.outbox.logTopics.matches("audit"))
    assert(!cfg.outbox.logTopics.matches("other"))

    val orders = cfg.topic("orders")
    assert(orders.fullTopic === "prod.orders") // global prefix applied
    assert(orders.schemaName === "Order")
    assert(orders.namespace === "com.example")
    assert(orders.keyConfig === KeyConfig.Field("order_id"))
    assert(orders.maxDbBatchSize === Some(500))
    assert(orders.bootstrapServers === Some("cluster-b:9092")) // T10
    assert(orders.compacted)
    assert(!cfg.topic("audit").compacted)
    assert(cfg.topic("audit").keyConfig === KeyConfig.NoKey)

    assert(cfg.poller("users").runEverySec === 120)
    assert(cfg.poller("users").timestampColumn === "changed_at")
    assert(cfg.poller("users").delaySec === 2) // reference default
    assert(cfg.poller("flags").mode === "state_based")
    assert(cfg.poller("flags").stateColumn === Some("publish_state"))
    // schema file resolution mirrors the reference's schema.path layout
    assert(cfg.schema.schemaFile("com.example", "Order").toString ===
      "/schemas/com.example/Order.avsc")
  }

  test("every problem is reported at once, removed settings carry guidance") {
    val bad = """
      |kafka.seed_brokers = localhost:9092
      |producers.backend = phobos
      |producers.disabled = yes
      |made.up.key = 1
      |topic.orders.namespace = com.example
      |topic.orders.partition_count = 3
      |db_poller.flags.mode = state_based
      |""".stripMargin
    val e = intercept[IllegalArgumentException](GraftConfigFile.parse(bad))
    val msg = e.getMessage
    assert(msg.contains("7 problem(s)"), msg)
    assert(msg.contains("kafka.seed_brokers was removed: use kafka.bootstrap_servers"))
    assert(msg.contains("producers.backend: 'phobos' is not one of"))
    assert(msg.contains("producers.disabled: expected true/false"))
    assert(msg.contains("unknown setting: made.up.key"))
    assert(msg.contains("topic.orders: schema is required"))
    assert(msg.contains("topic.orders.partition_count: unknown topic setting"))
    assert(msg.contains("db_poller.flags: state_based mode requires state_column"))
  }

  test("render dumps the effective config and round-trips through parse") {
    val cfg = GraftConfigFile.parse(fullConfig)
    val rendered = cfg.render
    // every effective setting appears explicitly (defaults included)
    assert(rendered.contains("producers.backend = outbox"))
    assert(rendered.contains("db_poller.users.delay_time = 2")) // a default
    assert(rendered.contains("topic.orders.error_policy = fatal")) // a default
    assert(GraftConfigFile.parse(rendered) === cfg)
    // and the empty config round-trips too (all defaults)
    val empty = GraftConfigFile.parse("")
    assert(GraftConfigFile.parse(empty.render) === empty)
  }

  test("duplicate keys and malformed lines are load errors") {
    val e = intercept[IllegalArgumentException](GraftConfigFile.parse(
      "producers.topic_prefix = a\nproducers.topic_prefix = b\nnot a setting\n"))
    assert(e.getMessage.contains("duplicate key producers.topic_prefix"))
    assert(e.getMessage.contains("expected key = value"))
  }

  test("a loaded config file drives the produce/decode pipeline end-to-end") {
    // schema file on disk where schema.path points, resolved by
    // (namespace, schemaName) exactly as the reference resolves .avsc
    val schemaDir = java.nio.file.Files.createTempDirectory("graft-schemas")
    val ns = schemaDir.resolve("com.example")
    java.nio.file.Files.createDirectories(ns)
    java.nio.file.Files.writeString(ns.resolve("Order.avsc"),
      """{"type":"record","name":"Order","namespace":"com.example","fields":[
        | {"name":"order_id","type":"string"},
        | {"name":"amount","type":"long"},
        | {"name":"message_id","type":["null","string"],"default":null},
        | {"name":"timestamp","type":["null","string"],"default":null}
        |]}""".stripMargin)
    val cfg = GraftConfigFile.load(writeTemp(
      s"""producers.topic_prefix = prod.
         |schema.backend = avro
         |schema.path = $schemaDir
         |topic.orders.schema = Order
         |topic.orders.namespace = com.example
         |topic.orders.key_config = field:order_id
         |""".stripMargin))
    val topicCfg = cfg.topic("orders")
    val backend = new AvroBackend(java.nio.file.Files.readString(
      cfg.schema.schemaFile(topicCfg.namespace, topicCfg.schemaName)))
    val payloads = Seq(("o1", 5L), ("o2", 7L)).toDF("order_id", "amount")
      .withColumn("message_id", lit(null).cast("string"))
      .withColumn("timestamp", lit(null).cast("string"))
    val frame = Streams.toKafkaFrame(payloads, topicCfg, backend)
    val rows = Streams.fromKafkaFrame(frame, backend,
      backend.keyBackend(topicCfg.keyConfig))
      .select(col("topic"), col("decoded_key").getField("order_id").as("k"),
        col("payload").getField("amount").as("a"))
      .as[(String, String, Long)].collect().toSet
    assert(rows === Set(("prod.orders", "o1", 5L), ("prod.orders", "o2", 7L)))
  }

  test("per-topic error policy and payload-log style parse and apply") {
    val cfg = GraftConfigFile.parse(
      """topic.orders.schema = Order
        |topic.orders.error_policy = skip
        |topic.orders.payload_log = keys
        |topic.orders.save_associations_first = true
        |topic.audit.schema = Audit
        |""".stripMargin)
    // M5 assoc-first direction flag (reference consumer_route.rb:13)
    assert(cfg.topic("orders").saveAssociationsFirst)
    assert(!cfg.topic("audit").saveAssociationsFirst) // default
    assert(cfg.topic("orders").errorPolicy === ErrorPolicy.Skip)
    assert(!cfg.topic("orders").errorPolicy.isFatal(new RuntimeException))
    assert(cfg.topic("audit").errorPolicy === ErrorPolicy.Fatal) // default
    assert(cfg.topic("orders").payloadLog === PayloadLog.Keys)

    // the style shapes the logging frame (P14)
    val df = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "k", "v")
    import graft.observe.Observe
    assert(Observe.payloadLogFrame(df, cfg.topic("orders").payloadLog,
      Seq("id", "k")).columns.toSeq === Seq("id", "k"))
    assert(Observe.payloadLogFrame(df, PayloadLog.Count, Seq("id"))
      .as[Long].collect().toSeq === Seq(2L))
    assert(Observe.payloadLogFrame(df, PayloadLog.Full, Seq("id"))
      .columns.toSeq === Seq("id", "k", "v"))

    // :headers style (logging.rb:84): one headers hash per message;
    // parses, prints, and shapes — wire frames log the human map
    val hc = GraftConfigFile.parse(
      "topic.orders.schema = Order\ntopic.orders.payload_log = headers\n")
    assert(hc.topic("orders").payloadLog === PayloadLog.Headers)
    assert(hc.render.contains("topic.orders.payload_log = headers"))
    val withH = df.withColumn("headers",
      map(lit("trace"), concat(lit("t"), col("id"))))
    assert(Observe.payloadLogFrame(withH, PayloadLog.Headers, Nil)
      .as[Map[String, String]].collect().toSet ===
      Set(Map("trace" -> "t1"), Map("trace" -> "t2")))
    // frames without headers log nulls (reference maps them to nil)
    assert(Observe.payloadLogFrame(df, PayloadLog.Headers, Nil)
      .collect().forall(_.isNullAt(0)))

    val e = intercept[IllegalArgumentException](GraftConfigFile.parse(
      "topic.t.schema = T\ntopic.t.error_policy = retry\ntopic.t.payload_log = verbose\n"))
    assert(e.getMessage.contains("error_policy: expected fatal|skip"))
    assert(e.getMessage.contains("payload_log: expected full|keys|count"))
  }

  test("consume metadata log slice: offset span, size, latest timestamp per topic-partition") {
    // reference Logging.metadata_log_text (logging.rb:33-35), attached
    // to every consume_batch line (batch_consumption.rb:38,53): the
    // batch metadata sliced to timestamp/offsets/partition/topic/size
    import graft.observe.Observe
    val kafka = Seq(
      ("orders", 0, 100L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01")),
      ("orders", 0, 102L, java.sql.Timestamp.valueOf("2024-01-01 00:00:03")),
      ("orders", 0, 101L, java.sql.Timestamp.valueOf("2024-01-01 00:00:02")),
      ("orders", 1, 7L, java.sql.Timestamp.valueOf("2024-01-01 00:00:09")),
      ("audit", 0, 55L, java.sql.Timestamp.valueOf("2024-01-01 00:00:05")))
      .toDF("topic", "partition", "offset", "timestamp")
    val got = Observe.metadataLogFrame(kafka)
      .select("topic", "partition", "first_offset", "last_offset", "size",
        "timestamp")
      .as[(String, Int, Long, Long, Long, java.sql.Timestamp)]
      .collect().toSet
    assert(got === Set(
      ("orders", 0, 100L, 102L, 3L,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:03")),
      ("orders", 1, 7L, 7L, 1L,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:09")),
      ("audit", 0, 55L, 55L, 1L,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:05"))))
  }

  test("outbox selectors from the file drive drainBatch compaction") {
    val cfg = GraftConfigFile.parse("outbox.compact_topics = orders\n")
    val (compactAll, compactSet) = cfg.outbox.compactTopics.allOrNames
    val staged = Seq(
      (1L, "orders", "k1", "v1"), (2L, "orders", "k1", "v2"),
      (3L, "audit", "k1", "a1"), (4L, "audit", "k1", "a2"))
      .toDF("id", "topic", "key", "value")
    val got = graft.operators.Outbox.drainBatch(staged, "topic", "id", "key",
        compactTopics = compactSet, compactAll = compactAll)
      .select("id").as[Long].collect().toSet
    // orders compacts to the last version; audit keeps both rows
    assert(got === Set(2L, 3L, 4L))
    assert(GraftConfigFile.parse("outbox.compact_topics = all\n")
      .outbox.compactTopics.allOrNames === ((true, Set.empty[String])))
  }

  test("the file's kill-switch reaches the engine-wide producer gate") {
    val wasDisabled = EngineConfig.producersDisabled
    try {
      GraftConfigFile.parse("producers.disabled = true").applyKillSwitch()
      val cfg = TopicConfig("t", "T")
      val payloads = Seq(("a", 1L)).toDF("k", "v")
      intercept[IllegalArgumentException] {
        Streams.toKafkaFrame(payloads, cfg,
          new graft.schema.MockBackend(payloads.schema))
      }
      GraftConfigFile.parse("producers.disabled = false").applyKillSwitch()
      assert(!EngineConfig.producersDisabled)
    } finally EngineConfig.producersDisabled = wasDisabled
  }

  private def writeTemp(text: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempFile("graft-config", ".properties")
    java.nio.file.Files.writeString(p, text)
    p
  }
}
