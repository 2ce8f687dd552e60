package graft.model

import java.nio.file.{Files, Path, Paths}

/** Declarative engine configuration — the analog of the reference's
  * config DSL (`lib/deimos/config/configuration.rb`, ~300 LoC of
  * settings, per-topic blocks, poller blocks, and deprecation
  * messages): a properties-style file parsed into the SAME typed
  * configs the programmatic API uses, so a migrating app can put its
  * whole `configure` block in one file.
  *
  * Shape (all keys snake_case to mirror the reference's setting names):
  * {{{
  * producers.topic_prefix      = prod.
  * producers.disabled          = false
  * producers.backend           = kafka_async   # kafka | kafka_async | outbox
  * producers.truncate_columns  = true
  * kafka.bootstrap_servers     = broker-a:9092
  * schema.backend              = avro  # avro|avro_ocf|avro_registry|proto|proto_registry|json|mock
  * schema.path                 = /schemas
  * schema.registry_url         = http://localhost:8081
  * schema.generated_class_path = app/lib/schema_classes
  * schema.use_schema_classes   = false
  * outbox.log_topics           = all            # or comma list, or empty
  * outbox.compact_topics       = orders,users
  * topic.orders.schema             = Order
  * topic.orders.namespace          = com.example
  * topic.orders.key_config         = field:order_id  # none|plain:<f>|field:<path>|schema:<Name>
  * topic.orders.compacted          = true
  * topic.orders.save_associations_first = false   # M5 assoc-first direction
  * topic.orders.max_db_batch_size  = 500
  * topic.orders.bootstrap_servers  = cluster-b:9092
  * topic.orders.error_policy       = fatal          # fatal | skip (T6)
  * topic.orders.payload_log        = keys           # full | keys | count | headers (P14)
  * db_poller.users.mode             = time_based  # time_based | state_based
  * db_poller.users.run_every        = 60
  * db_poller.users.delay_time       = 2
  * db_poller.users.timestamp_column = updated_at
  * }}}
  *
  * Error discipline: parsing returns EVERY problem at once (unknown
  * key, bad value, missing required field), and settings the reference
  * marks `removed:` fail with the same style of migration guidance its
  * DSL prints — a config typo surfaces at load, never as a silently
  * ignored setting.
  */
final case class ProducersSettings(
    topicPrefix: String = "",
    disabled: Boolean = false,
    backend: String = "kafka_async",
    truncateColumns: Boolean = false)

final case class SchemaSettings(
    backend: String = "mock",
    path: Option[String] = None,
    registryUrl: String = "http://localhost:8081",
    generatedClassPath: String = "app/lib/schema_classes",
    useSchemaClasses: Boolean = false,
    nestChildSchemas: Boolean = true,
    useFullNamespace: Boolean = false,
    /** Gate every schema registration behind the registry's
      * compatibility pre-check
      * ([[graft.schema.SchemaRegistryClient.registerChecked]]):
      * an incompatible change fails with the typed 409 instead of
      * registering a breaking schema (round-16). */
    registryCheckCompatibility: Boolean = false) {

  /** Resolve a value schema file the way the reference resolves from
    * `schema.path` (namespace directories under the schema root). */
  def schemaFile(namespace: String, schemaName: String): Path = {
    val root = Paths.get(path.getOrElse(throw new IllegalStateException(
      "schema.path is not set: cannot resolve local schema files")))
    root.resolve(namespace).resolve(s"$schemaName.avsc")
  }
}

/** `outbox.log_topics` / `outbox.compact_topics`: `all`, or a list. */
sealed trait TopicSelector {
  def matches(topic: String): Boolean

  /** `Outbox.drainBatch`-shaped arguments: (compactAll, compactTopics). */
  def allOrNames: (Boolean, Set[String]) = this match {
    case TopicSelector.All => (true, Set.empty)
    case TopicSelector.Names(n) => (false, n)
  }
}
object TopicSelector {
  case object All extends TopicSelector {
    def matches(topic: String): Boolean = true
  }
  final case class Names(names: Set[String]) extends TopicSelector {
    def matches(topic: String): Boolean = names.contains(topic)
  }
  def parse(s: String): TopicSelector =
    if (s.trim == "all") All
    else Names(s.split(',').map(_.trim).filter(_.nonEmpty).toSet)
}

final case class OutboxSettings(
    logTopics: TopicSelector = TopicSelector.Names(Set.empty),
    compactTopics: TopicSelector = TopicSelector.Names(Set.empty))

/** One `db_poller.<name>.*` block (reference setting_object
  * `db_poller`, `configuration.rb:275-315`; defaults mirrored). */
final case class PollerSettings(
    mode: String = "time_based",
    runEverySec: Int = 60,
    retries: Int = 1,
    skipTooLargeMessages: Boolean = false,
    delaySec: Int = 2,
    timestampColumn: String = "updated_at",
    fullTable: Boolean = false,
    startFromBeginning: Boolean = true,
    stateColumn: Option[String] = None,
    publishTimestampColumn: Option[String] = None,
    publishedState: Option[String] = None,
    failedState: Option[String] = None,
    batchSize: Int = 1000)

final case class GraftConfigFile(
    producers: ProducersSettings = ProducersSettings(),
    schema: SchemaSettings = SchemaSettings(),
    kafkaBootstrapServers: Option[String] = None,
    outbox: OutboxSettings = OutboxSettings(),
    topics: Map[String, TopicConfig] = Map.empty,
    pollers: Map[String, PollerSettings] = Map.empty) {

  /** Push the file's kill-switch state into the engine-wide switch
    * (reference `producers.disabled`). */
  def applyKillSwitch(): Unit =
    EngineConfig.producersDisabled = producers.disabled

  def topic(name: String): TopicConfig =
    topics.getOrElse(name, throw new IllegalArgumentException(
      s"no topic.$name block in config (known: ${topics.keys.mkString(",")})"))

  /** Render the EFFECTIVE configuration back to the file syntax —
    * the dump-what-is-actually-running ops surface (every setting
    * explicit, defaults included), and a round-trip contract:
    * `parse(render(c)) == c` for any parseable config. */
  def render: String = {
    def sel(s: TopicSelector): String = s match {
      case TopicSelector.All => "all"
      case TopicSelector.Names(n) => n.toSeq.sorted.mkString(",")
    }
    def key(k: KeyConfig): String = k match {
      case KeyConfig.NoKey => "none"
      case KeyConfig.Plain(f) => s"plain:$f"
      case KeyConfig.Field(p) => s"field:$p"
      case KeyConfig.Schema(n) => s"schema:$n"
    }
    val b = new StringBuilder
    b ++= s"producers.topic_prefix = ${producers.topicPrefix}\n"
    b ++= s"producers.disabled = ${producers.disabled}\n"
    b ++= s"producers.backend = ${producers.backend}\n"
    b ++= s"producers.truncate_columns = ${producers.truncateColumns}\n"
    kafkaBootstrapServers.foreach(v => b ++= s"kafka.bootstrap_servers = $v\n")
    b ++= s"schema.backend = ${schema.backend}\n"
    schema.path.foreach(v => b ++= s"schema.path = $v\n")
    b ++= s"schema.registry_url = ${schema.registryUrl}\n"
    b ++= s"schema.generated_class_path = ${schema.generatedClassPath}\n"
    b ++= s"schema.use_schema_classes = ${schema.useSchemaClasses}\n"
    b ++= s"schema.nest_child_schemas = ${schema.nestChildSchemas}\n"
    b ++= s"schema.use_full_namespace = ${schema.useFullNamespace}\n"
    b ++= "schema.registry_check_compatibility = " +
      s"${schema.registryCheckCompatibility}\n"
    b ++= s"outbox.log_topics = ${sel(outbox.logTopics)}\n"
    b ++= s"outbox.compact_topics = ${sel(outbox.compactTopics)}\n"
    topics.toSeq.sortBy(_._1).foreach { case (name, t) =>
      b ++= s"topic.$name.schema = ${t.schemaName}\n"
      if (t.namespace.nonEmpty) b ++= s"topic.$name.namespace = ${t.namespace}\n"
      b ++= s"topic.$name.key_config = ${key(t.keyConfig)}\n"
      b ++= s"topic.$name.compacted = ${t.compacted}\n"
      b ++= s"topic.$name.save_associations_first = ${t.saveAssociationsFirst}\n"
      t.maxDbBatchSize.foreach(v => b ++= s"topic.$name.max_db_batch_size = $v\n")
      t.bootstrapServers.foreach(v => b ++= s"topic.$name.bootstrap_servers = $v\n")
      b ++= s"topic.$name.error_policy = ${
        if (t.errorPolicy == ErrorPolicy.Fatal) "fatal" else "skip"}\n"
      b ++= s"topic.$name.payload_log = ${t.payloadLog match {
        case PayloadLog.Full => "full"
        case PayloadLog.Keys => "keys"
        case PayloadLog.Count => "count"
        case PayloadLog.Headers => "headers"
      }}\n"
    }
    pollers.toSeq.sortBy(_._1).foreach { case (name, p) =>
      b ++= s"db_poller.$name.mode = ${p.mode}\n"
      b ++= s"db_poller.$name.run_every = ${p.runEverySec}\n"
      b ++= s"db_poller.$name.retries = ${p.retries}\n"
      b ++= s"db_poller.$name.skip_too_large_messages = ${p.skipTooLargeMessages}\n"
      b ++= s"db_poller.$name.delay_time = ${p.delaySec}\n"
      b ++= s"db_poller.$name.timestamp_column = ${p.timestampColumn}\n"
      b ++= s"db_poller.$name.full_table = ${p.fullTable}\n"
      b ++= s"db_poller.$name.start_from_beginning = ${p.startFromBeginning}\n"
      p.stateColumn.foreach(v => b ++= s"db_poller.$name.state_column = $v\n")
      p.publishTimestampColumn.foreach(v =>
        b ++= s"db_poller.$name.publish_timestamp_column = $v\n")
      p.publishedState.foreach(v => b ++= s"db_poller.$name.published_state = $v\n")
      p.failedState.foreach(v => b ++= s"db_poller.$name.failed_state = $v\n")
      b ++= s"db_poller.$name.batch_size = ${p.batchSize}\n"
    }
    b.toString
  }

  def poller(name: String): PollerSettings =
    pollers.getOrElse(name, throw new IllegalArgumentException(
      s"no db_poller.$name block in config (known: ${pollers.keys.mkString(",")})"))
}

object GraftConfigFile {

  /** Settings the reference marks `removed:` — kept as loud errors
    * with the same migration guidance, so a lifted-and-shifted deimos
    * config fails with directions instead of silently dropping keys
    * (`configuration.rb:68-130`, re-aimed at the Spark engine). */
  private[model] val Removed: Map[String, String] = Map(
    "logger" -> "the engine logs through Spark's log4j configuration",
    "phobos_logger" -> "the engine logs through Spark's log4j configuration",
    "payload_log" -> "use the metrics provider's payload-log shaping (observe.Metrics)",
    "kafka.seed_brokers" -> "use kafka.bootstrap_servers",
    "kafka.client_id" -> "pass kafka.client.id through source/sink options",
    "kafka.connect_timeout" -> "pass kafka.socket.connection.setup.timeout.ms through options",
    "kafka.socket_timeout" -> "pass kafka.socket.timeout.ms through options",
    "kafka.ssl.enabled" -> "pass kafka.security.protocol=SSL through source/sink options",
    "kafka.sasl.enabled" -> "pass kafka.security.protocol=SASL_SSL through source/sink options",
    "producers.required_acks" -> "pass kafka.acks through sink options",
    "producers.max_retries" -> "pass kafka.retries through sink options",
    "producers.retry_backoff" -> "pass kafka.retry.backoff.ms through sink options",
    "producers.compression_codec" -> "pass kafka.compression.type through sink options",
    "producers.schema_namespace" -> "use topic.<name>.namespace",
    "consumers.report_lag" -> "use Spark's StreamingQueryProgress metrics",
    "consumers.reraise_errors" -> "use the consumer hooks' error policy (fatal/skip/cooldown)",
    "db_producer.logger" -> "use outbox.log_topics",
    "db_producer.log_topics" -> "use outbox.log_topics",
    "db_producer.compact_topics" -> "use outbox.compact_topics")

  private val ProducerBackends = Set("kafka", "kafka_async", "outbox")
  private val SchemaBackends = Set("avro", "avro_ocf", "avro_registry",
    "proto", "proto_registry", "json", "mock")
  private val PollerModes = Set("time_based", "state_based")

  def load(path: Path): GraftConfigFile =
    parse(Files.readString(path))

  /** Parse a config text; throws IllegalArgumentException listing
    * EVERY problem found (one pass, all errors). */
  def parse(text: String): GraftConfigFile = {
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    val kv = scala.collection.mutable.LinkedHashMap[String, String]()
    text.linesIterator.zipWithIndex.foreach { case (raw, i) =>
      val line = raw.takeWhile(_ != '#').trim
      if (line.nonEmpty) line.split("=", 2) match {
        case Array(k, v) =>
          val key = k.trim
          if (kv.contains(key)) errors += s"line ${i + 1}: duplicate key $key"
          kv(key) = v.trim
        case _ => errors += s"line ${i + 1}: expected key = value, got: $line"
      }
    }

    def bool(k: String, v: String): Boolean = v match {
      case "true" => true
      case "false" => false
      case other => errors += s"$k: expected true/false, got '$other'"; false
    }
    def int(k: String, v: String): Int =
      try v.toInt catch {
        case _: NumberFormatException =>
          errors += s"$k: expected an integer, got '$v'"; 0
      }
    def keyConfig(k: String, v: String): KeyConfig = v.split(":", 2) match {
      case Array("none") => KeyConfig.NoKey
      case Array("plain", f) => KeyConfig.Plain(f)
      case Array("field", p) => KeyConfig.Field(p)
      case Array("schema", n) => KeyConfig.Schema(n)
      case _ =>
        errors += s"$k: expected none|plain:<f>|field:<path>|schema:<Name>, got '$v'"
        KeyConfig.NoKey
    }

    var producers = ProducersSettings()
    var schemaS = SchemaSettings()
    var outboxS = OutboxSettings()
    var bootstrap: Option[String] = None
    val topicKv = scala.collection.mutable
      .LinkedHashMap[String, scala.collection.mutable.LinkedHashMap[String, String]]()
    val pollerKv = scala.collection.mutable
      .LinkedHashMap[String, scala.collection.mutable.LinkedHashMap[String, String]]()

    kv.foreach { case (key, v) =>
      Removed.get(key) match {
        case Some(guidance) => errors += s"$key was removed: $guidance"
        case None => key match {
          case "producers.topic_prefix" =>
            producers = producers.copy(topicPrefix = v)
          case "producers.disabled" =>
            producers = producers.copy(disabled = bool(key, v))
          case "producers.backend" =>
            if (!ProducerBackends(v))
              errors += s"$key: '$v' is not one of ${ProducerBackends.toSeq.sorted.mkString("|")}"
            producers = producers.copy(backend = v)
          case "producers.truncate_columns" =>
            producers = producers.copy(truncateColumns = bool(key, v))
          case "kafka.bootstrap_servers" => bootstrap = Some(v)
          case "schema.backend" =>
            if (!SchemaBackends(v))
              errors += s"$key: '$v' is not one of ${SchemaBackends.toSeq.sorted.mkString("|")}"
            schemaS = schemaS.copy(backend = v)
          case "schema.path" => schemaS = schemaS.copy(path = Some(v))
          case "schema.registry_url" => schemaS = schemaS.copy(registryUrl = v)
          case "schema.generated_class_path" =>
            schemaS = schemaS.copy(generatedClassPath = v)
          case "schema.use_schema_classes" =>
            schemaS = schemaS.copy(useSchemaClasses = bool(key, v))
          case "schema.nest_child_schemas" =>
            schemaS = schemaS.copy(nestChildSchemas = bool(key, v))
          case "schema.use_full_namespace" =>
            schemaS = schemaS.copy(useFullNamespace = bool(key, v))
          case "schema.registry_check_compatibility" =>
            schemaS = schemaS.copy(registryCheckCompatibility = bool(key, v))
          case "outbox.log_topics" =>
            outboxS = outboxS.copy(logTopics = TopicSelector.parse(v))
          case "outbox.compact_topics" =>
            outboxS = outboxS.copy(compactTopics = TopicSelector.parse(v))
          case _ if key.startsWith("topic.") =>
            key.stripPrefix("topic.").split("\\.", 2) match {
              case Array(name, setting) =>
                topicKv.getOrElseUpdate(name,
                  scala.collection.mutable.LinkedHashMap())(setting) = v
              case _ => errors += s"$key: expected topic.<name>.<setting>"
            }
          case _ if key.startsWith("db_poller.") =>
            key.stripPrefix("db_poller.").split("\\.", 2) match {
              case Array(name, setting) =>
                pollerKv.getOrElseUpdate(name,
                  scala.collection.mutable.LinkedHashMap())(setting) = v
              case _ => errors += s"$key: expected db_poller.<name>.<setting>"
            }
          case other => errors += s"unknown setting: $other"
        }
      }
    }

    val topics = topicKv.map { case (name, settings) =>
      var t = TopicConfig(topic = name, schemaName = "",
        topicPrefix = producers.topicPrefix)
      settings.foreach { case (s, v) => s match {
        case "schema" => t = t.copy(schemaName = v)
        case "namespace" => t = t.copy(namespace = v)
        case "key_config" => t = t.copy(keyConfig = keyConfig(s"topic.$name.$s", v))
        case "compacted" => t = t.copy(compacted = bool(s"topic.$name.$s", v))
        case "save_associations_first" =>
          t = t.copy(saveAssociationsFirst = bool(s"topic.$name.$s", v))
        case "max_db_batch_size" =>
          t = t.copy(maxDbBatchSize = Some(int(s"topic.$name.$s", v)))
        case "bootstrap_servers" => t = t.copy(bootstrapServers = Some(v))
        case "error_policy" => v match {
          case "fatal" => t = t.copy(errorPolicy = ErrorPolicy.Fatal)
          case "skip" => t = t.copy(errorPolicy = ErrorPolicy.Skip)
          case other =>
            errors += s"topic.$name.error_policy: expected fatal|skip, got '$other'"
        }
        case "payload_log" => v match {
          case "full" => t = t.copy(payloadLog = PayloadLog.Full)
          case "keys" => t = t.copy(payloadLog = PayloadLog.Keys)
          case "count" => t = t.copy(payloadLog = PayloadLog.Count)
          case "headers" => t = t.copy(payloadLog = PayloadLog.Headers)
          case other =>
            errors += s"topic.$name.payload_log: expected full|keys|count|headers, got '$other'"
        }
        case other => errors += s"topic.$name.$other: unknown topic setting"
      }}
      if (t.schemaName.isEmpty) errors += s"topic.$name: schema is required"
      name -> t
    }.toMap

    val pollers = pollerKv.map { case (name, settings) =>
      var p = PollerSettings()
      settings.foreach { case (s, v) =>
        def k = s"db_poller.$name.$s"
        s match {
          case "mode" =>
            if (!PollerModes(v))
              errors += s"$k: '$v' is not one of ${PollerModes.toSeq.sorted.mkString("|")}"
            p = p.copy(mode = v)
          case "run_every" => p = p.copy(runEverySec = int(k, v))
          case "retries" => p = p.copy(retries = int(k, v))
          case "skip_too_large_messages" =>
            p = p.copy(skipTooLargeMessages = bool(k, v))
          case "delay_time" => p = p.copy(delaySec = int(k, v))
          case "timestamp_column" => p = p.copy(timestampColumn = v)
          case "full_table" => p = p.copy(fullTable = bool(k, v))
          case "start_from_beginning" =>
            p = p.copy(startFromBeginning = bool(k, v))
          case "state_column" => p = p.copy(stateColumn = Some(v))
          case "publish_timestamp_column" =>
            p = p.copy(publishTimestampColumn = Some(v))
          case "published_state" => p = p.copy(publishedState = Some(v))
          case "failed_state" => p = p.copy(failedState = Some(v))
          case "batch_size" => p = p.copy(batchSize = int(k, v))
          case other => errors += s"db_poller.$name.$other: unknown poller setting"
        }
      }
      if (p.mode == "state_based" && p.stateColumn.isEmpty)
        errors += s"db_poller.$name: state_based mode requires state_column"
      name -> p
    }.toMap

    if (errors.nonEmpty)
      throw new IllegalArgumentException(
        s"config has ${errors.size} problem(s):\n  " + errors.mkString("\n  "))
    GraftConfigFile(producers, schemaS, bootstrap, outboxS, topics, pollers)
  }
}
