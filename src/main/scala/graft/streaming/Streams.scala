package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, DataStreamWriter, Trigger}

import graft.model.{EngineConfig, KeyConfig, MessageCols, TopicConfig}
import graft.operators.{Compaction, Materialize, Pipeline}
import graft.schema.SchemaBackend

/** Structured-Streaming wiring: the produce middleware chain, the
  * consume decode→compact→merge chain, and the Kafka source/sink
  * builders. Mirrors the reference lifecycles (SURVEY.md §3.1–§3.3)
  * with micro-batches replacing Karafka's poll loop.
  *
  * Everything upstream of the sink is one Catalyst plan; ordering
  * guarantees come from key-partitioned windows (not single-threaded
  * loops), which is what survives a 1000-executor deployment.
  */
object Streams {

  /** §3.1 produce path: payload frame → Kafka-shaped frame
    * (topic/key/value[/headers]/partition_key). Column pipeline:
    * auto-fields → key extraction → encode → topic prefix (reference:
    * `ext/producer_middleware.rb:15-41,68-122`).
    *
    * A `headers` column on the input rides alongside the encoded
    * payload (first-class Message field — reference
    * `message.rb:11,25-30,71-88`, producer API `producer.rb:82,110`),
    * emitted in Spark's Kafka wire shape
    * ([[MessageCols.HeadersWireType]]; a `MAP<STRING,STRING>` input is
    * converted, an already-wire-shaped one passes through). Absent
    * headers are absent from the output too — the reference drops nil
    * headers from the produced hash (`message.rb:71-78` delete_if).
    */
  def toKafkaFrame(payloads: DataFrame, cfg: TopicConfig,
      backend: SchemaBackend, keyBackend: Option[SchemaBackend] = None,
      producerClass: String = "default"): DataFrame = {
    // NOTE: the kill switch is checked at PLAN-CONSTRUCTION time — a
    // frame already wired into a running streaming query keeps
    // producing after EngineConfig.disable(); stop the query to halt
    // an active producer (the reference's per-publish check has no
    // analog inside a compiled Catalyst plan).
    require(EngineConfig.producerEnabled(producerClass),
      s"producers disabled for $producerClass")
    val withFields0 = Pipeline.autoFields(payloads)
    // partition_key and headers ride alongside, never inside, the
    // encoded payload (P13 — reference producer_middleware.rb:50-56;
    // headers — message.rb:71-78)
    val payloadCols = payloads.columns.filterNot(c =>
      c == MessageCols.PartitionKey || c == MessageCols.Headers)
    // auto-fields join the payload ONLY when the value schema declares
    // them (message.rb adds them schema-conditionally): for a to_json
    // backend an undeclared message_id/timestamp would leak surrogate
    // bytes onto the wire, making identical payloads byte-diverge per
    // run (Avro's name-aligned mapping merely ignored the extras)
    val autoFieldCols = Seq("message_id", "timestamp").filter(f =>
      !payloadCols.contains(f) && backend.schemaFields.contains(f))
    // the payload struct is CAPTURED before the key column is written:
    // a payload field legitimately named "key" would otherwise be
    // overwritten by withColumn below and encode as null/garbage bytes
    // — silent corruption of every produced message
    val withFields = withFields0.withColumn("__graft_payload",
      struct((payloadCols ++ autoFieldCols).map(col).toIndexedSeq: _*))
    val keyed = cfg.keyConfig match {
      case KeyConfig.NoKey =>
        withFields.withColumn(MessageCols.Key, lit(null).cast("binary"))
      case KeyConfig.Plain(field) =>
        withFields.withColumn(MessageCols.Key,
          col(field).cast("string").cast("binary"))
      case KeyConfig.Field(path) =>
        // AVRO: the key codec must be the auto-generated one-field
        // key-record schema (reference avro_base.rb:160-177), never
        // the value schema — encoding a one-field struct with the
        // full value schema either throws (required fields) or
        // silently writes value-schema bytes, wire divergence either
        // way. Non-Avro backends (JSON / proto) have
        // schema-independent key encodes (to_json of the key struct,
        // proto_base.rb:58-66 parity), so they key with themselves.
        val kb = keyBackend.orElse(backend match {
          // nested dot-paths can't use the derived top-level key
          // schema (field name would not match the extracted leaf).
          // EXACT AvroBackend only: a registry-framed / DataFile
          // subclass deriving a RAW-binary key codec would mix wire
          // formats on one message (framed value, unframed key — a
          // Confluent-standard consumer can't decode the key), so
          // subclasses require an explicit keyBackend carrying the
          // right framing.
          case ab: graft.schema.AvroBackend
              if ab.getClass == classOf[graft.schema.AvroBackend] &&
                !path.contains('.') =>
            ab.keyBackend(cfg.keyConfig)
          case _: graft.schema.AvroBackend => None
          case other => Some(other)
        }).getOrElse(throw new IllegalArgumentException(
          s"KeyConfig.Field($path) requires an explicit keyBackend: " +
            "the value backend cannot derive one (nested-path key, or " +
            "a framed/DataFile backend whose derived key codec would " +
            "not carry the value's wire framing)"))
        withFields.withColumn(MessageCols.Key,
          kb.encodeKeyExpr(struct(
            Pipeline.extractKey(path).as(path.split('.').last))))
      case KeyConfig.Schema(name) =>
        // the key record is the key backend's declared fields projected
        // out of the payload (reference: explicit key schema mode);
        // encoding the key with the VALUE schema would be silent
        // corruption, so an explicit key backend is required
        val kb = keyBackend.getOrElse(throw new IllegalArgumentException(
          s"KeyConfig.Schema($name) requires an explicit keyBackend"))
        // every declared key field must exist in the payload (auto
        // fields included): silently dropping a missing one would
        // encode a PARTIAL key — or the same constant key for every
        // row — collapsing distinct entities at the merge (the exact
        // silent corruption this branch's design notes forbid)
        val available = (payloadCols ++ Seq("message_id", "timestamp")).toSet
        val missing = kb.schemaFields.filterNot(available.contains)
        require(missing.isEmpty,
          s"KeyConfig.Schema($name): key fields ${missing.mkString(", ")} " +
            s"not present in the payload (has ${payloadCols.mkString(", ")})")
        withFields.withColumn(MessageCols.Key,
          kb.encodeKeyExpr(struct(kb.schemaFields.map(col): _*)))
    }
    val headerCols =
      if (!payloads.columns.contains(MessageCols.Headers)) Seq.empty
      else Seq(MessageCols.headersAsWire(payloads).as(MessageCols.Headers))
    val base = keyed.select(Seq(
      lit(cfg.fullTopic).as(MessageCols.Topic),
      col(MessageCols.Key),
      backend.encodeExpr(col("__graft_payload")).as(MessageCols.Value)) ++
      headerCols ++ Seq(
      (if (payloads.columns.contains(MessageCols.PartitionKey))
        col(MessageCols.PartitionKey)
      else lit(null).cast("string")).as(MessageCols.PartitionKey)): _*)
    base
  }

  /** §3.2 consume path prefix: Kafka-shaped frame → decoded payload +
    * key + stream metadata. Tombstones (null value) decode to null
    * payload (reference transcoder: `transcoder.rb:89-97`).
    *
    * @param lenient when true, the VALUE decode goes through
    *   [[SchemaBackend.decodeLenientExpr]]: a corrupt frame yields a
    *   null payload beside its non-null raw value — the caller's
    *   dead-letter signal (see `BatchConsumer`'s `deadLetterSink`) —
    *   instead of failing the task. Key decode stays strict by
    *   default: a frame whose VALUE decodes but whose key does not is
    *   not separable from data loss, and must stop the world.
    * @param lenientKeys round-11 opt-in third mode (see
    *   `BatchConsumer.quarantineKeys`): the KEY decode also goes
    *   through TryEval, yielding a null `decoded_key` beside non-null
    *   raw key bytes — the caller's signal to quarantine the row.
    *   Only meaningful with a schema `keyBackend` (a plain
    *   string-cast key cannot fail). */
  def fromKafkaFrame(kafka: DataFrame, backend: SchemaBackend,
      keyBackend: Option[SchemaBackend] = None,
      lenient: Boolean = false, lenientKeys: Boolean = false): DataFrame = {
    val decodedKey = keyBackend match {
      case Some(kb) if lenientKeys => kb.decodeKeyLenientExpr(col(MessageCols.Key))
      case Some(kb) => kb.decodeKeyExpr(col(MessageCols.Key))
      case None => col(MessageCols.Key).cast("string")
    }
    val decodeValue =
      if (lenient) backend.decodeLenientExpr(col(MessageCols.Value))
      else backend.decodeExpr(col(MessageCols.Value))
    val decoded = kafka.withColumn("payload",
      when(col(MessageCols.Value).isNotNull, decodeValue))
      .withColumn("decoded_key", decodedKey)
    // headers surface as a MAP alongside the decoded payload/key
    // (reference message.rb:79-88: headers are a first-class field of
    // the consumed message hash). Wire-shaped frames (Kafka source
    // with includeHeaders, toKafkaFrame output) convert; a frame whose
    // headers already are a map passes through.
    if (!kafka.columns.contains(MessageCols.Headers)) decoded
    else decoded.withColumn("decoded_headers", MessageCols.headersAsMap(kafka))
  }

  /** §3.2 consume path suffix as a streaming sink: per micro-batch,
    * [[mergeBatch]] — compact last-wins on the key and hand (upserts,
    * deletes) to the sink. At-least-once delivery + key-idempotent
    * merge ≡ the reference's delivery contract (T1).
    *
    * The frame reaches the sink as decoded: no consumer hooks, no
    * dead-letter split, no counters. A topic with a consumer behind it
    * goes through `BatchConsumer.stream`, which runs the consumer's
    * per-batch stages and then the same [[mergeBatch]]. An uncompacted
    * topic whose batch needs more than 1024 key-disjoint waves fails
    * loudly there; hot-key topics belong on [[mergeSinkOrdered]].
    *
    * @param sink  (upserts, deletes, batchId) → Unit, e.g. a JdbcMerger
    *              call or a snapshot-table merge.
    */
  def mergeSink(decoded: DataFrame, keyCols: Seq[String], orderCol: Column,
      tombstone: Column, compacted: Boolean = true)(
      sink: (DataFrame, DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    decoded.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      mergeBatch(batch, batchId, keyCols, orderCol, tombstone, compacted)(sink)
    }

  /** Most waves one uncompacted batch may apply (see [[mergeBatch]]). */
  private val MaxWaves = 1024

  /** One batch of the consume suffix, the body every streaming merge
    * path runs per micro-batch ([[mergeSink]], `BatchConsumer.stream`).
    *
    * Compacted topics: `Compaction.lastWinsKeyed` (rows with a NULL key
    * pass through uncompacted — the reference's blank-key guard,
    * `batch_consumption.rb:121-125`) → `splitTombstones` → ONE `sink`
    * call.
    *
    * Uncompacted topics: key-disjoint waves applied in order (reference
    * BatchSlicer semantics, `batch_consumption.rb:127-136`), one `sink`
    * call per wave, preceded by one call for the NULL-key rows when
    * there are any. The batch is persisted for the duration of the
    * call (it feeds the unkeyed probe, the unkeyed sink leg and the
    * wave machinery), and the wave frame is released through
    * `Compaction.withSlices`, so no cache outlives the batch. Each wave
    * is a Spark job, so a batch needing more than `MaxWaves` (1024) waves
    * (one key carrying that many versions) fails loudly after the
    * wave count, before any wave runs, instead of stalling the driver;
    * hot-key topics belong on [[mergeSinkOrdered]].
    */
  def mergeBatch(batch: DataFrame, batchId: Long, keyCols: Seq[String],
      orderCol: Column, tombstone: Column, compacted: Boolean)(
      sink: (DataFrame, DataFrame, Long) => Unit): Unit =
    if (compacted) {
      val (up, del) = Materialize.splitTombstones(
        Compaction.lastWinsKeyed(batch, keyCols, orderCol), tombstone)
      sink(up, del, batchId)
    } else {
      // NULL-key rows all share one window partition, so wave numbering
      // would hand each its own wave (one sequential job per row, and
      // the wave cap tripped by ~1k unkeyed rows). They carry no per-key
      // ordering constraint, so they apply as one leading wave.
      val cached = batch.persist()
      try {
        val keyNull = keyCols.map(col(_).isNull).reduce(_ || _)
        val unkeyed = cached.filter(keyNull)
        if (!unkeyed.isEmpty) {
          val (up, del) = Materialize.splitTombstones(unkeyed, tombstone)
          sink(up, del, batchId)
        }
        Compaction.withSlices(cached.filter(!keyNull), keyCols, orderCol) { slices =>
          if (slices.size > MaxWaves)
            throw new IllegalStateException(
              s"uncompacted batch $batchId needs ${slices.size} waves " +
                s"(> $MaxWaves): a single key carries that many " +
                "versions. Use mergeSinkOrdered (one-job per-key ordered " +
                "apply) for this topic.")
          slices.foreach { slice =>
            val (up, del) = Materialize.splitTombstones(slice, tombstone)
            sink(up, del, batchId)
          }
        }
      } finally cached.unpersist(false)
    }

  /** Uncompacted ordered apply in ONE job per micro-batch: rows are
    * shuffled to their key's partition and sorted (key, orderCol), so
    * `rowSink` sees every version of a key consecutively, in order —
    * the same per-key sequencing the wave path guarantees, without one
    * Spark job per wave. This is the scale-safe path for skewed
    * topics: a 10k-version hot key costs one task's loop, not 10k
    * sequential jobs stalling the driver.
    *
    * @param rowSink executor-side partition consumer (e.g. a JDBC
    *   upsert loop); opens its own connection per partition.
    */
  def mergeSinkOrdered(decoded: DataFrame, keyCols: Seq[String],
      orderCol: Column)(
      rowSink: (Iterator[org.apache.spark.sql.Row], Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] = {
    decoded.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      Compaction.orderedByKey(batch, keyCols, orderCol)
        .foreachPartition((rows: Iterator[org.apache.spark.sql.Row]) =>
          rowSink(rows, batchId))
    }
  }

  /** Kafka source reader for a topic config (S5). The full option
    * matrix is pinned by `KafkaWiringSpec` — the sandbox has neither a
    * broker nor the kafka connector jar, so the constructed reader is
    * the deepest testable boundary (COVERAGE.md §2.1): per-topic
    * bootstrap override (T10), prefixed subscribe, earliest offsets,
    * and an optional per-trigger offset cap (T8 pacing at the source —
    * what bounds a micro-batch when a 1000-executor job falls behind
    * by a week of history).
    */
  def kafkaSource(spark: org.apache.spark.sql.SparkSession,
      cfg: TopicConfig, bootstrapServers: String,
      maxOffsetsPerTrigger: Option[Long] = None,
      includeHeaders: Boolean = false): DataStreamReader = {
    val r0 = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers",
        cfg.bootstrapServers.getOrElse(bootstrapServers))
      .option("subscribe", cfg.fullTopic)
      .option("startingOffsets", "earliest")
    // Spark's Kafka source omits the headers column unless asked
    val r = if (includeHeaders) r0.option("includeHeaders", "true") else r0
    maxOffsetsPerTrigger.fold(r)(n => r.option("maxOffsetsPerTrigger", n.toString))
  }

  /** Multi-topic source: ONE reader subscribed to several configs'
    * full topics (Spark's comma-list subscribe). All configs must
    * agree on the cluster — a mixed list would silently read only one
    * cluster's topics, so it fails loudly instead (T10). */
  def kafkaSourceMulti(spark: org.apache.spark.sql.SparkSession,
      cfgs: Seq[TopicConfig], bootstrapServers: String,
      maxOffsetsPerTrigger: Option[Long] = None,
      includeHeaders: Boolean = false): DataStreamReader = {
    require(cfgs.nonEmpty, "kafkaSourceMulti needs at least one topic")
    // compare each config's EFFECTIVE cluster (override or the engine
    // default) — comparing only the explicit overrides would let one
    // overridden config drag default-cluster topics onto its cluster
    // silently, the exact failure this guard exists to prevent
    val effective = cfgs
      .map(c => c.fullTopic -> c.bootstrapServers.getOrElse(bootstrapServers))
    val clusters = effective.map(_._2).distinct
    require(clusters.size == 1,
      s"topic configs span clusters ($effective): one reader reads one cluster")
    // same pacing/headers surface as [[kafkaSource]]: a multi-topic
    // reader that falls behind needs the per-trigger cap just as much
    // as a single-topic one (the old asymmetry forced N readers)
    val r0 = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", clusters.head)
      .option("subscribe", cfgs.map(_.fullTopic).mkString(","))
      .option("startingOffsets", "earliest")
    val r = if (includeHeaders) r0.option("includeHeaders", "true") else r0
    maxOffsetsPerTrigger.fold(r)(n =>
      r.option("maxOffsetsPerTrigger", n.toString))
  }

  /** Kafka sink writer for a produced frame (S1/S2; async-ness is a
    * client-level concern in Spark's Kafka sink). The frame's `topic`
    * column routes each row (so one sink serves many topics); options
    * + trigger pinned by `KafkaWiringSpec`. */
  def kafkaSink(frame: DataFrame, bootstrapServers: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): DataStreamWriter[org.apache.spark.sql.Row] =
    frame.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)

  /** [EXT] T4: event-time tumbling-window aggregation with watermark —
    * available to analytics pipelines, not used by core semantics
    * (which are processing-time, T3). */
  def windowedCounts(events: DataFrame, tsCol: String, watermark: String,
      window_ : String, groupCols: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy((window(col(tsCol), window_) +: groupCols.map(col)).toIndexedSeq: _*)
      .agg(count(lit(1)).as("n"))

  /** [EXT] T4: event-time SESSION windows — the streaming counterpart
    * of the batch gap-rule sessionization (x17/x70): a session closes
    * when `gap` passes with no further event for its keys, which in
    * append mode means a session row is emitted exactly once, when the
    * watermark passes its end. Same growing-window semantics as the
    * batch lag/cumsum rule: an event within `gap` of the session's
    * LAST event extends it. State is per (key, open session) in the
    * state store and is evicted at emission — bounded by live keys,
    * not history. */
  def sessionCounts(events: DataFrame, tsCol: String, watermark: String,
      gap: String, groupCols: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy((session_window(col(tsCol), gap) +: groupCols.map(col))
        .toIndexedSeq: _*)
      .agg(count(lit(1)).as("n_events"))
      .select(groupCols.map(col) ++ Seq(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events")): _*)

  /** [EXT] T4: watermarked stream-stream interval join — the streaming
    * counterpart of the batch range join (x20): a left event matches
    * right events with the same key whose timestamps fall in
    * `[leftTs - before, leftTs + after]`. Both sides carry watermarks,
    * so Spark bounds the join state on each side to the interval plus
    * the watermark delay and evicts as the watermark advances — the
    * state never grows with stream length, only with the window's
    * in-flight volume. Inner join ⇒ append mode; results emit when
    * the watermark proves no further match can arrive.
    *
    * Column-name contract: the two frames must not share column names
    * other than `keyCol` (rename upstream, the usual stream-join
    * hygiene).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTsCol: String, rightTsCol: String, watermark: String,
      before: String, after: String): DataFrame = {
    val l = left.withWatermark(leftTsCol, watermark)
    val r = right.withWatermark(rightTsCol, watermark)
    l.join(r, l(keyCol) === r(keyCol) &&
      col(rightTsCol) >= col(leftTsCol) - expr(s"INTERVAL $before") &&
      col(rightTsCol) <= col(leftTsCol) + expr(s"INTERVAL $after"))
      .drop(r(keyCol))
  }
}
