package graft.produce

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.{MessageCols, TopicConfig}
import graft.operators.Pipeline
import graft.schema.SchemaBackend
import graft.streaming.Streams

/** Producer-side extension API (U1/P13 hook set — reference:
  * `active_record_producer.rb:75-130`, `producer.rb:73-75`). */
trait ProducerHooks extends Serializable {
  /** U1: `generate_payload` — shape attrs into the payload frame
    * (default: schema projection happens downstream). */
  def generatePayload(attrs: DataFrame): DataFrame = attrs
  /** P13: `partition_key(payload)` — explicit partition key, used for
    * Kafka partitioning when it differs from the message key. */
  def partitionKey: Option[Column] = None
}

object Producer {

  /** Full §3.1 produce chain with P13 partition-key assignment and T7
    * too-large handling: payload → (topic, key, value, partition_key),
    * with rows exceeding `maxMessageBytes` split off (the poller skips
    * them, the outbox deletes them — policy belongs to the caller).
    *
    * When an explicit partition key exists alongside a message key it
    * rides in `partition_key` (the Kafka sink partitions by `key`
    * unless the caller maps partition_key over it — reference
    * semantics of `producer_middleware.rb:50-56`).
    *
    * @param headers per-row headers expression (`MAP<STRING,STRING>`)
    *   attached to every produced message — the frame analog of the
    *   reference's `publish(payload, headers:)` /
    *   `publish_list(payloads, headers:)` argument
    *   (`producer.rb:82,110-118`; one hash per publish call generalizes
    *   to a column here). A `headers` column already on `attrs` (or
    *   added by `generatePayload`) is carried too; the explicit
    *   argument wins when both exist. Headers never enter the encoded
    *   payload — they ride beside it in Kafka wire shape.
    */
  def produceFrame(attrs: DataFrame, cfg: TopicConfig, backend: SchemaBackend,
      hooks: ProducerHooks = new ProducerHooks {},
      keyBackend: Option[SchemaBackend] = None,
      maxMessageBytes: Option[Int] = None,
      headers: Option[Column] = None): (DataFrame, DataFrame) = {
    val shaped0 = hooks.generatePayload(attrs)
    val shaped = headers.fold(shaped0)(h =>
      shaped0.withColumn(MessageCols.Headers, h))
    // headers survive the payload projection (they're frame metadata,
    // not a schema field — schemaProject would drop them otherwise)
    val payloads = Pipeline.schemaProject(shaped,
      backend.schemaFields ++
        (if (shaped.columns.contains(MessageCols.Headers))
          Seq(MessageCols.Headers) else Nil))
    val withPk = hooks.partitionKey match {
      case Some(pk) =>
        payloads.withColumn(MessageCols.PartitionKey, pk.cast("string"))
      case None => payloads
    }
    val framed = Streams.toKafkaFrame(withPk, cfg, backend, keyBackend)
    // No implicit persist here: produceFrame has no release path, and
    // a dropped cache handle leaks an entry in the CacheManager per
    // call (strongly referenced, never GC'd) — in a batch loop that
    // fills executor storage. The lazy split evaluates the encode
    // once per SIDE; loops that need single-encode semantics call
    // [[splitTooLarge]] directly and release after writing.
    maxMessageBytes match {
      case Some(max) =>
        val sized = framed
          .withColumn("__graft_len", length(col(MessageCols.Value)))
        (sized.filter(col("__graft_len") <= max).drop("__graft_len"),
          sized.filter(col("__graft_len") > max).drop("__graft_len"))
      case None => (framed, framed.limit(0))
    }
  }

  /** T7 split with an explicit cache-release handle: encode runs once
    * per row — the framed batch is persisted before splitting, because
    * two naked filters would each re-evaluate the Avro encode
    * expression (the expensive part of this path). Call `release()`
    * after both sides are written; inside foreachBatch this prevents
    * per-micro-batch caches accumulating. `produceFrame` discards the
    * handle (callers that split per batch should use this directly).
    */
  def splitTooLarge(framed: DataFrame, maxMessageBytes: Option[Int])
      : (DataFrame, DataFrame, () => Unit) =
    maxMessageBytes match {
      case Some(max) =>
        val sized = framed
          .withColumn("__graft_len", length(col(MessageCols.Value)))
          .persist()
        (sized.filter(col("__graft_len") <= max).drop("__graft_len"),
          sized.filter(col("__graft_len") > max).drop("__graft_len"),
          () => { sized.unpersist(); () })
      case None => (framed, framed.limit(0), () => ())
    }
}
