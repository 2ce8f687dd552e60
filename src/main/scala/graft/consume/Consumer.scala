package graft.consume

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.model.{MessageCols, TopicConfig}
import graft.observe.Metrics
import graft.operators.{Compaction, Materialize, Pipeline}
import graft.schema.SchemaBackend
import graft.streaming.Streams

/** The engine's public consumer extension API — the U4 hook set of the
  * reference (`active_record_consumer.rb:96-117`,
  * `batch_consumption.rb:103-113,203-208`,
  * `message_consumption.rb:19-31,78-84`), re-typed for DataFrames:
  * per-row hooks are `Column` predicates (stay in codegen), shaping
  * hooks are `DataFrame => DataFrame` transforms, lifecycle hooks are
  * driver-side callbacks.
  */
trait ConsumerHooks extends Serializable {
  /** P3: `process_message?` — rows filtered out but offsets committed. */
  def processMessage: Column = lit(true)
  /** P4: `should_consume?` — record-level validity; failures counted. */
  def shouldConsume: Column = lit(true)
  /** U2: `record_attributes` — payload → target-row shaping. */
  def recordAttributes(payload: DataFrame): DataFrame = payload
  /** tombstone/delete predicate (`delete_record?`). */
  def isTombstone: Column
  /** S9: `watched_attributes` — only changes on these trigger CDC. */
  def watchedAttributes: Seq[String] = Seq.empty
  /** lifecycle: `pre_process` / `post_process_batch`. */
  def preProcess(batch: DataFrame): Unit = ()
  def postProcessBatch(valid: DataFrame, invalid: DataFrame): Unit = ()
  /** T6: errors are swallowed (batch skipped) unless fatal — the
    * reference's `fatal_error?` / `reraise_errors` policy
    * (`consumer.rb:42-54`). Default: everything is fatal (safer than
    * the reference's swallow-by-default; opt in to skipping). */
  def fatalError(e: Throwable): Boolean = true
  def onError(e: Throwable, batchId: Long): Unit = ()
}

/** Batch consumer pipeline: the §3.2 consume lifecycle of one topic as
  * one object. Both modes — [[consumeBatch]] over one Kafka-shaped
  * frame, [[stream]] once per micro-batch — run the SAME per-batch
  * stages, in this order:
  *
  *  1. decode (`Streams.fromKafkaFrame`, lenient when a
  *     `deadLetterSink` is set);
  *  1. dead-letter split (only with a `deadLetterSink`): the decoded
  *     batch is persisted for the batch's duration, non-empty poison
  *     goes to the sink with its raw bytes, the rest proceeds;
  *  1. `preProcess` → `processMessage` filter →
  *     `Pipeline.partitionValid(shouldConsume)` → `postProcessBatch`
  *     → `recordAttributes` on the valid side. The predicates see the
  *     decoded frame, not the shaped one;
  *  1. compaction: `Compaction.lastWinsKeyed` for compacted topics
  *     (NULL-key rows pass through, none collapse), every surviving
  *     version otherwise → `splitTombstones`.
  *
  * Stages 2–4 of every batch (and, in [[stream]], the sink call) run
  * inside one `graft-consumer` span (resource = topic). Every batch
  * records the same counters in both modes: `ConsumeBatch` (1),
  * `DeadLetters` (with a `deadLetterSink`), `ValidRecords` and
  * `InvalidRecords`. All but `ConsumeBatch` cost a Spark action, so
  * they are counted only when a real `metrics` provider is attached.
  *
  * Persist scope: one batch. In [[stream]] that is the micro-batch;
  * [[consumeBatch]] releases the cache before it returns, so its lazy
  * (upserts, deletes) frames re-read the input when evaluated.
  */
class BatchConsumer(
    val cfg: TopicConfig,
    val backend: SchemaBackend,
    val hooks: ConsumerHooks,
    val keyCols: Seq[String],
    val orderCol: String,
    val metrics: graft.observe.Metrics = graft.observe.Metrics.noop,
    val tracer: graft.observe.Tracing = graft.observe.Tracing.noop,
    /** Opt-in dead-letter queue: when set, value decode is lenient
      * (per-record — `SchemaBackend.decodeLenientExpr`) and frames
      * whose non-null value failed to decode are handed here, raw
      * bytes intact, before the batch proceeds without them. Unset
      * (default), any corrupt frame fails the batch — T6's
      * maximally-safe default at record grain.
      *
      * Delivery contract: AT-LEAST-ONCE, same as the main path (T1) —
      * in streaming mode the handler runs inside `foreachBatch`
      * before the checkpoint commit, so a crash after delivery
      * replays the batch and re-delivers the same rows (pinned by
      * ConsumerSpec's crash-replay test). Point it at an idempotent
      * target (PK on (topic, offset), keyed upsert) exactly like the
      * merge sink.
      *
      * Operational note: the lenient decode routes ANY NonFatal
      * decode failure here, including transient non-data faults (a
      * registry outage mid-decode looks like poison). ALERT on the
      * `Metrics.DeadLetters` counter rate — a corpus emits poison at
      * a trickle; a step change means infrastructure, not data, and
      * the quarantined raw bytes are replayable once it heals. */
    val deadLetterSink: Option[DataFrame => Unit] = None,
    /** Key codec for `decoded_key` (strict by default). Without one,
      * keys pass through as a string cast (never fails). */
    val keyBackend: Option[SchemaBackend] = None,
    /** Round-11 opt-in THIRD error mode: also quarantine rows whose
      * KEY fails lenient decode (raw key+value bytes to the DLQ).
      * Default false — a corrupt key still kills the job even when a
      * `deadLetterSink` handles corrupt values, because a lost key is
      * not separable from data loss (it breaks compaction grouping
      * and merge identity); quarantining keys is a deliberate,
      * per-topic decision. Requires `deadLetterSink` and a
      * `keyBackend`. The three modes, ConsumerSpec-pinned:
      *  1. strict (default): any corrupt frame fails the batch;
      *  2. value-DLQ: corrupt values quarantine, corrupt keys kill;
      *  3. key+value-DLQ: both quarantine, raw bytes intact. */
    val quarantineKeys: Boolean = false) {

  require(!quarantineKeys || (deadLetterSink.isDefined && keyBackend.isDefined),
    "quarantineKeys needs both a deadLetterSink (quarantine target) and " +
      "a keyBackend (a string-cast key cannot fail decode)")

  /** Batch-mode consume of a Kafka-shaped frame: the per-batch stages
    * (see [[BatchConsumer]]) once, returning the final (upserts,
    * deletes). Compacted topics return `lastWinsKeyed` survivors,
    * uncompacted ones every surviving version. The span is named like
    * the reference's (`consumer.rb:28-31`: span 'deimos-consumer',
    * resource = consumer class); errors are recorded on it before they
    * propagate. */
  def consumeBatch(kafka: DataFrame): (DataFrame, DataFrame) =
    inBatch(decodeFrame(kafka)) { shaped =>
      Materialize.splitTombstones(
        if (cfg.compacted) Compaction.lastWinsKeyed(shaped, keyCols, col(orderCol))
        else shaped,
        hooks.isTombstone)
    }

  /** Streaming-mode consume via foreachBatch: per micro-batch the
    * per-batch stages (see [[BatchConsumer]]), then
    * `Streams.mergeBatch` hands compacted (upserts, deletes) — or, for
    * uncompacted topics, one pair per key-disjoint wave — to `sink`.
    * Same hooks, counters, span and rows as [[consumeBatch]] on the
    * same frame.
    *
    * T6 error policy, on `sink` errors: non-fatal ones skip the batch
    * (offsets advance, at-least-once preserved by the next batch's
    * key-idempotent merge); fatal ones fail the query. An error is
    * fatal when EITHER the hook (`fatalError`, code-level) or the
    * topic's declarative `errorPolicy` (config-level) keeps it fatal —
    * each layer starts maximally safe (both default fatal) and may
    * only RELAX its own default, so a batch skips only when both
    * layers opted in. (Deliberate divergence from the reference's
    * escalate-on-either: its default hook is all-SKIP, ours is
    * all-fatal, so escalate-on-either would make the config setting
    * dead code here.) JVM-fatal throwables (OutOfMemoryError,
    * interrupts — anything outside `NonFatal`) always propagate, no
    * matter what either layer says. Errors raised by the hooks or the
    * `deadLetterSink` are not the sink's and fail the query. */
  def stream(kafka: DataFrame)(
      sink: (DataFrame, DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val guarded: (DataFrame, DataFrame, Long) => Unit = (up, del, id) =>
      try sink(up, del, id)
      catch {
        case e: Throwable
            if scala.util.control.NonFatal(e) &&
              (!hooks.fatalError(e) || !cfg.errorPolicy.isFatal(e)) =>
          hooks.onError(e, id)
      }
    decodeFrame(kafka).writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      inBatch(batch) { shaped =>
        Streams.mergeBatch(shaped, batchId, keyCols, col(orderCol),
          hooks.isTombstone, cfg.compacted)(guarded)
      }
    }
  }

  /** Decode with the configured error mode (see [[quarantineKeys]]). */
  private def decodeFrame(kafka: DataFrame): DataFrame =
    Streams.fromKafkaFrame(kafka, backend, keyBackend,
      lenient = deadLetterSink.isDefined, lenientKeys = quarantineKeys)

  /** A row is poison when its non-null value failed decode — and, in
    * the key-quarantine mode, when its non-null key did. */
  private def poisonPredicate: Column = {
    val v = Pipeline.undecodable(col(MessageCols.Value), col("payload"))
    if (quarantineKeys)
      v || Pipeline.undecodable(col(MessageCols.Key), col("decoded_key"))
    else v
  }

  /** The per-batch stages both modes share, inside the
    * `graft-consumer` span: dead-letter split, `preProcess`,
    * `processMessage`, `shouldConsume` with its counters,
    * `postProcessBatch`, then `body` over the `recordAttributes`-shaped
    * valid rows. */
  private def inBatch[T](decoded: DataFrame)(body: DataFrame => T): T =
    tracer.withSpan("graft-consumer", cfg.fullTopic) {
      metrics.count(Metrics.ConsumeBatch, 1L)
      withoutPoison(decoded) { live =>
        hooks.preProcess(live)
        val (valid, invalid) = Pipeline.partitionValid(
          live.filter(hooks.processMessage), hooks.shouldConsume)
        // counting forces extra pipeline evaluations — only pay for it
        // when a real metrics provider is attached
        if (metrics ne Metrics.noop) {
          metrics.count(Metrics.ValidRecords, valid.count())
          metrics.count(Metrics.InvalidRecords, invalid.count())
        }
        hooks.postProcessBatch(valid, invalid)
        body(hooks.recordAttributes(valid))
      }
    }

  /** The dead-letter split. Without a `deadLetterSink`, `body` sees the
    * decoded batch. With one, the decoded batch is persisted ONCE for
    * the duration of `body`, so the lenient decode runs once per frame
    * however many stages read it; its poison rows (raw bytes intact,
    * decoded columns dropped) go to the sink when there are any, and
    * `body` sees the rest. The split precedes every hook: a poison
    * frame's null payload must neither read as a delete nor be dropped
    * by a user predicate before quarantine. */
  private def withoutPoison[T](decoded: DataFrame)(body: DataFrame => T): T =
    deadLetterSink match {
      case None => body(decoded)
      case Some(dlq) =>
        val cached = decoded.persist()
        try {
          val poison = poisonPredicate
          val dead = cached.filter(poison).drop("payload", "decoded_key")
          // isEmpty stops at the first poison row; an attached
          // provider needs the count anyway
          val any =
            if (metrics eq Metrics.noop) !dead.isEmpty
            else {
              val n = dead.count()
              metrics.count(Metrics.DeadLetters, n)
              n > 0
            }
          if (any) dlq(dead) // the sink consumes eagerly (contract)
          body(cached.filter(!coalesce(poison, lit(false))))
        } finally cached.unpersist(false)
    }
}
