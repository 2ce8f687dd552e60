package graft.consume

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.model.{KeyConfig, TopicConfig}
import graft.observe.Metrics
import graft.schema.{PlainJsonBackend, RegistryFramedBackend, SchemaBackend}

/** One consume lifecycle: the same Kafka-shaped frame fed through
  * `consumeBatch` and through a one-micro-batch `stream` over a file
  * source yields the same (upserts, deletes) rows, the same dead
  * letters, the same hook calls and the same counters. */
class ConsumeLifecycleSpec extends SparkSpec {
  import spark.implicits._

  /** Hooks that count their lifecycle callbacks. */
  private final class Recording(
      keep: Column = lit(true),
      valid: Column = lit(true),
      shape: DataFrame => DataFrame = identity,
      tombstone: Column = col("payload").isNull) extends ConsumerHooks {
    val pre = new AtomicInteger
    val post = new AtomicInteger
    override def processMessage: Column = keep
    override def shouldConsume: Column = valid
    override def recordAttributes(p: DataFrame): DataFrame = shape(p)
    override def isTombstone: Column = tombstone
    override def preProcess(batch: DataFrame): Unit = pre.incrementAndGet()
    override def postProcessBatch(v: DataFrame, i: DataFrame): Unit =
      post.incrementAndGet()
  }

  private case class Setup(cfg: TopicConfig, backend: SchemaBackend,
      hooks: () => Recording, dlq: Boolean = false,
      keyBackend: Option[SchemaBackend] = None, quarantineKeys: Boolean = false)

  /** What one run did: rows as JSON (sorted), hook calls, counters. */
  private case class Outcome(up: Seq[String], del: Seq[String],
      dead: Seq[String], preCalls: Int, postCalls: Int,
      counts: Map[String, Long])

  private def json(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq

  private def consumer(s: Setup, hooks: ConsumerHooks, metrics: Metrics,
      dead: ConcurrentLinkedQueue[String]): BatchConsumer =
    new BatchConsumer(s.cfg, s.backend, hooks, keyCols = Seq("decoded_key"),
      orderCol = "offset", metrics = metrics,
      deadLetterSink =
        if (s.dlq) Some(d => json(d).foreach(dead.add)) else None,
      keyBackend = s.keyBackend, quarantineKeys = s.quarantineKeys)

  private def outcome(h: Recording, m: Metrics.InMemory,
      up: Iterable[String], del: Iterable[String],
      dead: ConcurrentLinkedQueue[String]): Outcome =
    Outcome(up.toSeq.sorted, del.toSeq.sorted, dead.asScala.toSeq.sorted,
      h.pre.get, h.post.get,
      m.counts.asScala.map { case (k, v) => k -> v.longValue }.toMap)

  private def viaBatch(s: Setup, kafka: DataFrame): Outcome = {
    val (h, m, dead) = (s.hooks(), new Metrics.InMemory, new ConcurrentLinkedQueue[String])
    val (up, del) = consumer(s, h, m, dead).consumeBatch(kafka)
    outcome(h, m, json(up), json(del), dead)
  }

  /** `kafka` as ONE parquet file, consumed by `stream` in one
    * micro-batch. */
  private def viaStream(s: Setup, kafka: DataFrame): Outcome = {
    val (h, m, dead) = (s.hooks(), new Metrics.InMemory, new ConcurrentLinkedQueue[String])
    val dir = java.nio.file.Files.createTempDirectory("graft-lifecycle")
    kafka.coalesce(1).write.parquet(dir.resolve("src").toString)
    val source = spark.readStream.schema(kafka.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.resolve("src").toString)
    val (up, del) = (new ConcurrentLinkedQueue[String], new ConcurrentLinkedQueue[String])
    val q = consumer(s, h, m, dead).stream(source) { (u, d, _) =>
      json(u).foreach(up.add); json(d).foreach(del.add)
    }.option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) === 1)
    outcome(h, m, up.asScala, del.asScala, dead)
  }

  /** Both modes agree; returns the (shared) outcome. */
  private def sameInBothModes(s: Setup, kafka: DataFrame): Outcome = {
    val batch = viaBatch(s, kafka)
    val stream = viaStream(s, kafka)
    assert(stream === batch)
    assert(batch.preCalls === 1 && batch.postCalls === 1)
    assert(batch.counts(Metrics.ConsumeBatch) === 1L)
    batch
  }

  private val payloadType = StructType(Seq(
    StructField("widget_id", StringType), StructField("amount", LongType)))
  private val jsonBackend = new PlainJsonBackend(payloadType)
  private val widgets =
    TopicConfig("widgets", "Widget", keyConfig = KeyConfig.Plain("widget_id"))

  /** (offset, key, json value or null) → Kafka-shaped frame. */
  private def jsonFrame(rows: (Long, String, String)*): DataFrame =
    rows.toDF("offset", "k", "json").select(col("offset"),
      col("k").cast("binary").as("key"), col("json").cast("binary").as("value"))

  private def w(id: String, amount: Long) =
    s"""{"widget_id":"$id","amount":$amount}"""

  private val widgetRows = Seq(
    (1L, "A", w("A", 5)), (2L, "A", w("A", 6)),
    (3L, "B", w("B", -1)), // dropped by processMessage
    (4L, "C", w("C", 9)), (5L, "C", null)) // tombstone

  private def dropNegative() = new Recording(
    keep = col("payload").isNull || col("payload.amount") =!= -1L,
    shape = _.withColumn("doubled", col("payload.amount") * 2))

  private def amounts(rows: Seq[String]): Seq[Long] =
    rows.map(numField(_, "amount")).sorted

  /** The first `"field":N` number of a JSON row. */
  private def numField(row: String, field: String): Long =
    s""""$field":(-?\\d+)""".r.findFirstMatchIn(row).get.group(1).toLong

  test("compacted and uncompacted topics: same rows, hooks and counters in both modes") {
    val compacted = sameInBothModes(Setup(widgets, jsonBackend, () => dropNegative()),
      jsonFrame(widgetRows: _*))
    assert(amounts(compacted.up) === Seq(6L)) // A's last version
    assert(compacted.del.size === 1) // C's tombstone
    assert(compacted.counts === Map(Metrics.ConsumeBatch -> 1L,
      Metrics.ValidRecords -> 4L, Metrics.InvalidRecords -> 0L))
    // uncompacted: every surviving version (the stream's waves, together)
    val all = sameInBothModes(
      Setup(widgets.copy(compacted = false), jsonBackend, () => dropNegative()),
      jsonFrame(widgetRows: _*))
    assert(amounts(all.up) === Seq(5L, 6L, 9L))
    assert(all.del.size === 1)
  }

  private val avroJson =
    """{"type":"record","name":"W","fields":[
      | {"name":"widget_id","type":"string"},
      | {"name":"amount","type":"long"}]}""".stripMargin
  private val keyJson =
    """{"type":"record","name":"WKey","fields":[
      | {"name":"widget_id","type":"string"}]}""".stripMargin
  private lazy val vb = new RegistryFramedBackend(avroJson, schemaId = 5)
  private lazy val kb = new RegistryFramedBackend(keyJson, schemaId = 6)
  private def vframe(id: String, amount: Long): Array[Byte] = spark.range(1)
    .select(vb.encodeExpr(struct(lit(id).as("widget_id"),
      lit(amount).as("amount"))).as("bin")).as[Array[Byte]].head()
  private def kframe(id: String): Array[Byte] = spark.range(1)
    .select(kb.encodeExpr(struct(lit(id).as("widget_id"))).as("bin"))
    .as[Array[Byte]].head()

  test("value dead-letter queue and key+value dead-letter queue agree across modes") {
    val valueDlq = Seq(
      (1L, "A", vframe("A", 5L)),
      (2L, "B", vframe("B", 7L).dropRight(2)), // poison value
      (3L, "C", null)) // tombstone: protocol, not poison
      .toDF("offset", "k", "value")
      .select(col("offset"), col("k").cast("binary").as("key"), col("value"))
    val v = sameInBothModes(
      Setup(widgets, vb, () => new Recording, dlq = true), valueDlq)
    assert(v.dead.size === 1 && numField(v.dead.head, "offset") === 2L)
    assert(amounts(v.up) === Seq(5L) && v.del.size === 1)
    assert(v.counts(Metrics.DeadLetters) === 1L)
    assert(v.counts(Metrics.ValidRecords) === 2L)

    val keyValueDlq = Seq(
      (1L, kframe("A"), vframe("A", 5L)), // clean
      (2L, kframe("B").dropRight(1), vframe("B", 7L)), // poison key
      (3L, kframe("C"), vframe("C", 9L).dropRight(2)), // poison value
      (4L, kframe("D"), vframe("D", 4L)))
      .toDF("offset", "key", "value")
    val kv = sameInBothModes(Setup(widgets, vb, () => new Recording,
      dlq = true, keyBackend = Some(kb), quarantineKeys = true), keyValueDlq)
    assert(kv.dead.map(numField(_, "offset")) === Seq(2L, 3L))
    assert(kv.dead.forall(r => r.contains("\"key\"") && r.contains("\"value\"")),
      "raw key and value bytes reach the dead-letter sink")
    assert(amounts(kv.up) === Seq(4L, 5L))
    assert(kv.counts(Metrics.DeadLetters) === 2L)
  }

  test("shouldConsume rejects count as invalid in both modes") {
    val o = sameInBothModes(Setup(widgets, jsonBackend, () => new Recording(
      valid = col("payload").isNull || col("payload.amount") > 0L)),
      jsonFrame((1L, "A", w("A", 5)), (2L, "B", w("B", 0)),
        (3L, "C", w("C", -4)), (4L, "D", null)))
    assert(amounts(o.up) === Seq(5L) && o.del.size === 1)
    assert(o.counts(Metrics.ValidRecords) === 2L)
    assert(o.counts(Metrics.InvalidRecords) === 2L)
  }

  test("decoded_headers routing: predicates see the decoded frame in both modes") {
    val withHeaders = jsonFrame(widgetRows: _*).withColumn("headers",
      when(col("offset") === 2L, array(struct(
        lit("skip").as("key"), lit("1").cast("binary").as("value"))))
        .otherwise(array(struct(
          lit("src").as("key"), lit("svc").cast("binary").as("value")))))
    // the skip predicate reads the decoded frame's headers; the shaping
    // hook, which runs after it, drops them
    val o = sameInBothModes(Setup(widgets, jsonBackend, () => new Recording(
      keep = element_at(col("decoded_headers"), "skip").isNull,
      shape = p => p.withColumn("via", element_at(col("decoded_headers"), "src"))
        .drop("decoded_headers"))), withHeaders)
    assert(amounts(o.up) === Seq(-1L, 5L)) // A@2 skipped via its header
    assert(o.up.forall(_.contains("\"via\":\"svc\"")))
    assert(o.counts(Metrics.ValidRecords) === 4L)
  }

  test("two NULL-key messages both survive compaction in both modes") {
    val o = sameInBothModes(Setup(widgets, jsonBackend, () => new Recording),
      jsonFrame((1L, null, w("X", 1)), (2L, null, w("Y", 2)),
        (3L, "A", w("A", 3)), (4L, "A", w("A", 4))))
    assert(amounts(o.up) === Seq(1L, 2L, 4L))
  }

  /** Every SQL action's name and plan columns, in arrival order. */
  private final class Actions extends QueryExecutionListener {
    val seen = new ConcurrentLinkedQueue[(String, Set[String])]()
    private def record(f: String, qe: QueryExecution): Unit =
      seen.add(f -> qe.analyzed.flatMap(_.output.map(_.name)).toSet)
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(f, qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(f, qe)
  }

  test("no-op metrics and tracer: a stream micro-batch runs the same SQL actions as before") {
    // the benchmark's consumer shape: dead-letter queue, default
    // predicates, a flattening shape hook, one action in each sink
    object FlatHooks extends ConsumerHooks {
      override def isTombstone: Column = col("amount") === 0L
      override def recordAttributes(p: DataFrame): DataFrame =
        p.select(col("lc_probe_offset"), col("payload.*"))
    }
    val c = new BatchConsumer(widgets, vb, FlatHooks, keyCols = Seq("widget_id"),
      orderCol = "lc_probe_offset",
      deadLetterSink = Some(d => { d.collect(); () }))
    def actionsPerBatch(rows: Seq[(Long, String, Array[Byte])]): Seq[String] = {
      val kafka = rows.toDF("lc_probe_offset", "k", "value").select(
        col("lc_probe_offset"), col("k").cast("binary").as("key"), col("value"))
      val dir = java.nio.file.Files.createTempDirectory("graft-lifecycle-actions")
      val listener = new Actions
      spark.listenerManager.register(listener)
      // listener events arrive in order, so the actions between the two
      // markers are the micro-batch's: the source file's write comes
      // before the first, and once the second is seen all have arrived
      def marker(name: String): Unit = Seq(1).toDF(name).collect()
      try {
        kafka.coalesce(1).write.parquet(dir.resolve("src").toString)
        marker("lc_probe_start")
        val q = c.stream(spark.readStream.schema(kafka.schema)
          .parquet(dir.resolve("src").toString)) { (u, d, _) =>
          u.unionByName(d).collect(); ()
        }.option("checkpointLocation", dir.resolve("ckpt").toString)
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        marker("lc_probe_end")
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        def seen = listener.seen.asScala.toSeq
        while (!seen.exists(_._2("lc_probe_end")) && System.nanoTime() < deadline)
          Thread.sleep(20)
        val between = seen.dropWhile(!_._2("lc_probe_start")).drop(1)
          .takeWhile(!_._2("lc_probe_end"))
        assert(seen.exists(_._2("lc_probe_end")), "end marker never reached the listener")
        between.collect { case (f, cols) if cols("lc_probe_offset") => f }
      } finally spark.listenerManager.unregister(listener)
    }
    val clean = Seq((1L, "A", vframe("A", 5L)), (2L, "B", vframe("B", 0L)))
    val poisoned = clean :+ ((3L, "C", vframe("C", 9L).dropRight(2)))
    // the poison probe (isEmpty) and the sink's action; with poison
    // also the dead-letter sink's action
    assert(actionsPerBatch(clean) === Seq("isEmpty", "collect"))
    assert(actionsPerBatch(poisoned) === Seq("isEmpty", "collect", "collect"))
  }
}
