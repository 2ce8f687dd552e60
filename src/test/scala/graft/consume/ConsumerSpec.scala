package graft.consume

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.model.{KeyConfig, TopicConfig}
import graft.schema.PlainJsonBackend

class ConsumerSpec extends SparkSpec {
  import spark.implicits._

  private val payloadType = StructType(Seq(
    StructField("widget_id", StringType), StructField("amount", LongType)))
  private val backend = new PlainJsonBackend(payloadType)

  private object Hooks extends ConsumerHooks {
    override def processMessage: Column =
      col("payload").isNull || col("payload.amount") =!= -1L
    override def isTombstone: Column = col("payload").isNull
    override def recordAttributes(p: DataFrame): DataFrame =
      p.withColumn("doubled",
        when(col("payload").isNotNull, col("payload.amount") * 2))
  }

  private def kafkaFrame = {
    // (offset, key, json-payload or null)
    val rows = Seq(
      (1L, "A", """{"widget_id":"A","amount":5}"""),
      (2L, "A", """{"widget_id":"A","amount":6}"""),
      (3L, "B", """{"widget_id":"B","amount":-1}"""), // filtered by hook
      (4L, "C", """{"widget_id":"C","amount":9}"""),
      (5L, "C", null)) // tombstone
      .toDF("offset", "k", "json")
    rows.select(col("offset"),
      col("k").cast("binary").as("key"),
      col("json").cast("binary").as("value"))
  }

  test("consumeBatch: hooks, compaction, tombstone split, shaping") {
    val metrics = new graft.observe.Metrics.InMemory
    val consumer = new BatchConsumer(
      TopicConfig("widgets", "Widget", keyConfig = KeyConfig.Plain("widget_id")),
      backend, Hooks, keyCols = Seq("decoded_key"), orderCol = "offset",
      metrics = metrics)
    val (up, del) = consumer.consumeBatch(kafkaFrame)
    val ups = up.select(col("decoded_key"), col("payload.amount"),
      col("doubled")).as[(String, Long, Long)].collect().toSet
    assert(ups === Set(("A", 6L, 12L)))
    assert(del.select("decoded_key").as[String].collect().toSeq === Seq("C"))
    // B was filtered by process_message? before compaction
    assert(metrics.counts.isEmpty ||
      metrics.counts.getOrDefault(
        "graft.batch_consumption.invalid_records", 0L) === 0L)
  }

  test("consumers see message headers: hooks can route on decoded_headers") {
    // a kafka frame read with includeHeaders carries the wire-shaped
    // headers column; fromKafkaFrame (inside consumeBatch) surfaces
    // decoded_headers as a map, so per-row hooks can filter/shape on
    // header values (message.rb:79-88 — headers are a first-class
    // field of the consumed message)
    val withHeaders = kafkaFrame.withColumn("headers",
      when(col("offset") === 2L, array(struct(
        lit("skip").as("key"), lit("1").cast("binary").as("value"))))
        .otherwise(array(struct(
          lit("src").as("key"), lit("svc").cast("binary").as("value")))))
    object HeaderHooks extends ConsumerHooks {
      // drop any message a producer marked with a skip header
      override def processMessage: Column =
        element_at(col("decoded_headers"), "skip").isNull
      override def isTombstone: Column = col("payload").isNull
      override def recordAttributes(p: DataFrame): DataFrame =
        p.withColumn("via", element_at(col("decoded_headers"), "src"))
    }
    val consumer = new BatchConsumer(
      TopicConfig("widgets", "Widget", keyConfig = KeyConfig.Plain("widget_id")),
      backend, HeaderHooks, keyCols = Seq("decoded_key"), orderCol = "offset")
    val (up, del) = consumer.consumeBatch(withHeaders)
    val ups = up.select(col("decoded_key"), col("payload.amount"),
      col("via")).as[(String, Long, String)].collect().toSet
    // offset 2 (A amount=6) was skipped via its header, so A's
    // surviving version is offset 1; B(-1) survives — HeaderHooks
    // doesn't carry the amount filter
    assert(ups === Set(("A", 5L, "svc"), ("B", -1L, "svc")))
    assert(del.select("decoded_key").as[String].collect().toSeq === Seq("C"))
  }

  test("uncompacted mode keeps every surviving version") {
    val consumer = new BatchConsumer(
      TopicConfig("widgets", "Widget", keyConfig = KeyConfig.Plain("widget_id"),
        compacted = false),
      backend, Hooks, keyCols = Seq("decoded_key"), orderCol = "offset")
    val (up, del) = consumer.consumeBatch(kafkaFrame)
    assert(up.count() === 3) // A@1, A@2, C@4
    assert(del.count() === 1)
  }

  test("T6: the topic's declarative error_policy downgrades sink errors to skip") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext

    def run(policy: graft.model.ErrorPolicy): (Boolean, Long) = {
      val consumer = new BatchConsumer(
        TopicConfig("widgets", "Widget",
          keyConfig = KeyConfig.Plain("widget_id"), errorPolicy = policy),
        backend, Hooks, keyCols = Seq("decoded_key"), orderCol = "offset")
      val input = MemoryStream[(Long, String, String)]
      val frame = input.toDF().toDF("offset", "k", "json")
        .select(col("offset"), col("k").cast("binary").as("key"),
          col("json").cast("binary").as("value"))
      val errors = new java.util.concurrent.atomic.AtomicLong(0)
      val writer = consumer.stream(frame) { (_, _, _) =>
        errors.incrementAndGet()
        throw new RuntimeException("sink down")
      }
      val q = writer.option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ck").toString).start()
      try {
        input.addData((1L, "A", """{"widget_id":"A","amount":5}"""))
        q.processAllAvailable()
        (true, errors.get()) // survived: batch skipped, offsets advanced
      } catch {
        case _: Throwable => (false, errors.get())
      } finally q.stop()
    }

    val (skipSurvived, skipAttempts) = run(graft.model.ErrorPolicy.Skip)
    assert(skipSurvived && skipAttempts >= 1)
    val (fatalSurvived, _) = run(graft.model.ErrorPolicy.Fatal)
    assert(!fatalSurvived) // default policy keeps fail-fast semantics
  }

  test("T6: JVM-fatal throwables propagate even when both layers say skip") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    object SkipAllHooks extends ConsumerHooks {
      override def isTombstone = col("payload").isNull
      override def fatalError(e: Throwable): Boolean = false // skip everything
    }
    val consumer = new BatchConsumer(
      TopicConfig("widgets", "Widget",
        keyConfig = KeyConfig.Plain("widget_id"),
        errorPolicy = graft.model.ErrorPolicy.Skip),
      backend, SkipAllHooks, keyCols = Seq("decoded_key"),
      orderCol = "offset")
    val input = MemoryStream[(Long, String, String)]
    val frame = input.toDF().toDF("offset", "k", "json")
      .select(col("offset"), col("k").cast("binary").as("key"),
        col("json").cast("binary").as("value"))
    val q = consumer.stream(frame) { (_, _, _) =>
      throw new LinkageError("classpath corruption") // outside NonFatal
    }.option("checkpointLocation",
      java.nio.file.Files.createTempDirectory("graft-ck").toString).start()
    try {
      input.addData((1L, "A", """{"widget_id":"A","amount":5}"""))
      intercept[Exception](q.processAllAvailable())
    } finally q.stop()
  }

  test("deadLetterSink quarantines poison frames; the batch proceeds without them") {
    val avroJson =
      """{"type":"record","name":"W","fields":[
        | {"name":"widget_id","type":"string"},
        | {"name":"amount","type":"long"}]}""".stripMargin
    val ab = new graft.schema.RegistryFramedBackend(avroJson, schemaId = 5)
    def frame(id: String, amount: Long): Array[Byte] = spark.range(1)
      .select(ab.encodeExpr(struct(lit(id).as("widget_id"),
        lit(amount).as("amount"))).as("bin"))
      .as[Array[Byte]].head()
    val kafka = Seq(
      (1L, "A", frame("A", 5L)),
      (2L, "B", frame("B", 7L).dropRight(2)),   // poison: truncated
      (3L, "C", null))                          // tombstone: protocol
      .toDF("offset", "k", "value")
      .select(col("offset"), col("k").cast("binary").as("key"),
        col("value"))
    val metrics = new graft.observe.Metrics.InMemory
    var dlqOffsets = Seq.empty[Long]
    val consumer = new BatchConsumer(
      TopicConfig("widgets", "Widget", keyConfig = KeyConfig.Plain("widget_id")),
      ab, Hooks, keyCols = Seq("decoded_key"), orderCol = "offset",
      metrics = metrics,
      deadLetterSink = Some(dead =>
        dlqOffsets = dead.select("offset").as[Long].collect().toSeq))
    val (up, del) = consumer.consumeBatch(kafka)
    assert(up.select(col("payload.widget_id")).as[String]
      .collect().toSet === Set("A"))
    assert(del.select("decoded_key").as[String].collect().toSeq === Seq("C"))
    assert(dlqOffsets === Seq(2L))
    assert(metrics.counts.get(
      graft.observe.Metrics.DeadLetters) === 1L)
    // without the opt-in, the same poison frame fails the batch
    val strict = new BatchConsumer(
      TopicConfig("widgets", "Widget", keyConfig = KeyConfig.Plain("widget_id")),
      ab, Hooks, keyCols = Seq("decoded_key"), orderCol = "offset")
    val (upStrict, _) = strict.consumeBatch(kafka)
    intercept[Exception](upStrict.collect())
  }

  test("streaming deadLetterSink: poison quarantines per micro-batch, never reads as a delete") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val avroJson =
      """{"type":"record","name":"W","fields":[
        | {"name":"widget_id","type":"string"},
        | {"name":"amount","type":"long"}]}""".stripMargin
    val ab = new graft.schema.RegistryFramedBackend(avroJson, schemaId = 5)
    def frame(id: String, amount: Long): Array[Byte] = spark.range(1)
      .select(ab.encodeExpr(struct(lit(id).as("widget_id"),
        lit(amount).as("amount"))).as("bin"))
      .as[Array[Byte]].head()
    val metrics = new graft.observe.Metrics.InMemory
    val dlqKeys = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val consumer = new BatchConsumer(
      TopicConfig("widgets", "Widget", keyConfig = KeyConfig.Plain("widget_id")),
      ab, Hooks, keyCols = Seq("decoded_key"), orderCol = "offset",
      metrics = metrics,
      deadLetterSink = Some(dead => dead.select(col("key").cast("string"))
        .as[String].collect().foreach(dlqKeys.add)))
    var upserted = Set.empty[(String, Long)]
    var deleted = Set.empty[String]
    val input = MemoryStream[(Long, String, Array[Byte])]
    val kafka = input.toDF().toDF("offset", "k", "value")
      .select(col("offset"), col("k").cast("binary").as("key"), col("value"))
    val q = consumer.stream(kafka) { (up, del, _) =>
      upserted ++= up.select(col("decoded_key"), col("payload.amount"))
        .as[(String, Long)].collect()
      deleted ++= del.select("decoded_key").as[String].collect()
    }.option("checkpointLocation",
      java.nio.file.Files.createTempDirectory("graft-dlq-ck").toString)
      .start()
    try {
      input.addData(
        (1L, "A", frame("A", 5L)),
        (2L, "B", frame("B", 7L).dropRight(2)), // poison
        (3L, "C", null))                        // tombstone
      q.processAllAvailable()
      assert(upserted === Set(("A", 5L)))
      assert(deleted === Set("C"))            // tombstone, NOT poison
      assert(dlqKeys.size === 1 && dlqKeys.get(0) === "B")
      assert(metrics.counts.get(
        graft.observe.Metrics.DeadLetters) === 1L)
    } finally q.stop()
  }

  test("key-poison error modes: strict kills, value-DLQ still kills on " +
      "keys, opt-in quarantineKeys routes raw key+value bytes to the DLQ") {
    val valueJson =
      """{"type":"record","name":"W","fields":[
        | {"name":"widget_id","type":"string"},
        | {"name":"amount","type":"long"}]}""".stripMargin
    val keyJson =
      """{"type":"record","name":"WKey","fields":[
        | {"name":"widget_id","type":"string"}]}""".stripMargin
    val vb = new graft.schema.RegistryFramedBackend(valueJson, schemaId = 5)
    val kb = new graft.schema.RegistryFramedBackend(keyJson, schemaId = 6)
    def vframe(id: String, amount: Long): Array[Byte] = spark.range(1)
      .select(vb.encodeExpr(struct(lit(id).as("widget_id"),
        lit(amount).as("amount"))).as("bin")).as[Array[Byte]].head()
    def kframe(id: String): Array[Byte] = spark.range(1)
      .select(kb.encodeExpr(struct(lit(id).as("widget_id"))).as("bin"))
      .as[Array[Byte]].head()
    val kafka = Seq(
      (1L, kframe("A"), vframe("A", 5L)),               // clean
      (2L, kframe("B").dropRight(1), vframe("B", 7L)),  // poison KEY
      (3L, kframe("C"), vframe("C", 9L).dropRight(2)))  // poison value
      .toDF("offset", "key", "value")
    val cfg = TopicConfig("widgets", "Widget",
      keyConfig = KeyConfig.Plain("widget_id"))
    // mode 1 — strict (default): any corrupt frame fails the batch
    val strict = new BatchConsumer(cfg, vb, Hooks,
      keyCols = Seq("decoded_key"), orderCol = "offset",
      keyBackend = Some(kb))
    intercept[Exception](strict.consumeBatch(kafka)._1.collect())
    // mode 2 — value-DLQ: a corrupt KEY still kills the job (a lost
    // key is not separable from data loss; quarantine is per-topic
    // opt-in, never implied by the value-side DLQ)
    val mode2 = new BatchConsumer(cfg, vb, Hooks,
      keyCols = Seq("decoded_key"), orderCol = "offset",
      deadLetterSink = Some(_ => ()), keyBackend = Some(kb))
    intercept[Exception] {
      val (u, _) = mode2.consumeBatch(kafka); u.collect()
    }
    // mode 3 — quarantineKeys: both poison rows route to the DLQ with
    // raw key AND value bytes intact; the clean row proceeds
    var dead = Seq.empty[(Long, Boolean, Boolean)]
    val mode3 = new BatchConsumer(cfg, vb, Hooks,
      keyCols = Seq("decoded_key"), orderCol = "offset",
      deadLetterSink = Some(d => dead = d.select(col("offset"),
        col("key").isNotNull, col("value").isNotNull)
        .as[(Long, Boolean, Boolean)].collect().toSeq.sortBy(_._1)),
      keyBackend = Some(kb), quarantineKeys = true)
    val (up, del) = mode3.consumeBatch(kafka)
    assert(up.select(col("decoded_key.widget_id"), col("payload.amount"))
      .as[(String, Long)].collect().toSeq === Seq(("A", 5L)))
    assert(del.count() === 0)
    assert(dead === Seq((2L, true, true), (3L, true, true)),
      "both poison rows quarantined, raw bytes intact on both sides")
    // the mode is guarded: it needs both a DLQ and a key codec
    intercept[IllegalArgumentException](new BatchConsumer(cfg, vb, Hooks,
      keyCols = Seq("decoded_key"), orderCol = "offset",
      quarantineKeys = true))
    intercept[IllegalArgumentException](new BatchConsumer(cfg, vb, Hooks,
      keyCols = Seq("decoded_key"), orderCol = "offset",
      deadLetterSink = Some(_ => ()), quarantineKeys = true))
  }

  test("streaming DLQ crash-replay: quarantined rows survive a mid-batch " +
      "crash — at-least-once redelivery absorbed by a keyed store, " +
      "none lost, none double-kept") {
    // BatchConsumer's dead-letter split runs BEFORE the main sink
    // inside foreachBatch, so the worst-timed crash is: DLQ already
    // delivered the batch's poison, main sink dies, checkpoint never
    // commits. On restart the batch replays and the DLQ handler is
    // invoked AGAIN with the same rows — the DLQ delivery contract is
    // AT-LEAST-ONCE, exactly like the main path (T1), and a real DLQ
    // target needs the same idempotence discipline (a PK on
    // (topic, offset), here a keyed map). This spec drives a real
    // killed-and-restarted query and pins both halves: redelivery
    // happened (raw invocation count), and the keyed store converges
    // to exactly the poison set.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val avroJson =
      """{"type":"record","name":"W","fields":[
        | {"name":"widget_id","type":"string"},
        | {"name":"amount","type":"long"}]}""".stripMargin
    val ab = new graft.schema.RegistryFramedBackend(avroJson, schemaId = 5)
    def frame(id: String, amount: Long): Array[Byte] = spark.range(1)
      .select(ab.encodeExpr(struct(lit(id).as("widget_id"),
        lit(amount).as("amount"))).as("bin"))
      .as[Array[Byte]].head()
    val ckDir =
      java.nio.file.Files.createTempDirectory("graft-dlq-crash").toString
    // idempotent quarantine store keyed by offset + raw delivery log
    val quarantine = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    @volatile var dlqDeliveries = 0
    @volatile var crashArmed = true
    var upserted = Set.empty[(String, Long)]
    val input = MemoryStream[(Long, String, Array[Byte])]
    val kafka = input.toDF().toDF("offset", "k", "value")
      .select(col("offset"), col("k").cast("binary").as("key"), col("value"))
    def mkConsumer() = new BatchConsumer(
      TopicConfig("widgets", "Widget", keyConfig = KeyConfig.Plain("widget_id")),
      ab, Hooks, keyCols = Seq("decoded_key"), orderCol = "offset",
      deadLetterSink = Some { dead =>
        dlqDeliveries += 1
        dead.select(col("offset"), col("key").cast("string"))
          .as[(Long, String)].collect()
          .foreach { case (o, k) => quarantine.put(o, k) }
      })
    def mkQuery() = mkConsumer().stream(kafka) { (up, del, _) =>
      val ups = up.select(col("decoded_key"), col("payload.amount"))
        .as[(String, Long)].collect()
      upserted ++= ups
      // crash AFTER the DLQ handler delivered this batch's poison and
      // AFTER the merge effects, BEFORE the checkpoint commit
      if (crashArmed && ups.exists(_._1 == "C")) {
        crashArmed = false
        throw new RuntimeException(
          "simulated crash after DLQ delivery, before checkpoint commit")
      }
    }.option("checkpointLocation", ckDir)
    val q1 = mkQuery().start()
    input.addData(
      (1L, "A", frame("A", 5L)),
      (2L, "B", frame("B", 7L).dropRight(2)))  // poison
    q1.processAllAvailable()
    assert(quarantine.asInstanceOf[java.util.Map[Long, String]]
      === java.util.Map.of(2L, "B"))
    input.addData(
      (3L, "D", frame("D", 8L).dropRight(2)),  // poison, doomed batch
      (4L, "C", frame("C", 9L)))
    intercept[Exception](q1.processAllAvailable())
    q1.stop()
    // the doomed batch's poison already reached the DLQ (at-least-once)
    assert(quarantine.containsKey(3L), "pre-crash DLQ delivery landed")
    val deliveriesBeforeRestart = dlqDeliveries
    // restart from the SAME checkpoint: the uncommitted batch replays,
    // the DLQ handler re-delivers the same rows (at-least-once), and
    // the keyed store absorbs the duplicate
    val q2 = mkQuery().start()
    try {
      q2.processAllAvailable()
      assert(dlqDeliveries > deliveriesBeforeRestart,
        "restart must re-deliver the lost batch's poison to the DLQ")
      assert(quarantine.keySet.asInstanceOf[java.util.Set[Long]]
        === java.util.Set.of(2L, 3L), "no loss, no phantom entries")
      assert(upserted === Set(("A", 5L), ("C", 9L)))
      // the stream keeps quarantining after recovery
      input.addData(
        (5L, "E", frame("E", 1L).dropRight(2)),  // poison
        (6L, "F", frame("F", 2L)))
      q2.processAllAvailable()
      assert(quarantine.keySet.asInstanceOf[java.util.Set[Long]]
        === java.util.Set.of(2L, 3L, 5L))
      assert(upserted === Set(("A", 5L), ("C", 9L), ("F", 2L)))
    } finally q2.stop()
  }
}
