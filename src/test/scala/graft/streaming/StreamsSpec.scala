package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.model.{KeyConfig, TopicConfig}
import graft.schema.{AvroBackend, PlainJsonBackend}

case class Evt(id: Long, key: String, v: String, deleted: Boolean)

/** JVM-static collector: mergeSinkOrdered's rowSink runs executor-side
  * (foreachPartition), so a driver-local buffer would only mutate a
  * serialized copy; in local mode a static object is shared. */
object OrderedSinkCollector {
  val buf = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
}

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private val valueSchema =
    """{"type":"record","name":"Widget","fields":[
      | {"name":"widget_id","type":"string"},
      | {"name":"amount","type":"long"},
      | {"name":"message_id","type":["null","string"],"default":null},
      | {"name":"timestamp","type":["null","string"],"default":null}
      |]}""".stripMargin

  test("produce chain: payload → keyed+encoded kafka frame → decode round-trip") {
    val backend = new AvroBackend(valueSchema)
    val cfg = TopicConfig("widgets", "Widget", topicPrefix = "pre.",
      keyConfig = KeyConfig.Field("widget_id"))
    val payloads = Seq(("w1", 5L), ("w2", 7L)).toDF("widget_id", "amount")
      .withColumn("message_id", lit(null).cast("string"))
      .withColumn("timestamp", lit(null).cast("string"))
    val frame = Streams.toKafkaFrame(payloads, cfg, backend,
      keyBackend = backend.keyBackend(cfg.keyConfig))
    assert(frame.columns.toSeq ===
      Seq("topic", "key", "value", "partition_key"))
    val decoded = Streams.fromKafkaFrame(frame, backend,
      backend.keyBackend(cfg.keyConfig))
    val rows = decoded.select(col("topic"),
      col("decoded_key").getField("widget_id").as("k"),
      col("payload").getField("amount").as("a"))
      .as[(String, String, Long)].collect().toSet
    assert(rows === Set(("pre.widgets", "w1", 5L), ("pre.widgets", "w2", 7L)))
  }

  test("a payload field named 'key' survives the produce path intact") {
    // the Kafka key column write must not clobber a VALUE field that
    // happens to be called "key" — the payload struct is captured
    // before the overwrite (the old shape encoded null/garbage bytes
    // for that field on every message)
    val schema =
      """{"type":"record","name":"K","fields":[
        | {"name":"widget_id","type":"string"},
        | {"name":"key","type":"string"}]}""".stripMargin
    val backend = new AvroBackend(schema)
    val cfg = TopicConfig("k", "K", keyConfig = KeyConfig.Plain("widget_id"))
    val payloads = Seq(("w1", "payload-key-value")).toDF("widget_id", "key")
    val frame = Streams.toKafkaFrame(payloads, cfg, backend)
    val got = Streams.fromKafkaFrame(frame, backend)
      .select(col("payload").getField("key")).as[String].collect()(0)
    assert(got === "payload-key-value")
  }

  test("KeyConfig.Schema with a missing payload field fails loudly, never a partial key") {
    val backend = new AvroBackend(valueSchema)
    val keySchema =
      """{"type":"record","name":"WKey","fields":[
        | {"name":"widget_id","type":"string"},
        | {"name":"region","type":"string"}]}""".stripMargin
    val kb = new AvroBackend(keySchema)
    val cfg = TopicConfig("widgets", "Widget",
      keyConfig = KeyConfig.Schema("WKey"))
    val payloads = Seq(("w1", 5L)).toDF("widget_id", "amount")
    val e = intercept[IllegalArgumentException](
      Streams.toKafkaFrame(payloads, cfg, backend, keyBackend = Some(kb)))
    assert(e.getMessage.contains("region"),
      s"expected the missing key field named, got: ${e.getMessage}")
  }

  test("undeclared auto-fields stay OFF the wire for JSON backends") {
    // the schema declares neither message_id nor timestamp: to_json
    // would serialize them as surrogate bytes, making identical
    // payloads byte-diverge per run
    val backend = new PlainJsonBackend(
      StructType(Seq(StructField("widget_id", StringType),
        StructField("amount", LongType))))
    val cfg = TopicConfig("widgets", "Widget")
    val payloads = Seq(("w1", 5L)).toDF("widget_id", "amount")
    val frame = Streams.toKafkaFrame(payloads, cfg, backend)
    val json = frame.select(col("value").cast("string"))
      .as[String].collect()(0)
    assert(!json.contains("message_id") && !json.contains("timestamp"),
      s"surrogate auto-fields leaked onto the wire: $json")
    assert(json.contains("\"widget_id\":\"w1\""))
  }

  test("headers ride the kafka frame in wire shape and decode back to the map") {
    val backend = new AvroBackend(valueSchema)
    val cfg = TopicConfig("widgets", "Widget")
    // literal auto-fields: autoFields fills nulls with uuid()/now,
    // which would make the two value-byte captures below diverge
    val payloads = Seq(("w1", 5L), ("w2", 7L)).toDF("widget_id", "amount")
      .withColumn("message_id", concat(lit("m-"), col("widget_id")))
      .withColumn("timestamp", lit("2026-01-01"))
    val withH = payloads.withColumn("headers",
      map(lit("trace"), concat(lit("t-"), col("widget_id")),
        lit("src"), lit("svc")))
    val frame = Streams.toKafkaFrame(withH, cfg, backend)
    // wire contract: headers beside the value, in Spark's Kafka shape
    assert(frame.columns.toSeq ===
      Seq("topic", "key", "value", "headers", "partition_key"))
    assert(frame.schema("headers").dataType.catalogString ===
      "array<struct<key:string,value:binary>>")
    // headers never leak INTO the encoded payload: value bytes equal a
    // header-less produce of the same rows
    val bare = Streams.toKafkaFrame(payloads, cfg, backend)
    assert(frame.select(base64(col("value"))).as[String].collect().sorted
      === bare.select(base64(col("value"))).as[String].collect().sorted)
    // consume side: the hash comes back beside the decoded payload
    val decoded = Streams.fromKafkaFrame(frame, backend)
    val got = decoded.select(
      col("payload").getField("widget_id").as("w"),
      element_at(col("decoded_headers"), "trace").as("t"),
      element_at(col("decoded_headers"), "src").as("s"))
      .as[(String, String, String)].collect().toSet
    assert(got === Set(("w1", "t-w1", "svc"), ("w2", "t-w2", "svc")))
    // reference parity: nil headers are dropped from the produced hash
    // (message.rb:71-78) — a header-less input has no headers column
    assert(bare.columns.toSeq ===
      Seq("topic", "key", "value", "partition_key"))
  }

  test("headers wire round-trip edges: empty map, null values, unicode, order") {
    import graft.model.MessageCols
    val rt = (c: org.apache.spark.sql.Column) =>
      MessageCols.wireToHeaders(MessageCols.headersToWire(c))
    // empty map survives; Kafka allows null header VALUES (a map with
    // a null value round-trips); unicode keys/values byte-exact
    val m0 = Map.empty[String, String]
    val m1 = Map("k" -> null.asInstanceOf[String], "ü" -> "日本語 ✓")
    val got = Seq(1).toDF("id").select(
      rt(typedLit(m0)).as("a"), rt(typedLit(m1)).as("b"))
      .as[(Map[String, String], Map[String, String])].head()
    assert(got._1 === m0)
    assert(got._2 === m1)
    // a 20-entry map keeps every entry (the O(n²) last-wins dedup
    // filter must not eat distinct keys)
    val big = (0 until 20).map(i => s"k$i" -> s"v$i").toMap
    val gotBig = Seq(1).toDF("id").select(rt(typedLit(big)).as("m"))
      .as[Map[String, String]].head()
    assert(gotBig === big)
  }

  test("duplicate wire header keys collapse last-wins, like a Ruby Hash") {
    import graft.model.MessageCols
    val wire = Seq(1).toDF("id").select(array(
      struct(lit("k").as("key"), lit("a").cast("binary").as("value")),
      struct(lit("x").as("key"), lit("1").cast("binary").as("value")),
      struct(lit("k").as("key"), lit("b").cast("binary").as("value")))
      .as("headers"))
    val m = wire.select(MessageCols.wireToHeaders(col("headers")).as("h"))
      .as[Map[String, String]].head()
    assert(m === Map("k" -> "b", "x" -> "1"))
  }

  test("KeyConfig.Field derives the one-field key schema when no keyBackend given") {
    val backend = new AvroBackend(valueSchema)
    val cfg = TopicConfig("widgets", "Widget",
      keyConfig = KeyConfig.Field("widget_id"))
    val payloads = Seq(("w1", 5L)).toDF("widget_id", "amount")
      .withColumn("message_id", lit(null).cast("string"))
      .withColumn("timestamp", lit(null).cast("string"))
    // derived path (no keyBackend) must produce byte-identical keys to
    // the explicit keyBackend path (avro_base.rb:160-177 parity) —
    // NOT value-schema-encoded bytes
    val derived = Streams.toKafkaFrame(payloads, cfg, backend)
      .select("key").as[Array[Byte]].collect().head
    val explicit = Streams.toKafkaFrame(payloads, cfg, backend,
      keyBackend = backend.keyBackend(cfg.keyConfig))
      .select("key").as[Array[Byte]].collect().head
    assert(derived.toSeq === explicit.toSeq)
  }

  test("KeyConfig.Field: JSON backends key with themselves; Avro nested paths need explicit") {
    // non-Avro key encodes are schema-independent (to_json of the key
    // struct) — a one-field key works without an explicit keyBackend
    val jsonBackend = new PlainJsonBackend(StructType(Seq(
      StructField("widget_id", StringType), StructField("amount", LongType),
      StructField("message_id", StringType),
      StructField("timestamp", StringType))))
    val cfg = TopicConfig("widgets", "Widget",
      keyConfig = KeyConfig.Field("widget_id"))
    val payloads = Seq(("w1", 5L)).toDF("widget_id", "amount")
    val key = Streams.toKafkaFrame(payloads, cfg, jsonBackend)
      .select(col("key").cast("string")).as[String].collect().head
    assert(key === """{"widget_id":"w1"}""")
    // Avro + nested dot-path: the derived key schema can't name the
    // leaf, and the value schema must never encode keys — explicit only
    val avro = new AvroBackend(valueSchema)
    val e = intercept[IllegalArgumentException] {
      Streams.toKafkaFrame(payloads, TopicConfig("widgets", "Widget",
        keyConfig = KeyConfig.Field("nested.widget_id")), avro)
    }
    assert(e.getMessage.contains("requires an explicit keyBackend"))
  }

  test("streaming mergeSink materializes compacted state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val state = mutable.Map[String, String]()
    val writer = Streams.mergeSink(input.toDF(), Seq("key"), col("id"),
      col("deleted") === true) { (up, del, _) =>
      up.select("key", "v").collect().foreach(r =>
        state(r.getString(0)) = r.getString(1))
      del.select("key").collect().foreach(r => state.remove(r.getString(0)))
    }
    val q = writer.option("checkpointLocation",
      java.nio.file.Files.createTempDirectory("graft-ck").toString).start()
    try {
      input.addData(Evt(1, "A", "a1", false), Evt(2, "B", "b1", false),
        Evt(3, "A", "a2", false))
      q.processAllAvailable()
      assert(state.toMap === Map("A" -> "a2", "B" -> "b1"))
      input.addData(Evt(4, "A", "x", true), Evt(5, "C", "c1", false))
      q.processAllAvailable()
      assert(state.toMap === Map("B" -> "b1", "C" -> "c1"))
    } finally q.stop()
  }

  test("checkpoint crash-recovery: sink dies mid-batch AFTER side effects; restart replays and converges") {
    implicit val sqlCtx = spark.sqlContext
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck-restart").toString
    val input = MemoryStream[Evt]
    // the "database": driver-side map standing in for an idempotent
    // keyed merge target; survives the restart like a real DB would
    val state = mutable.Map[String, String]()
    @volatile var crashArmed = true
    @volatile var applies = 0
    def mkWriter() = Streams.mergeSink(input.toDF(), Seq("key"), col("id"),
      col("deleted") === true) { (up, del, _) =>
      val ups = up.select("key", "v").collect()
      ups.foreach(r => state(r.getString(0)) = r.getString(1))
      del.select("key").collect().foreach(r => state.remove(r.getString(0)))
      applies += 1
      // crash AFTER the merge side effects but BEFORE the checkpoint
      // commit — the worst-timed failure: effects applied, progress lost
      if (crashArmed && ups.exists(_.getString(0) == "C")) {
        crashArmed = false
        throw new RuntimeException("simulated crash after partial apply")
      }
    }
    val q1 = mkWriter().option("checkpointLocation", ckDir).start()
    input.addData(Evt(1, "A", "a1", false), Evt(2, "B", "b1", false))
    q1.processAllAvailable()
    assert(state.toMap === Map("A" -> "a1", "B" -> "b1"))
    input.addData(Evt(3, "C", "c1", false), Evt(4, "A", "a2", false))
    intercept[Exception] { q1.processAllAvailable() }
    q1.stop()
    val appliesBeforeRestart = applies
    // effects of the doomed batch already landed (at-least-once)
    assert(state.toMap === Map("A" -> "a2", "B" -> "b1", "C" -> "c1"))
    // restart from the SAME checkpoint: the uncommitted batch replays,
    // the sink re-applies it (dup apply), and the keyed merge absorbs
    // the duplicate — no loss, no dup effect
    val q2 = mkWriter().option("checkpointLocation", ckDir).start()
    try {
      q2.processAllAvailable()
      assert(applies > appliesBeforeRestart, "restart must replay the lost batch")
      assert(state.toMap === Map("A" -> "a2", "B" -> "b1", "C" -> "c1"))
      // and the stream keeps making progress after recovery
      input.addData(Evt(5, "B", "x", true), Evt(6, "D", "d1", false))
      q2.processAllAvailable()
      assert(state.toMap === Map("A" -> "a2", "C" -> "c1", "D" -> "d1"))
    } finally q2.stop()
  }

  test("mergeSinkOrdered applies all versions of a key consecutively in one job") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    OrderedSinkCollector.buf.clear()
    val writer = Streams.mergeSinkOrdered(input.toDF(), Seq("key"),
      col("id")) { (rows, _) =>
      rows.foreach(r => OrderedSinkCollector.buf.add(
        (r.getAs[String]("key"), r.getAs[String]("v"))))
    }
    val q = writer.option("checkpointLocation",
      java.nio.file.Files.createTempDirectory("graft-ck").toString).start()
    try {
      input.addData(Evt(2, "A", "a2", false), Evt(1, "A", "a1", false),
        Evt(3, "A", "a3", false), Evt(4, "B", "b1", false))
      q.processAllAvailable()
      val got = OrderedSinkCollector.buf.toArray(Array.empty[(String, String)])
      assert(got.toSet === Set(("A", "a1"), ("A", "a2"), ("A", "a3"), ("B", "b1")))
      // same-key versions arrive in orderCol order (partition-local
      // sort), regardless of arrival order
      val as = got.filter(_._1 == "A").map(_._2).toSeq
      assert(as === Seq("a1", "a2", "a3"))
    } finally q.stop()
  }

  test("uncompacted mergeSink applies key-disjoint waves sequentially") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val applied = mutable.ArrayBuffer[String]()
    val writer = Streams.mergeSink(input.toDF(), Seq("key"), col("id"),
      col("deleted") === true, compacted = false) { (up, del, _) =>
      applied ++= up.orderBy("id").select("v").as[String](spark.implicits.newStringEncoder).collect()
      del.count()
      ()
    }
    val q = writer.option("checkpointLocation",
      java.nio.file.Files.createTempDirectory("graft-ck").toString).start()
    try {
      input.addData(Evt(1, "A", "a1", false), Evt(2, "A", "a2", false),
        Evt(3, "B", "b1", false))
      q.processAllAvailable()
      // wave 1 = {a1, b1}, wave 2 = {a2}: a2 strictly after a1
      assert(applied.indexOf("a2") > applied.indexOf("a1"))
      assert(applied.toSet === Set("a1", "a2", "b1"))
    } finally q.stop()
  }

  test("uncompacted mergeSink fails loudly when a hot key exceeds maxWaves") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    var sinkCalls = 0
    val writer = Streams.mergeSink(input.toDF(), Seq("key"), col("id"),
      col("deleted") === true, compacted = false) {
      (up, del, _) => sinkCalls += 1; up.count(); del.count(); ()
    }
    val q = writer.option("checkpointLocation",
      java.nio.file.Files.createTempDirectory("graft-ck").toString).start()
    try {
      // 1025 versions of one key > the 1024-wave cap → the micro-batch
      // must fail with the stall guard after the one wave-count job,
      // before any wave reaches the sink
      input.addData((1 to 1025).map(i => Evt(i.toLong, "HOT", s"v$i", false)): _*)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("needs 1025 waves")))
      assert(msgs(e).exists(_.contains("mergeSinkOrdered")))
      assert(sinkCalls === 0, "a wave ran before the guard fired")
    } finally q.stop()
  }

  test("idempotent sink runs each batchId exactly once") {
    val sink = new IdempotentSink(
      java.nio.file.Files.createTempDirectory("graft-idem").toString)
    var runs = 0
    assert(sink.runOnce(7L) { runs += 1 })
    assert(!sink.runOnce(7L) { runs += 1 }) // replay no-ops
    assert(sink.runOnce(8L) { runs += 1 })
    assert(runs === 2)
  }

  test("windowed counts with watermark (EXT analytics path)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val agg = Streams.windowedCounts(
      input.toDF().toDF("ts", "kind"), "ts", "10 seconds", "1 minute",
      Seq("kind"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("wincounts").start()
    try {
      input.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 00:00:10"), "x"),
        (java.sql.Timestamp.valueOf("2024-01-01 00:00:20"), "x"),
        (java.sql.Timestamp.valueOf("2024-01-01 00:01:10"), "y"))
      q.processAllAvailable()
      val got = spark.table("wincounts")
        .select(col("kind"), col("n")).as[(String, Long)].collect().toSet
      assert(got === Set(("x", 2L), ("y", 1L)))
    } finally q.stop()
  }

  test("session windows close on gap and match the batch gap rule") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val agg = Streams.sessionCounts(
      input.toDF().toDF("ts", "user"), "ts", "0 seconds", "30 seconds",
      Seq("user"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sesscounts").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // user u: events at :00, :20 (one session, chained extension),
      // then :70 (new session — 50s > 30s gap)
      input.addData((ts("2024-01-01 00:00:00"), "u"),
        (ts("2024-01-01 00:00:20"), "u"))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 00:01:10"), "u"))
      q.processAllAvailable()
      // push the watermark far past both sessions so they emit
      input.addData((ts("2024-01-01 00:10:00"), "w"))
      q.processAllAvailable()
      val got = spark.table("sesscounts")
        .filter(col("user") === "u")
        .select(col("session_start").cast("string"),
          col("session_end").cast("string"), col("n_events"))
        .as[(String, String, Long)].collect().toSet
      // session 1: [“00:00”, last event 00:20 + 30s gap); session 2:
      // [01:10, 01:40) — exactly the batch lag/cumsum gap rule
      assert(got === Set(
        ("2024-01-01 00:00:00", "2024-01-01 00:00:50", 2L),
        ("2024-01-01 00:01:10", "2024-01-01 00:01:40", 1L)))
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch range join") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = MemoryStream[(Long, java.sql.Timestamp, String)]
    val buys = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = Streams.intervalJoin(
      clicks.toDF().toDF("user", "click_ts", "page"),
      buys.toDF().toDF("user", "buy_ts", "amount"),
      keyCol = "user", leftTsCol = "click_ts", rightTsCol = "buy_ts",
      watermark = "0 seconds", before = "10 seconds", after = "60 seconds")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin").start()
    try {
      clicks.addData((1L, ts("2024-01-01 00:00:00"), "home"),
        (2L, ts("2024-01-01 00:00:30"), "search"))
      buys.addData(
        (1L, ts("2024-01-01 00:00:40"), 9.99),   // +40s: in window
        (1L, ts("2024-01-01 00:02:00"), 5.0),    // +120s: out
        (2L, ts("2024-01-01 00:00:25"), 3.5))    // -5s: in (before=10s)
      q.processAllAvailable()
      // advance both watermarks far past the interval so matches emit
      clicks.addData((99L, ts("2024-01-01 01:00:00"), "w"))
      buys.addData((99L, ts("2024-01-01 01:00:00"), 0.0))
      q.processAllAvailable()
      val got = spark.table("ssjoin")
        .select(col("user"), col("page"), col("amount"))
        .as[(Long, String, Double)].collect().toSet
      assert(got.filter(_._1 < 99L) === Set(
        (1L, "home", 9.99), (2L, "search", 3.5)))
    } finally q.stop()
  }
}
