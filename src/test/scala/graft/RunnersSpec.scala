package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.{GraftConfigFile, KeyConfig, MessageCols, TopicConfig, TopicSelector}
import graft.operators.{Materialize, Poller}
import graft.outbox.OutboxRunner
import graft.poller.PollerRunner
import graft.produce.{Producer, ProducerHooks}
import graft.schema.PlainJsonBackend

class PollerRunnerSpec extends SparkSpec {
  import spark.implicits._

  private def tbl(n: Int) = (1 to n).map(i =>
    (i.toLong, Timestamp.valueOf(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d")))
    .toDF("id", "ts")

  test("poller pages through in (ts,id) order, persists cursor, resumes") {
    val dir = Files.createTempDirectory("graft-poller")
    val runner = new PollerRunner(() => tbl(25), "ts", "id",
      dir.resolve("cursor").toString, batchSize = 10)
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    val now = Timestamp.valueOf("2024-01-01 01:00:00")
    val pages = runner.processUpdates(now)(p =>
      seen ++= p.select("id").as[Long].collect())
    assert(pages === 3)
    assert(seen.toSeq === (1L to 25L))
    // resume with no new data → zero pages
    assert(runner.processUpdates(now)(_ => fail("no new data expected")) === 0)
    // resume after new rows appear
    val runner2 = new PollerRunner(() => tbl(30), "ts", "id",
      dir.resolve("cursor").toString, batchSize = 10)
    val seen2 = scala.collection.mutable.ArrayBuffer[Long]()
    runner2.processUpdates(now)(p =>
      seen2 ++= p.select("id").as[Long].collect())
    assert(seen2.toSeq === (26L to 30L))
  }

  test("delay_time excludes rows newer than now - delay") {
    val dir = Files.createTempDirectory("graft-poller2")
    val runner = new PollerRunner(() => tbl(25), "ts", "id",
      dir.resolve("cursor").toString, batchSize = 100,
      delayMillis = 3600000L) // 1h lag allowance → everything excluded
    assert(runner.processUpdates(Timestamp.valueOf("2024-01-01 00:30:00"))(
      _ => fail("nothing should be eligible")) === 0)
  }

  test("produce failure retries then skips batch with cursor advanced") {
    val dir = Files.createTempDirectory("graft-poller3")
    val runner = new PollerRunner(() => tbl(5), "ts", "id",
      dir.resolve("cursor").toString, batchSize = 10, retries = 1)
    var calls = 0
    val pages = runner.processUpdates(Timestamp.valueOf("2024-01-01 01:00:00")) {
      _ => calls += 1; if (calls == 1) throw new RuntimeException("kafka down")
    }
    assert(pages === 1 && calls === 2)
    assert(runner.loadCursor().lastId === 5L)
  }
}

class OutboxRunnerSpec extends SparkSpec {
  import spark.implicits._

  private def mkRunner(clock: () => Long = () => 0L) = {
    val dir = Files.createTempDirectory("graft-outbox").resolve("staging")
    val runner = new OutboxRunner(spark, dir.toString, clock = clock)
    val msgs = Seq(
      (1L, "t1", "A", "a1"), (2L, "t1", "A", "a2"), (3L, "t2", "B", "b1"))
      .toDF("id", MessageCols.Topic, MessageCols.Key, "payload")
      .withColumn("created_at", lit(Timestamp.valueOf("2024-01-01 00:00:00")))
    runner.stage(msgs)
    runner
  }

  test("sweep drains per topic in order and deletes drained rows") {
    val runner = mkRunner()
    val produced = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val n = runner.sweep() { df =>
      produced ++= df.select(MessageCols.Topic, "id")
        .as[(String, Long)].collect()
    }
    assert(n === 3)
    // per-topic insertion order preserved
    assert(produced.filter(_._1 == "t1").map(_._2).toSeq === Seq(1L, 2L))
    assert(runner.staged.count() === 0)
    assert(runner.sweep()(_ => fail("staging should be empty")) === 0)
  }

  test("compact_topics compacts last-wins before producing") {
    val runner = mkRunner()
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    runner.sweep(compactTopics = TopicSelector.Names(Set("t1"))) { df =>
      seen ++= df.select("id").as[Long].collect()
    }
    assert(seen.sorted.toSeq === Seq(2L, 3L)) // A@1 compacted away
  }

  test("compact_topics = all from the config file compacts an unnamed topic") {
    val cfg = GraftConfigFile.parse("outbox.compact_topics = all\n")
    val runner = mkRunner()
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    runner.sweep(cfg.outbox.compactTopics) { df =>
      seen ++= df.select("id").as[Long].collect()
    }
    // t1 is named nowhere, yet its A@1 is compacted away
    assert(seen.sorted.toSeq === Seq(2L, 3L))
  }

  test("one bad topic cools only itself; healthy topics drain via the fallback") {
    var now = 1000L
    val runner = mkRunner(() => now)
    // optimistic mixed-topic produce fails (contains t2), fallback
    // isolates: t1 drains, t2 cools down
    def produce(df: org.apache.spark.sql.DataFrame): Unit = {
      if (df.filter(col(MessageCols.Topic) === "t2").count() > 0)
        throw new RuntimeException("t2 broker down")
      ()
    }
    val drained = intercept[RuntimeException] { runner.sweep()(produce) }
    assert(drained.getMessage === "t2 broker down")
    // t1's rows were produced + deleted; t2's remain staged
    val left = runner.staged.select(MessageCols.Topic)
      .as[String].collect().toSeq
    assert(left === Seq("t2"))
    // t2 skipped while cooling; nothing eligible → no produce call
    assert(runner.sweep()(_ => fail("t2 must be in cooldown")) === 0L)
    now += 61000L
    assert(runner.sweep()(_.count()) === 1L)
    assert(runner.staged.count() === 0L)
  }

  test("produce failure puts topics in cooldown; retry after window") {
    var now = 1000L
    val runner = mkRunner(() => now)
    intercept[RuntimeException] {
      runner.sweep()(_ => throw new RuntimeException("broker down"))
    }
    // still inside cooldown → topics skipped
    assert(runner.sweep()(_ => fail("in cooldown")) === 0L)
    now += 61000L
    var drained = 0L
    drained = runner.sweep()(_.count())
    assert(drained === 3L)
  }

  private def dataDirs(dir: java.nio.file.Path): Seq[String] = {
    val s = java.nio.file.Files.list(dir)
    try {
      val names = scala.collection.mutable.ArrayBuffer[String]()
      s.forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("d=") || n.startsWith("v=")) names += n
      }
      names.toSeq.sorted
    } finally s.close()
  }

  private def filesUnder(p: java.nio.file.Path): Map[String, Long] = {
    val s = java.nio.file.Files.walk(p)
    try {
      val m = scala.collection.mutable.Map[String, Long]()
      s.forEach { q =>
        if (java.nio.file.Files.isRegularFile(q))
          m(q.toString) = java.nio.file.Files.getLastModifiedTime(q).toMillis
      }
      m.toMap
    } finally s.close()
  }

  test("staging N batches appends N deltas; old deltas are never rewritten; sweep compacts to 1") {
    val dir = Files.createTempDirectory("graft-outbox-delta").resolve("staging")
    val runner = new OutboxRunner(spark, dir.toString)
    def batchDf(id: Long) = Seq((id, "t1", "A", s"p$id"))
      .toDF("id", MessageCols.Topic, MessageCols.Key, "payload")
      .withColumn("created_at", lit(Timestamp.valueOf("2024-01-01 00:00:00")))
    runner.stage(batchDf(1))
    val firstDelta = dataDirs(dir)
    assert(firstDelta.size === 1)
    val firstFiles = filesUnder(dir.resolve(firstDelta.head))
    (2L to 4L).foreach(i => runner.stage(batchDf(i)))
    // O(N) layout: one new dir per stage, earlier dirs byte-untouched
    assert(dataDirs(dir).size === 4)
    assert(filesUnder(dir.resolve(firstDelta.head)) === firstFiles,
      "stage() must not rewrite existing delta dirs")
    assert(runner.staged.count() === 4)
    // sweep drains everything and compacts the manifest to ONE delta
    assert(runner.sweep()(_.count()) === 4L)
    assert(dataDirs(dir).size === 1)
    assert(runner.staged.count() === 0)
  }

  test("restart recovery: orphan delta + leftover tmp from a crashed commit are ignored and GC'd") {
    val dir = Files.createTempDirectory("graft-outbox-crash").resolve("staging")
    val runner = new OutboxRunner(spark, dir.toString)
    val msgs = Seq((1L, "t1", "A", "a1"))
      .toDF("id", MessageCols.Topic, MessageCols.Key, "payload")
      .withColumn("created_at", lit(Timestamp.valueOf("2024-01-01 00:00:00")))
    runner.stage(msgs)
    // simulate a crash BETWEEN delta write and pointer move: an orphan
    // delta dir exists and a tmp manifest was left behind
    msgs.withColumn("payload", lit("orphan"))
      .write.parquet(s"$dir/d=99")
    java.nio.file.Files.writeString(dir.resolve("_LATEST.tmp"), "d=0\nd=99")
    // a NEW runner (process restart) must see only the committed rows
    val restarted = new OutboxRunner(spark, dir.toString)
    assert(restarted.staged.select("payload").as[String].collect().toSeq
      === Seq("a1"))
    // next commit GC's the orphan and never reuses its id
    restarted.stage(msgs.withColumn("id", lit(2L)))
    assert(restarted.staged.count() === 2)
    assert(!dataDirs(dir).contains("d=99"))
    assert(dataDirs(dir).forall(d => d == "d=0" || d.stripPrefix("d=").toLong >= 100))
  }

  test("crash mid-delete contract still holds: produce ok + commit lost reproduces messages") {
    val dir = Files.createTempDirectory("graft-outbox-redeliver").resolve("staging")
    val runner = new OutboxRunner(spark, dir.toString)
    val msgs = Seq((1L, "t1", "A", "a1"), (2L, "t1", "A", "a2"))
      .toDF("id", MessageCols.Topic, MessageCols.Key, "payload")
      .withColumn("created_at", lit(Timestamp.valueOf("2024-01-01 00:00:00")))
    runner.stage(msgs)
    // a produce that dies before the delete commits must leave the
    // pointer (and every dir it names) untouched, so a restarted
    // process re-delivers — the delete-after-produce at-least-once side
    val manifestBytes = java.nio.file.Files.readAllBytes(dir.resolve("_LATEST"))
    intercept[RuntimeException] {
      runner.sweep()(_ => throw new RuntimeException("crash before delete"))
    }
    assert(new String(java.nio.file.Files.readAllBytes(dir.resolve("_LATEST")))
      === new String(manifestBytes), "failed sweep must not move the pointer")
    val fresh = new OutboxRunner(spark, dir.toString)
    assert(fresh.staged.count() === 2, "messages reproduce after restart")
  }

  test("metricsReport is gated on a real metrics sink (no extra job under noop)") {
    val dir = Files.createTempDirectory("graft-outbox-gate").resolve("staging")
    val msgs = Seq((1L, "t1", "A", "a1"))
      .toDF("id", MessageCols.Topic, MessageCols.Key, "payload")
      .withColumn("created_at", lit(Timestamp.valueOf("2024-01-01 00:00:00")))
    var reportsNoop = 0
    val noopRunner = new OutboxRunner(spark, dir.toString + "-noop") {
      override def metricsReport(): Unit = { reportsNoop += 1; super.metricsReport() }
    }
    noopRunner.stage(msgs)
    noopRunner.sweep()(_.count())
    assert(reportsNoop === 0, "noop metrics must skip the pending aggregation")
    var reportsReal = 0
    val mem = new graft.observe.Metrics.InMemory
    val realRunner = new OutboxRunner(spark, dir.toString + "-real",
      metrics = mem) {
      override def metricsReport(): Unit = { reportsReal += 1; super.metricsReport() }
    }
    realRunner.stage(msgs)
    realRunner.sweep()(_.count())
    assert(reportsReal === 1)
    assert(mem.counts.containsKey(graft.observe.Metrics.OutboxProduce))
  }
}

class ProducerSpec extends SparkSpec {
  import spark.implicits._

  private val backend = new PlainJsonBackend(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("wid",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType))))

  test("produceFrame: payload shaping, partition key, too-large split") {
    val attrs = Seq(("w1", 1L, "x"), ("w2", 2L, "y" * 500))
      .toDF("wid", "n", "extra")
    val hooks = new ProducerHooks {
      override def generatePayload(a: DataFrame): DataFrame =
        a.withColumn("n", col("n") * 10)
      override def partitionKey: Option[org.apache.spark.sql.Column] =
        Some(col("wid"))
    }
    val (ok, tooLarge) = Producer.produceFrame(attrs,
      TopicConfig("widgets", "W", keyConfig = KeyConfig.NoKey),
      backend, hooks, maxMessageBytes = Some(200))
    assert(ok.columns.toSeq ===
      Seq("topic", "key", "value", "partition_key"))
    val row = ok.select("partition_key", "value").collect()(0)
    assert(row.getString(0) === "w1")
    val payload = new String(row.getAs[Array[Byte]]("value"))
    assert(payload.contains("\"n\":10") && !payload.contains("extra"))
    assert(tooLarge.count() === 0)
  }

  test("kill switch blocks the produce chain") {
    graft.model.EngineConfig.producersDisabled = true
    try intercept[IllegalArgumentException] {
      Producer.produceFrame(Seq(("w", 1L)).toDF("wid", "n"),
        TopicConfig("t", "W"), backend)
    } finally graft.model.EngineConfig.producersDisabled = false
  }
}

class BackfillSpec extends SparkSpec {
  import spark.implicits._

  test("bulk_import_id surrogate backfills child fks") {
    val parents = Materialize.withBulkImportId(
      Seq(("o1", "alice"), ("o2", "bob")).toDF("order_ref", "who"),
      Seq("order_ref"))
    // store assigns pks — simulate with monotonically increasing join
    val saved = parents.withColumn("pk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("order_ref")).cast("long"))
    val children = parents.select(col("bulk_import_id"))
      .withColumn("item", lit("i"))
    val got = Materialize.backfillPrimaryKeys(children, saved,
      "bulk_import_id", "pk")
    assert(got.select("pk").as[Long].collect().toSet === Set(1L, 2L))
  }
}

class MultimodalPartitionSpec extends SparkSpec {
  import spark.implicits._
  import graft.ext.Multimodal

  test("sampleFrames extracts real raw frames from an MP4; non-video → null") {
    import graft.ext.Mp4Demux
    val mp4 = Mp4Demux.mp4FramesBytes(3, 2, 5, 10)
    val df = Seq((mp4, "not a video".getBytes)).toDF("video", "text")
    val (frames, none) = df.select(
      Multimodal.sampleFrames(col("video"), 2),
      Multimodal.sampleFrames(col("text"), 2))
      .as[(Option[Seq[Array[Byte]]], Option[Seq[Array[Byte]]])].collect()(0)
    // frames 0, 2, 4 of 5; each 3x2 = 6 bytes of (seed + f*31 + x) % 256
    assert(frames.get.size === 3)
    assert(frames.get.forall(_.length === 6))
    assert(frames.get.head.toSeq === Seq[Byte](10, 11, 12, 10, 11, 12))
    assert(frames.get(1).toSeq ===
      (Seq(72, 73, 74, 72, 73, 74).map(_.toByte)))
    assert(none.isEmpty)
  }

  test("decodeStats dispatches PNG/GIF/WAV/MP4 by magic") {
    import graft.ext.{GifDecode, Mp4Demux, PixelDecode}
    val rows = Seq(
      (1L, PixelDecode.pngPixelBytes(9, 4, 7)),
      (2L, GifDecode.gifPixelBytes(9, 4, 7)),
      (3L, PixelDecode.wavToneBytes(1, 8000, 50, 11)),
      (4L, "not media at all".getBytes),
      (5L, Mp4Demux.mp4FramesBytes(4, 3, 2, 9)))
    val df = rows.toDF("id", "media_bytes")
    val viaExpr = df.select(col("id"),
      Multimodal.decodeStats(col("media_bytes")).as("st"))
      .select(col("id"), col("st.media_type"), col("st.n_samples"),
        col("st.sum_val"))
      .as[(Long, Option[String], Option[Long], Option[Long])]
      .collect().sortBy(_._1)
    assert(viaExpr.map(_._2.orNull).toSeq ===
      Seq("image/png", "image/gif", "audio/wav", null, "video/mp4"))
    assert(viaExpr(0)._3 === Some(36L))   // 9*4 gray samples
    assert(viaExpr(1)._3 === Some(108L))  // 9*4*3 rgb samples
    assert(viaExpr(2)._3 === Some(50L))   // 50 pcm samples
    assert(viaExpr(4)._3 === Some(24L))   // 4*3 px × 2 frames
    // frame f, pixel x: (9 + f*31 + x) % 256 summed over x<4, ×3 rows
    assert(viaExpr(4)._4 === Some(3L * ((9 + 10 + 11 + 12) + (40 + 41 + 42 + 43))))
  }
}
