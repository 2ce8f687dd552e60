package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.{KeyConfig, TopicConfig}
import graft.outbox.OutboxRunner
import graft.poller.PollerRunner
import graft.produce.Producer
import graft.schema.{InMemoryRegistryTransport, SchemaRegistryClient}

/** `poll_outbox`: the DB→Kafka write path. A seeded source table
  * `(id, updated_at, topic, entity fields)` spread over 8 topics is
  * polled by `PollerRunner.processUpdates` one 1000-row page per cycle
  * (the poller's reference batch size); the callback encodes the page
  * with `Producer.produceFrame` (registry-framed Avro, one frame per
  * topic), stages it with `OutboxRunner.stage` and drains it with one
  * `OutboxRunner.sweep` into a parquet topic log.
  *
  * Every source row of cycle `c` has its `updated_at` inside cycle `c`'s
  * time slot, with ties, so advancing the poller's clock by one slot per
  * cycle makes exactly one page due. */
final class PollOutbox(spark: SparkSession, dir: Path, seed: Long) extends Workload {
  private val PageRows = 1000
  private val Topics = 8
  private val SourceCycles = 60
  private val TieSlots = 250
  private val SlotMs = 1000L
  private val CycleMs = TieSlots * SlotMs
  private val DelayMs = 2000L
  private val T0 = 1700000000000L
  private val SetupCycles = 1
  private val WarmCycles = 2

  private val schemaJson =
    """{"type":"record","name":"Entity","namespace":"perfbench","fields":[
      | {"name":"id","type":"long"},
      | {"name":"name","type":"string"},
      | {"name":"amount","type":"long"},
      | {"name":"status","type":"string"}]}""".stripMargin
  private val client = new SchemaRegistryClient(new InMemoryRegistryTransport)
  private val backend = client.framedBackend("entity-value", schemaJson)
  private val topicCfgs = (0 until Topics).map(t =>
    s"topic-$t" -> TopicConfig(s"topic-$t", "Entity", keyConfig = KeyConfig.Plain("id")))

  private val srcDir = dir.resolve("source")
  private val logDir = dir.resolve("topic-log")
  private val poller = new PollerRunner(() => spark.read.parquet(srcDir.toString),
    "updated_at", "id", dir.resolve("cursor").toString, batchSize = PageRows,
    delayMillis = DelayMs)
  private val outbox = new OutboxRunner(spark, dir.resolve("outbox").toString)

  private var cycles = 0
  private var pending = 0L
  private var rewritten = 0L
  private var drainedTotal = 0L
  private val scanS = mutable.ArrayBuffer[Double]()

  def properties: Seq[(String, Any)] = Seq(
    "source_rows" -> SourceCycles * PageRows, "topics" -> Topics,
    "page_rows" -> PageRows, "tie_slots_per_page" -> TieSlots,
    "cycles_run" -> cycles, "rows_delivered" -> drainedTotal)

  /** The source table, from seeded hashes of the row number. */
  private def generate(): Unit = {
    def h(salt: Int) = xxhash64(lit(seed), col("id"), lit(salt))
    spark.range(SourceCycles.toLong * PageRows)
      .select(
        col("id"),
        timestamp_millis(lit(T0) + (col("id") / PageRows).cast("long") * CycleMs +
          pmod(h(1), lit(TieSlots.toLong)) * SlotMs).as("updated_at"),
        concat(lit("topic-"), pmod(h(2), lit(Topics.toLong)).cast("string")).as("topic"),
        concat(lit("n"), pmod(h(3), lit(100000L)).cast("string")).as("name"),
        pmod(h(4), lit(1000000L)).as("amount"),
        element_at(array(lit("new"), lit("active"), lit("suspended"), lit("closed")),
          (pmod(h(5), lit(4L)) + 1).cast("int")).as("status"))
      .repartition(4).sortWithinPartitions("updated_at", "id")
      .write.parquet(srcDir.toString)
  }

  /** One cycle: the poller pages through what is due and hands each page
    * to produce → stage → sweep. */
  private def cycle(u: Units, tracer: Tracer): Unit = {
    val c = cycles
    val now = new java.sql.Timestamp(T0 + (c + 1) * CycleMs - 1 + DelayMs)
    var callbackNs = 0L
    var delivered = 0L
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    tracer.unit("poll.cycle") {
      poller.processUpdates(now) { page =>
        val c0 = System.nanoTime()
        val staged = tracer.span("produce.produceFrame") {
          topicCfgs.map { case (t, cfg) =>
            Producer.produceFrame(page.filter(col("topic") === t), cfg, backend)._1
          }.reduce(_ unionByName _)
            .withColumn("id", col("key").cast("string").cast("long"))
        }
        tracer.span("outbox.stage") { outbox.stage(staged) }
        pending += PageRows
        val drained = tracer.span("outbox.sweep") {
          outbox.sweep() { d =>
            d.withColumn("pos", monotonically_increasing_id()).withColumn("sweep", lit(c))
              .write.mode("append").parquet(logDir.toString)
          }
        }
        pending -= drained
        rewritten += pending
        delivered += drained
        callbackNs += System.nanoTime() - c0
      }
    }
    val t1 = System.nanoTime()
    cycles += 1
    drainedTotal += delivered
    u.latencies += (t1 - t0) / 1e9
    u.windows += ((w0, System.currentTimeMillis()))
    if (tracer.enabled) scanS += (t1 - t0 - callbackNs) / 1e9
    u.attempted += 1
    u.messages += PageRows
    u.valid += PageRows
    if (delivered == PageRows) u.records += delivered else u.failed += 1
  }

  def setup(): Unit = {
    generate()
    (0 until SetupCycles).foreach(_ => cycle(new Units, new Tracer(false)))
  }

  def warm(u: Units): Unit = {
    val clock = new Clock
    clock.start()
    (0 until WarmCycles).foreach(_ => cycle(u, new Tracer(false)))
    clock.stopInto(u)
  }

  def run(seconds: Double, u: Units, tracer: Tracer): Unit = {
    val clock = new Clock
    clock.start()
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds && cycles < SourceCycles) cycle(u, tracer)
    clock.stopInto(u)
  }

  def checks(): Seq[Check] = {
    val due = cycles.toLong * PageRows
    val src = spark.read.parquet(srcDir.toString).filter(col("id") < due)
      .select("id", "updated_at", "name", "amount", "status", "topic").collect()
      .map(r => r.getLong(0) -> r).toMap
    val log = spark.read.parquet(logDir.toString)
      .select("sweep", "topic", "pos", "key", "value").collect()
    val reader = new GenericDatumReader[GenericRecord](new Schema.Parser().parse(schemaJson))
    val ids = log.map(r => new String(r.getAs[Array[Byte]]("key"), "UTF-8").toLong)
    val badValues = log.zip(ids).count { case (r, id) =>
      val v = r.getAs[Array[Byte]]("value")
      val rec = reader.read(null, DecoderFactory.get().binaryDecoder(v, 5, v.length - 5, null))
      val s = src.get(id)
      v(0) != 0 || java.nio.ByteBuffer.wrap(v, 1, 4).getInt != backend.schemaId || s.isEmpty ||
        rec.get("id") != id || rec.get("name").toString != s.get.getString(2) ||
        rec.get("amount") != s.get.getLong(3) || rec.get("status").toString != s.get.getString(4) ||
        r.getString(1) != s.get.getString(5)
    }
    val unordered = log.zip(ids).groupBy { case (r, _) => (r.getInt(0), r.getString(1)) }
      .count { case (_, rows) =>
        val byPos = rows.sortBy(_._1.getLong(2)).map(_._2)
        !byPos.sameElements(byPos.sorted) || byPos.distinct.length != byPos.length
      }
    val pendingLeft = outbox.staged.count()
    val cursor = poller.loadCursor()
    val last = src.values.maxBy(r => (r.getTimestamp(1).getTime, r.getLong(0)))
    Seq(
      Check("poll_outbox.every_id_delivered_once",
        ids.length == src.size && ids.toSet == src.keySet,
        s"${ids.length} log rows, ${ids.toSet.size} distinct ids, ${src.size} due"),
      Check("poll_outbox.values_match_source", badValues == 0,
        s"$badValues log values do not decode to their source row"),
      Check("poll_outbox.ids_ascend_per_topic_per_sweep", unordered == 0,
        s"$unordered (sweep, topic) groups out of id order"),
      Check("poll_outbox.outbox_empty", pendingLeft == 0, s"$pendingLeft messages left staged"),
      Check("poll_outbox.cursor_is_max",
        cursor.lastTs == last.getTimestamp(1) && cursor.lastId == last.getLong(0),
        s"cursor ${cursor.lastTs}|${cursor.lastId}, max ${last.getTimestamp(1)}|${last.getLong(0)}"))
  }

  def layerMetrics(u: Units, tracer: Tracer, obs: Observers): Map[String, Double] = Map(
    "poller.scan_p50_s" -> Layer.p50(scanS),
    "outbox.stage_p50_s" -> Layer.p50(tracer.durations("outbox.stage")),
    "outbox.sweep_p50_s" -> Layer.p50(tracer.durations("outbox.sweep")),
    "outbox.rewritten_rows_per_drained" -> Layer.per(rewritten.toDouble, drainedTotal))
}
