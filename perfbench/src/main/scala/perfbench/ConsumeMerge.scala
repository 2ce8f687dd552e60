package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.consume.{BatchConsumer, ConsumerHooks}
import graft.model.{ErrorPolicy, TopicConfig}
import graft.operators.JdbcMerger
import graft.schema.{InMemoryRegistryTransport, SchemaRegistryClient}

/** Hooks of the entity consumer: a record with `deleted` set is a
  * tombstone, the payload fields plus the offset are the table row, and
  * each skipped batch id is remembered so the checks can explain it. */
final class EntityHooks extends ConsumerHooks {
  val failedBatches: java.util.Set[java.lang.Long] = ConcurrentHashMap.newKeySet()
  override def isTombstone = col("deleted")
  override def recordAttributes(payload: DataFrame): DataFrame =
    payload.select(col("offset"), col("payload.*"))
  override def onError(e: Throwable, batchId: Long): Unit = failedBatches.add(batchId)
}

/** `consume_merge`: the ActiveRecord-style batch consumer. A backlog of
  * Kafka-shaped frames `(offset, key, value)`, one parquet file per
  * micro-batch, is consumed by `BatchConsumer.stream` over a file source
  * (`maxFilesPerTrigger=1`, `Trigger.AvailableNow`, `ErrorPolicy.Skip`);
  * the sink merges each compacted micro-batch into embedded in-memory
  * Derby with `JdbcMerger.mergeIntoJdbc` (Ansi dialect, `versionCol` =
  * offset, default `maxBatchSize`).
  *
  * The backlog arrives in rounds: each round writes the next files (not
  * timed) and drains them with one `AvailableNow` run of the query from
  * its checkpoint (timed), as a scheduled consumer job would. */
final class ConsumeMerge(spark: SparkSession, dir: Path, seed: Long) extends Workload {
  private val Keys = 20000
  private val BatchMsgs = 1000
  private val ZipfS = 0.8
  private val TombstoneShare = 0.05
  private val CorruptShare = 0.001
  private val PurgeEvery = 4
  private val PurgeBlock = 1000
  private val FilesPerRound = 2
  private val SetupFiles = 1
  /** Warm-up rounds: 4 files, one whole purge period. */
  private val WarmRounds = 2

  private val schemaJson =
    """{"type":"record","name":"Entity","namespace":"perfbench","fields":[
      | {"name":"id","type":"long"},
      | {"name":"name","type":"string"},
      | {"name":"amount","type":"long"},
      | {"name":"status","type":"string"},
      | {"name":"deleted","type":"boolean","default":false}]}""".stripMargin
  private val client = new SchemaRegistryClient(new InMemoryRegistryTransport)
  private val backend = client.framedBackend("entity-value", schemaJson)

  private val frameSchema = StructType(Seq(StructField("offset", LongType),
    StructField("key", BinaryType), StructField("value", BinaryType)))
  private val srcDir = dir.resolve("frames")
  private val stageDir = dir.resolve("stage")
  private val ckptDir = dir.resolve("checkpoint")
  private val dlqDir = dir.resolve("dead-letters")
  private val db = s"memory:cm_${dir.getFileName.toString.replaceAll("\\W", "_")}"
  private val table = "entity"

  private val rng = new SplittableRandom(seed)
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Keys)(r => math.pow(r + 1, -ZipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  /** Zipf rank → entity id: hot keys are scattered over the key space. */
  private val rankToId: Array[Long] = {
    val ids = Array.tabulate(Keys)(_.toLong)
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    for (i <- Keys - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    ids
  }

  /** Per file index: its well-formed messages in offset order, each
    * (id, offset, row or None for a tombstone), and its message count.
    * The checks fold them into the last-wins reference. */
  private val fileMsgs = ArrayBuffer[Array[(Long, Long, Option[(String, Long, String)])]]()
  private val fileSizes = ArrayBuffer[Int]()
  private val corruptOffsets = mutable.LongMap[Unit]()
  private var nextOffset = 0L
  private var purges = 0
  private var generatedMsgs = 0L
  private var tombstones = 0L
  private var purgeTombstones = 0L
  private val startMs = System.currentTimeMillis()

  private val hooks = new EntityHooks
  private val consumer = new BatchConsumer(
    TopicConfig("entity", "Entity", errorPolicy = ErrorPolicy.Skip),
    backend, hooks, keyCols = Seq("id"), orderCol = "offset",
    deadLetterSink = Some((dead: DataFrame) =>
      dead.select("offset", "key", "value").write.mode("append").parquet(dlqDir.toString)))

  def properties: Seq[(String, Any)] = Seq(
    "key_space" -> Keys, "state_rows_preloaded" -> Keys,
    "zipf_s" -> ZipfS, "top_key_share" -> f"${zipfCdf(0)}%.4f",
    "messages_per_batch" -> BatchMsgs, "tombstone_share" -> TombstoneShare,
    "corrupt_share" -> CorruptShare, "purge_every_batches" -> PurgeEvery,
    "purge_block_keys" -> PurgeBlock, "files_per_round" -> FilesPerRound,
    "files" -> fileSizes.size, "messages" -> generatedMsgs,
    "tombstone_share_seen" -> f"${Layer.per(tombstones, generatedMsgs)}%.4f",
    "purge_share_seen" -> f"${Layer.per(purgeTombstones, generatedMsgs)}%.4f",
    "corrupt_share_seen" -> f"${Layer.per(corruptOffsets.size, generatedMsgs)}%.5f")

  private val avroSchema = new Schema.Parser().parse(schemaJson)
  private val writer = new GenericDatumWriter[GenericRecord](avroSchema)

  /** Confluent wire frame: magic 0, big-endian schema id, Avro body —
    * encoded with Apache Avro directly, not with the engine's codec. */
  private def frame(id: Long, name: String, amount: Long, status: String,
      deleted: Boolean): Array[Byte] = {
    val rec = new GenericData.Record(avroSchema)
    rec.put("id", id); rec.put("name", name); rec.put("amount", amount)
    rec.put("status", status); rec.put("deleted", deleted)
    val out = new java.io.ByteArrayOutputStream()
    out.write(0)
    out.write(java.nio.ByteBuffer.allocate(4).putInt(backend.schemaId).array())
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    writer.write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  private def zipfId(): Long = {
    val u = rng.nextDouble()
    var i = java.util.Arrays.binarySearch(zipfCdf, u)
    if (i < 0) i = -i - 1
    rankToId(math.min(i, Keys - 1))
  }

  private val Statuses = Array("new", "active", "suspended", "closed")

  /** (name, amount, status) of entity `id` in the preloaded table. */
  private def preloaded(id: Long): (String, Long, String) = (s"e$id-init", id, "active")

  /** The next file of the backlog: a regular batch, or every
    * `PurgeEvery`-th file a retention purge that tombstones a block of
    * `PurgeBlock` consecutive ids. */
  private def nextFile(): Unit = {
    val idx = fileSizes.size
    val rows = ArrayBuffer[Row]()
    val msgs = ArrayBuffer[(Long, Long, Option[(String, Long, String)])]()
    def emit(id: Long, value: Array[Byte], ref: Option[(String, Long, String)]): Unit = {
      val off = nextOffset; nextOffset += 1
      rows += Row(off, id.toString.getBytes("UTF-8"), value)
      if (ref eq null) corruptOffsets(off) = ()
      else msgs += ((id, off, ref))
    }
    if (idx % PurgeEvery == PurgeEvery - 1) {
      val block = purges % (Keys / PurgeBlock)
      purges += 1
      for (id <- block.toLong * PurgeBlock until (block + 1).toLong * PurgeBlock) {
        emit(id, frame(id, "", 0L, "purged", deleted = true), None)
        purgeTombstones += 1
      }
    } else {
      for (_ <- 0 until BatchMsgs) {
        val id = zipfId()
        val u = rng.nextDouble()
        if (u < CorruptShare) {
          val good = frame(id, "x", 1L, "new", deleted = false)
          // half bad magic byte, half a body cut short
          val bad = if (rng.nextBoolean()) { good(0) = 7; good } else good.take(7)
          emit(id, bad, null)
        } else if (u < CorruptShare + TombstoneShare) {
          tombstones += 1
          emit(id, frame(id, "", 0L, "deleted", deleted = true), None)
        } else {
          val name = s"e$id-${rng.nextInt(1000)}"
          val amount = rng.nextLong(1000000L)
          val status = Statuses(rng.nextInt(Statuses.length))
          emit(id, frame(id, name, amount, status, deleted = false), Some((name, amount, status)))
        }
      }
    }
    generatedMsgs += rows.size
    fileMsgs += msgs.toArray
    fileSizes += rows.size
    Workload.writeParquetFile(spark, rows.toSeq, frameSchema,
      srcDir.resolve(f"frames-$idx%06d.parquet"), stageDir, startMs + idx * 1000L)
  }

  private def url(traced: Boolean) =
    if (traced) CountingJdbc.Prefix + db else "jdbc:derby:" + db

  private def query(traced: Boolean, tracer: Tracer) = {
    val frames = spark.readStream.schema(frameSchema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    consumer.stream(frames) { (up, del, _) =>
      tracer.span("operators.mergeIntoJdbc") {
        JdbcMerger.mergeIntoJdbc(up.unionByName(del), url(traced), table,
          Seq("id"), col("deleted"), JdbcMerger.Ansi, new java.util.Properties,
          versionCol = Some("offset"))
      }
    }.option("checkpointLocation", ckptDir.toString)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** One round: write the next files, then drain them; each micro-batch
    * is one unit. */
  private def round(files: Int, u: Units, tracer: Tracer): Unit = {
    val first = fileSizes.size
    (0 until files).foreach(_ => nextFile())
    val clock = new Clock
    clock.start()
    val q = tracer.unit("consume.round") {
      val q = query(tracer.enabled, tracer)
      q.awaitTermination()
      q
    }
    clock.stopInto(u)
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    require(progress.length == files,
      s"expected $files micro-batches in the round, saw ${progress.length}")
    progress.zipWithIndex.foreach { case (p, i) =>
      val file = first + i
      require(p.batchId == file, s"micro-batch ${p.batchId} is not file $file")
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      u.latencies += p.batchDuration / 1000.0
      u.windows += ((t0, t0 + p.batchDuration))
      u.attempted += 1
      if (hooks.failedBatches.contains(p.batchId)) u.failed += 1
      else u.records += fileSizes(file)
      u.messages += fileSizes(file)
      u.valid += fileMsgs(file).length
    }
  }

  def setup(): Unit = {
    Seq(srcDir, stageDir).foreach(Files.createDirectories(_))
    CountingJdbc.register
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$db;create=true")
    try {
      val st = conn.createStatement()
      st.execute(s"""CREATE TABLE "$table" ("offset" BIGINT, "id" BIGINT NOT NULL,
        |"name" VARCHAR(64), "amount" BIGINT, "status" VARCHAR(16), "deleted" BOOLEAN,
        |PRIMARY KEY ("id"))""".stripMargin)
      val ins = conn.prepareStatement(s"""INSERT INTO "$table" VALUES (?, ?, ?, ?, ?, ?)""")
      conn.setAutoCommit(false)
      for (id <- 0L until Keys) {
        val row = preloaded(id)
        ins.setLong(1, -1L); ins.setLong(2, id); ins.setString(3, row._1)
        ins.setLong(4, row._2); ins.setString(5, row._3); ins.setBoolean(6, false)
        ins.addBatch()
      }
      ins.executeBatch()
      conn.commit()
    } finally conn.close()
    round(SetupFiles, new Units, new Tracer(false))
  }

  def warm(u: Units): Unit =
    (0 until WarmRounds).foreach(_ => round(FilesPerRound, u, new Tracer(false)))

  /** Rounds until `seconds` have passed and the region holds whole purge
    * periods, so every region completes the same mix of regular and
    * (failing) purge batches whatever file it starts at. */
  def run(seconds: Double, u: Units, tracer: Tracer): Unit = {
    val wall0 = u.wallS
    val files0 = fileSizes.size
    while (u.wallS - wall0 < seconds || (fileSizes.size - files0) % PurgeEvery != 0)
      round(FilesPerRound, u, tracer)
  }

  def checks(): Seq[Check] = {
    val table0 = mutable.LongMap[(Long, String, Long, String)]()
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$db")
    try {
      val rs = conn.createStatement().executeQuery(
        s"""SELECT "id", "offset", "name", "amount", "status" FROM "$table"""")
      while (rs.next()) table0(rs.getLong(1)) =
        (rs.getLong(2), rs.getString(3), rs.getLong(4), rs.getString(5))
    } finally conn.close()
    // Last-wins over the preloaded state (offset -1) and the messages of
    // every batch that did not fail: a failed batch must leave no trace.
    val failed = hooks.failedBatches.asScala.map(_.toInt).toSet
    val reference = mutable.LongMap[(Long, Option[(String, Long, String)])]()
    for (id <- 0L until Keys) reference(id) = (-1L, Some(preloaded(id)))
    for (f <- fileMsgs.indices if !failed.contains(f); (id, off, row) <- fileMsgs(f))
      reference(id) = (off, row)
    val expected = reference.collect { case (id, (off, Some((n, a, s)))) => id -> (off, n, a, s) }
    val differing = (expected.keySet ++ table0.keySet).filter(id => expected.get(id) != table0.get(id))
    val dead = spark.read.parquet(dlqDir.toString).select("offset").collect().map(_.getLong(0))
    val deadSet = dead.toSet
    val corrupt = corruptOffsets.keySet.toSet
    Seq(
      Check("consume_merge.table_matches_last_wins", differing.isEmpty,
        s"${table0.size} rows, ${differing.size} keys differ from the last-wins reference " +
          s"over ${fileMsgs.size - failed.size} applied and ${failed.size} failed batches " +
          s"(first: ${differing.toSeq.sorted.take(5).mkString(",")})"),
      Check("consume_merge.dead_letters_exact",
        dead.length == deadSet.size && deadSet == corrupt,
        s"${dead.length} dead letters, ${corrupt.size} corrupted frames"))
  }

  def layerMetrics(u: Units, tracer: Tracer, obs: Observers): Map[String, Double] = {
    val prog = obs.streamStats.progress.asScala.toSeq
    Map(
      "streaming.source_rows_per_msg" -> Layer.per(prog.map(_._1.toDouble).sum, u.messages),
      "streaming.trigger_overhead_p50_s" -> Layer.p50(prog.map(_._2)),
      "operators.merge_p50_s" -> Layer.p50(tracer.durations("operators.mergeIntoJdbc")),
      "operators.compaction_ratio" -> Layer.per(CountingJdbc.rows.sum.toDouble, u.valid),
      "store.exec_s_per_unit" -> Layer.per(CountingJdbc.execNs.sum / 1e9, u.attempted),
      "store.statements_per_unit" -> Layer.per(CountingJdbc.statements.sum.toDouble, u.attempted),
      "store.rows_per_statement" -> Layer.per(CountingJdbc.rows.sum.toDouble,
        (CountingJdbc.statements.sum + CountingJdbc.failedPrepares.sum).toDouble),
      "store.failed_statements" -> CountingJdbc.failed.sum.toDouble)
  }
}
