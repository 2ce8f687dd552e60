package graft

import org.apache.spark.sql.functions._

import graft.ext.{CurationRunner, Dedup}

/** The curation store: streamed increments through foreachBatch must
  * equal the chained batch operator, survive at-least-once replay of
  * a micro-batch (exactly-once application), bootstrap from an empty
  * store, and flip the version pointer atomically (old snapshot
  * intact until the new one is complete). */
class CurationRunnerSpec extends SparkSpec {
  import spark.implicits._

  private val h1 = 0L
  private val far = 0xFFFFFFFFFFFFFFFL

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("graft-curation").toString

  private var groups = 0
  /** Spark jobs `body` runs, and its value. */
  private def jobs[T](body: => T): (Int, T) = {
    groups += 1
    val g = s"graft-curation-runner-$groups"
    spark.sparkContext.setJobGroup(g, "curation runner job count")
    val out = try body finally spark.sparkContext.clearJobGroup()
    (spark.sparkContext.statusTracker.getJobIdsForGroup(g).length, out)
  }

  /** Near copies of two centres plus scattered singles, ids from
    * `from`: the increment finds pairs within and across the sides. */
  private def nearCopies(from: Long) = {
    val rnd = new scala.util.Random(from)
    val centres = Seq(0x0123_4567_89AB_CDEFL, 0x7654_3210_FEDC_BA98L)
    ((0 until 12).map(i => (from + i,
      centres(i % 2) ^ (1L << rnd.nextInt(64)), rnd.nextInt(100).toLong)) ++
      (12 until 20).map(i => (from + i, rnd.nextLong(), rnd.nextInt(100).toLong)))
      .toDF("doc_id", "ph", "quality")
  }

  private def readSurv(dir: String): Map[Long, (Long, Long)] =
    CurationRunner.survivors(spark, dir, "doc_id", "ph", "quality")
      .select(col("doc_id"), col("quality"), col("n_copies"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("streamed increments equal the chained batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val dir = freshDir()
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long)]
    val q = input.toDF().toDF("doc_id", "ph", "quality")
      .writeStream.outputMode("append")
      .foreachBatch(CurationRunner.sink(dir, "doc_id", "ph", "quality"))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-cr-ckpt").toString)
      .start()
    try {
      input.addData((1L, h1, 5L), (2L, far, 9L))
      q.processAllAvailable()
      assert(readSurv(dir) === Map(1L -> (5L, 1L), 2L -> (9L, 1L)))
      input.addData((10L, h1, 7L)) // beats 1, absorbs its count
      q.processAllAvailable()
      assert(readSurv(dir) === Map(10L -> (7L, 2L), 2L -> (9L, 1L)))
      input.addData((20L, h1, 6L), (21L, far, 1L)) // both lose elections
      q.processAllAvailable()
      assert(readSurv(dir) === Map(10L -> (7L, 3L), 2L -> (9L, 2L)))
    } finally q.stop()
    // chained batch equivalence
    val s1 = Dedup.curateIncrement(
      Seq.empty[(Long, Long, Long, Long)].toDF("doc_id", "ph", "quality", "n_copies"),
      Seq((1L, h1, 5L), (2L, far, 9L)).toDF("doc_id", "ph", "quality"),
      "doc_id", "ph", "quality")
    val s2 = Dedup.curateIncrement(s1,
      Seq((10L, h1, 7L)).toDF("doc_id", "ph", "quality"),
      "doc_id", "ph", "quality")
    val s3 = Dedup.curateIncrement(s2,
      Seq((20L, h1, 6L), (21L, far, 1L)).toDF("doc_id", "ph", "quality"),
      "doc_id", "ph", "quality")
      .select(col("doc_id"), col("quality"), col("n_copies"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(s3 === readSurv(dir))
  }

  test("replayed batchId is skipped: at-least-once delivery, exactly-once state") {
    val dir = freshDir()
    val b0 = Seq((1L, h1, 5L)).toDF("doc_id", "ph", "quality")
    assert(CurationRunner.applyIncrement(dir, b0, 0L, "doc_id", "ph", "quality"))
    val b1 = Seq((10L, h1, 7L)).toDF("doc_id", "ph", "quality")
    assert(CurationRunner.applyIncrement(dir, b1, 1L, "doc_id", "ph", "quality"))
    val afterOnce = readSurv(dir)
    assert(afterOnce === Map(10L -> (7L, 2L)))
    // crash-replay of batch 1: must be a no-op, not a double count
    assert(!CurationRunner.applyIncrement(dir, b1, 1L, "doc_id", "ph", "quality"))
    // late replay of batch 0: also ignored
    assert(!CurationRunner.applyIncrement(dir, b0, 0L, "doc_id", "ph", "quality"))
    assert(readSurv(dir) === afterOnce)
    assert(CurationRunner.current(dir).get.version === 1L)
  }

  test("prune keeps the newest snapshots and never the current one") {
    val dir = freshDir()
    for (i <- 0 to 3)
      CurationRunner.applyIncrement(dir,
        Seq((i.toLong, h1, i.toLong)).toDF("doc_id", "ph", "quality"),
        i.toLong, "doc_id", "ph", "quality")
    assert(CurationRunner.prune(dir, keep = 2) === Seq(0L, 1L))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "v0")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "v2")))
    // store still fully functional after pruning
    assert(readSurv(dir) === Map(3L -> (3L, 4L)))
    assert(CurationRunner.prune(dir, keep = 2) === Seq.empty) // idempotent
  }

  test("store runs through an explicit file: URI — the Hadoop FileSystem path") {
    // the pointer/prune I/O resolves the SAME FileSystem the parquet
    // writer does; an explicit scheme proves nothing falls back to
    // java.nio on the driver's local cwd
    val dir = "file:" + freshDir()
    val b0 = Seq((1L, h1, 5L), (2L, far, 9L)).toDF("doc_id", "ph", "quality")
    assert(CurationRunner.applyIncrement(dir, b0, 0L, "doc_id", "ph", "quality"))
    assert(CurationRunner.applyIncrement(dir,
      Seq((10L, h1, 7L)).toDF("doc_id", "ph", "quality"),
      1L, "doc_id", "ph", "quality"))
    assert(readSurv(dir) === Map(10L -> (7L, 2L), 2L -> (9L, 1L)))
    assert(CurationRunner.current(dir) === Some(CurationRunner.Pointer(1L, 1L)))
    assert(CurationRunner.prune(dir, keep = 1) === Seq(0L))
    assert(readSurv(dir) === Map(10L -> (7L, 2L), 2L -> (9L, 1L)))
  }

  test("pointer I/O works with no thread-local active session (default-session fallback)") {
    // a retention thread that never built a session must still resolve
    // the store through the Spark Hadoop conf, not a bare Configuration
    val dir = "file:" + freshDir()
    val b0 = Seq((1L, h1, 5L)).toDF("doc_id", "ph", "quality")
    assert(CurationRunner.applyIncrement(dir, b0, 0L, "doc_id", "ph", "quality"))
    val active = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.clearActiveSession()
    try {
      assert(CurationRunner.current(dir) ===
        Some(CurationRunner.Pointer(0L, 0L)))
      assert(CurationRunner.prune(dir, keep = 1) === Seq.empty)
    } finally active.foreach(
      org.apache.spark.sql.SparkSession.setActiveSession)
  }

  test("crash before the marker commit leaves the old version authoritative") {
    val dir = freshDir()
    val b0 = Seq((1L, h1, 5L)).toDF("doc_id", "ph", "quality")
    assert(CurationRunner.applyIncrement(dir, b0, 0L, "doc_id", "ph", "quality"))
    val before = readSurv(dir)
    // simulate an increment that died after writing its snapshot and
    // staging the marker, but BEFORE the rename: a v1 snapshot dir and
    // a _COMMIT_1.tmp exist, no _COMMIT_1
    Seq((99L, h1, 99L, 1L)).toDF("doc_id", "ph", "quality", "n_copies")
      .write.mode("overwrite").parquet(s"$dir/v1")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_COMMIT_1.tmp"),
      "1 1".getBytes("UTF-8"))
    // readers see the OLD version; the partial v1 is invisible
    assert(CurationRunner.current(dir) === Some(CurationRunner.Pointer(0L, 0L)))
    assert(readSurv(dir) === before)
    // the replayed batch re-applies onto v0, overwriting the partial v1
    assert(CurationRunner.applyIncrement(dir,
      Seq((10L, h1, 7L)).toDF("doc_id", "ph", "quality"),
      1L, "doc_id", "ph", "quality"))
    assert(CurationRunner.current(dir) === Some(CurationRunner.Pointer(1L, 1L)))
    assert(readSurv(dir) === Map(10L -> (7L, 2L)))
  }

  test("empty store bootstraps from the batch's schema; snapshots immutable") {
    val dir = freshDir()
    assert(readSurv(dir) === Map.empty)
    val b0 = Seq((1L, h1, 5L), (2L, h1, 8L)).toDF("doc_id", "ph", "quality")
    CurationRunner.applyIncrement(dir, b0, 0L, "doc_id", "ph", "quality")
    assert(readSurv(dir) === Map(2L -> (8L, 2L)))
    // v0 stays readable after v1 lands (time-travel / crash recovery)
    CurationRunner.applyIncrement(dir,
      Seq((3L, h1, 9L)).toDF("doc_id", "ph", "quality"),
      1L, "doc_id", "ph", "quality")
    val v0 = spark.read.parquet(s"$dir/v0")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(v0 === Set(2L))
    assert(readSurv(dir) === Map(3L -> (9L, 3L)))
    // overflow frame exists (empty here) per version
    assert(spark.read.parquet(s"$dir/overflow_v1").count() === 0L)
  }

  test("an increment reads its snapshot with the marker's schema, no footer inference") {
    val dir = freshDir()
    assert(CurationRunner.applyIncrement(dir, nearCopies(0L), 0L, "doc_id",
      "ph", "quality"))
    val (n, applied) = jobs(CurationRunner.applyIncrement(dir,
      nearCopies(100L), 1L, "doc_id", "ph", "quality"))
    assert(applied)
    assert(n === 13, "Spark jobs of one increment on a store")
    assert(CurationRunner.survivors(spark, dir, "doc_id", "ph", "quality")
      .schema === spark.read.parquet(s"$dir/v1").schema,
      "the marker carries the schema inference reads")
  }

  test("a marker in the older \"<N> <batchId>\" format still resolves, its snapshot read by inference") {
    val dir = freshDir()
    assert(CurationRunner.applyIncrement(dir, nearCopies(0L), 0L, "doc_id",
      "ph", "quality"))
    val before = readSurv(dir)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_COMMIT_0"),
      "0 0".getBytes("UTF-8"))
    // the local file system checks a rewritten file against its crc
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "._COMMIT_0.crc"))
    assert(CurationRunner.current(dir) === Some(CurationRunner.Pointer(0L, 0L)))
    assert(readSurv(dir) === before)
    assert(CurationRunner.applyIncrement(dir, nearCopies(100L), 1L, "doc_id",
      "ph", "quality"))
    assert(CurationRunner.current(dir) === Some(CurationRunner.Pointer(1L, 1L)))
    assert(readSurv(dir).values.map(_._2).sum === 40L,
      "every document is counted once")
  }
}
