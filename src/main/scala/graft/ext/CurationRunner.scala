package graft.ext

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [EXT] The DEPLOYMENT shape of incremental curation: a versioned
  * survivor store updated once per micro-batch through
  * [[Dedup.curateIncrementCapped]], the one curation kernel that
  * `curateOneShot` also runs — "each crawl increment screens against
  * the current corpus, merges, re-elects, and the survivor table rolls
  * forward".
  *
  * Store layout under `dir` (any Hadoop-FileSystem URI — local path,
  * `file:`, `hdfs:`, `s3a:`, ... — every pointer/prune operation goes
  * through `org.apache.hadoop.fs.FileSystem` resolved from the Spark
  * Hadoop conf, the same resolver the parquet snapshots use, so the
  * snapshots and the pointer always land in the SAME store):
  *  - `v<N>/` — one immutable parquet snapshot per applied increment
  *    (schema: idCol, hashCol, qualityCol, n_copies);
  *  - `overflow_v<N>/` — that increment's drop-and-report frame;
  *  - `_COMMIT_<N>` — tiny marker `"<N> <batchId>"`, then a newline
  *    and the snapshot's schema as JSON, one per applied version,
  *    written AFTER its snapshot completes. The CURRENT
  *    version is the maximum committed N; readers resolve it with one
  *    directory listing, then read an immutable snapshot — a
  *    concurrent reader never sees a half-written table, and the
  *    previous snapshot stays valid until the next marker lands.
  *
  * Commit protocol (why a new marker per version instead of rewriting
  * one `_CURRENT` file): the marker is staged as `_COMMIT_<N>.tmp`,
  * closed, then renamed to its FINAL name — a rename onto a name that
  * never pre-exists. That needs no overwriting rename (atomic on HDFS
  * and POSIX local, but copy+delete on object stores and delete+rename
  * in the generic Hadoop fallback — both with a window where NO
  * pointer exists, which would silently re-bootstrap the store at v0).
  * Per store class: on HDFS/local the rename is atomic; on S3A the
  * rename of a closed single object is one atomic PUT of the final key
  * (a crash between copy and delete leaves a stale `.tmp`, harmless);
  * in all cases a reader sees the marker either absent or complete,
  * never partial. Single-writer discipline is assumed (one streaming
  * query owns the store), exactly as with any Spark sink checkpoint.
  *
  * Exactly-once under at-least-once `foreachBatch` (the T1 merge
  * discipline applied to curation): the newest marker records the LAST
  * APPLIED batchId, and a redelivered micro-batch (same batchId —
  * Spark replays the same id after a crash between sink success and
  * checkpoint commit) is SKIPPED, so a replayed increment can neither
  * double-count n_copies nor re-drop documents. Out-of-order ids
  * (batchId < last applied) are likewise ignored. A crash at ANY point
  * before the marker rename leaves the previous marker the maximum —
  * the replayed batch simply re-applies onto the old version,
  * overwriting the partial snapshot.
  *
  * 100 TB shape: the store holds only (id, 64-bit hash, quality,
  * count) — ~32 B per surviving doc; each increment reads ONE
  * snapshot and the batch, collapses both into full-hash classes in
  * one aggregate, runs one capped screen over one representative per
  * class — one hot-set aggregate and one candidate join for the self
  * and bipartite pairs together (never quadratic in a hot hash; none
  * at maxHamming = 0) — and writes one snapshot. The cap counts
  * distinct hashes, not docs, so exact copies always merge; at
  * maxHamming = 0 it is unused and the overflow snapshot is empty.
  * [[prune]] bounds snapshot (and marker) count; old versions are what
  * make time-travel reads and crash recovery trivial.
  */
object CurationRunner {

  final case class Pointer(version: Long, batchId: Long)

  /** Threads for [[applyIncrement]]'s two concurrent snapshot writes:
    * daemon, created on demand, idle ones retired after a minute. */
  private lazy val snapshotWriters: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "graft-curation-snapshot-write")
      t.setDaemon(true)
      t
    }

  /** The Spark Hadoop conf the pointer I/O must share with the
    * parquet writes. An in-hand session is preferred; the thread-local
    * active session and the JVM-wide default session are fallbacks —
    * a retention thread that never built a session would otherwise
    * get a bare Configuration with none of the cluster's
    * `spark.hadoop.*` storage settings and resolve a DIFFERENT
    * filesystem than the snapshots (the split-store bug this module
    * exists to prevent). */
  private def hadoopConf(spark: Option[SparkSession]): Configuration =
    spark.orElse(SparkSession.getActiveSession)
      .orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** The store's FileSystem + qualified root, resolved from the Spark
    * Hadoop conf — the SAME resolution `df.write.parquet(dir)` uses,
    * so pointer and snapshots cannot land in different stores. */
  private def fsRoot(dir: String,
      spark: Option[SparkSession] = None): (FileSystem, Path) = {
    val raw = new Path(dir)
    val fs = raw.getFileSystem(hadoopConf(spark))
    (fs, fs.makeQualified(raw))
  }

  private val MarkerRe = "_COMMIT_(\\d+)".r

  /** The current pointer, or None for an empty store: one listing for
    * the maximum committed `_COMMIT_<N>`, whose content carries the
    * last applied batchId. */
  def current(dir: String,
      spark: Option[SparkSession] = None): Option[Pointer] =
    latest(dir, spark).map(_._1)

  /** The current pointer and the snapshot schema its marker carries. */
  private def latest(dir: String, spark: Option[SparkSession])
      : Option[(Pointer, Option[StructType])] = {
    val (fs, root) = fsRoot(dir, spark)
    if (!fs.exists(root)) return None
    val latest = fs.listStatus(root).iterator.flatMap { st =>
      st.getPath.getName match {
        case MarkerRe(n) => Some((n.toLong, st.getPath))
        case _ => None
      }
    }.foldLeft(Option.empty[(Long, Path)]) {
      case (acc, c) if acc.forall(_._1 < c._1) => Some(c)
      case (acc, _) => acc
    }
    latest.map { case (n, p) =>
      val in = fs.open(p)
      val content =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](256)
          var r = in.read(tmp)
          while (r > 0) { buf.write(tmp, 0, r); r = in.read(tmp) }
          new String(buf.toByteArray, StandardCharsets.UTF_8)
        } finally in.close()
      val (head, schema) = content.span(_ != '\n')
      val parts = head.trim.split("\\s+")
      require(parts.length == 2 && parts(0).toLong == n,
        s"corrupt commit marker $p: '$content'")
      (Pointer(n, parts(1).toLong), Option(schema.trim).filter(_.nonEmpty)
        .map(DataType.fromJson(_).asInstanceOf[StructType]))
    }
  }

  /** The snapshot `marker` names, read with the schema it carries: no
    * footer-inference job. A marker in the older `"<N> <batchId>"`
    * format carries none — stores already on disk were committed that
    * way — and its snapshot is read with inference. */
  private def snapshot(spark: SparkSession, dir: String,
      marker: (Pointer, Option[StructType])): DataFrame =
    marker._2.fold(spark.read)(spark.read.schema(_))
      .parquet(s"$dir/v${marker._1.version}")

  /** The current survivor table. On an EMPTY store this read helper
    * returns an all-LongType empty frame (it has no batch to borrow
    * types from — [[applyIncrement]]'s bootstrap does); callers that
    * need exact types on an empty store should supply their own empty
    * frame. */
  def survivors(spark: SparkSession, dir: String, idCol: String,
      hashCol: String, qualityCol: String): DataFrame =
    latest(dir, Some(spark)) match {
      case Some(marker) => snapshot(spark, dir, marker)
      case None => emptySurvivors(spark, idCol, hashCol, qualityCol)
    }

  private def emptySurvivors(spark: SparkSession, idCol: String,
      hashCol: String, qualityCol: String): DataFrame = {
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField(idCol, LongType), StructField(hashCol, LongType),
        StructField(qualityCol, LongType), StructField("n_copies", LongType))))
  }

  /** Apply one increment; returns true when applied, false when the
    * batchId was already applied (idempotent replay skip). */
  def applyIncrement(dir: String, batch: DataFrame, batchId: Long,
      idCol: String, hashCol: String, qualityCol: String,
      maxHamming: Int = 3,
      maxBucket: Option[Int] = Some(1 << 12)): Boolean = {
    val spark = batch.sparkSession
    val cur = latest(dir, Some(spark))
    if (cur.exists(_._1.batchId >= batchId)) return false
    val surv = cur match {
      case Some(marker) => snapshot(spark, dir, marker)
      // bootstrap: empty survivors with the BATCH's exact column types
      // (a LongType assumption would break an int quality column)
      case None => batch.select(col(idCol), col(hashCol), col(qualityCol))
        .limit(0).withColumn("n_copies", lit(0L))
    }
    val next = cur.map(_._1.version + 1).getOrElse(0L)
    val (out, overflow) = Dedup.curateIncrementCapped(surv, batch,
      idCol, hashCol, qualityCol, maxHamming = maxHamming,
      maxBucket = maxBucket)
    // The two snapshots are independent writes with no ordering
    // requirement between them (only the COMMIT MARKER below makes the
    // version visible) — overlap them so the tiny overflow write rides
    // the survivor write's tail instead of queueing behind it (opt
    // guide §2.6). Each runs with the caller's active session and
    // Spark local properties (job group and description, scheduler
    // pool, tracing spans), captured per call: a pool thread keeps the
    // properties of whoever created it, so a write on it would carry a
    // stale job group that `cancelJobGroup` on the caller's misses.
    // Either failure propagates before the marker rename, leaving the
    // store on the previous committed version.
    locally {
      import org.apache.spark.sql.execution.SQLExecution
      def write(df: DataFrame, path: String) =
        SQLExecution.withThreadLocalCaptured(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          snapshotWriters) { df.write.mode("overwrite").parquet(path) }
      def await(f: java.util.concurrent.Future[Unit]): scala.util.Try[Unit] =
        scala.util.Try(try f.get() catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        })
      val fOut = write(out, s"$dir/v$next")
      val fOvf = write(overflow, s"$dir/overflow_v$next")
      // Await BOTH before propagating either failure: returning (or
      // throwing) with a write still in flight would let a retry's
      // fresh overwrite of the same directory race the orphaned job's
      // _temporary cleanup and corrupt the snapshot the marker then
      // publishes.
      val rOut = await(fOut)
      val rOvf = await(fOvf)
      rOut.get
      rOvf.get
    }
    // stage-then-rename onto a NEVER-pre-existing final name: a crash
    // anywhere before the rename leaves the previous marker the
    // maximum (and the previous snapshot fully intact); the replayed
    // batch simply re-applies onto the old version
    val (fs, root) = fsRoot(dir, Some(spark))
    val tmp = new Path(root, s"_COMMIT_$next.tmp")
    val dst = new Path(root, s"_COMMIT_$next")
    val os = fs.create(tmp, true)
    try os.write(s"$next $batchId\n${out.schema.json}"
      .getBytes(StandardCharsets.UTF_8))
    finally os.close()
    // the final name NEVER pre-exists under the single-writer
    // protocol: a crash before the rename leaves only the .tmp, and a
    // crash after it is absorbed by the batchId replay-skip above
    // (which never reaches this line). A pre-existing marker therefore
    // proves a SECOND writer shares the store — deleting its committed
    // marker would silently discard that writer's applied increment,
    // so fail loudly instead.
    require(!fs.exists(dst),
      s"commit marker $dst already exists: a concurrent writer " +
        "committed this version — the store's single-writer contract " +
        "is violated")
    require(fs.rename(tmp, dst), s"marker rename failed: $tmp -> $dst")
    true
  }

  /** Retention: delete snapshot (and overflow, and commit-marker)
    * trios older than the `keep` most recent versions. The CURRENT
    * version is never deleted regardless of `keep`; a concurrent
    * reader that already resolved the newest marker keeps a valid
    * snapshot. Returns the pruned version numbers. */
  def prune(dir: String, keep: Int = 2,
      spark: Option[SparkSession] = None): Seq[Long] = {
    require(keep >= 1, s"keep must be >= 1: $keep")
    current(dir, spark) match {
      case None => Seq.empty
      case Some(ptr) =>
        val (fs, root) = fsRoot(dir, spark)
        val cutoff = ptr.version - keep + 1
        val snapRe = "v(\\d+)".r
        val pruned = fs.listStatus(root).iterator.flatMap(st =>
          st.getPath.getName match {
            case snapRe(n) if n.toLong < cutoff => Some(n.toLong)
            case _ => None
          }).toSeq.sorted
        pruned.foreach { v =>
          // snapshot LAST: its marker and overflow going first means a
          // crash mid-prune can't leave a committed marker pointing at
          // a half-deleted snapshot as anything but prunable leftovers
          fs.delete(new Path(root, s"_COMMIT_$v"), false)
          fs.delete(new Path(root, s"overflow_v$v"), true)
          fs.delete(new Path(root, s"v$v"), true)
        }
        pruned
    }
  }

  /** `foreachBatch` sink maintaining the store:
    * {{{
    * stream.writeStream.foreachBatch(
    *   CurationRunner.sink(dir, "doc_id", "ph", "quality")).start()
    * }}} */
  def sink(dir: String, idCol: String, hashCol: String, qualityCol: String,
      maxHamming: Int = 3, maxBucket: Option[Int] = Some(1 << 12)):
      (DataFrame, Long) => Unit = (batch, batchId) => {
    applyIncrement(dir, batch, batchId, idCol, hashCol, qualityCol,
      maxHamming, maxBucket)
    ()
  }
}
