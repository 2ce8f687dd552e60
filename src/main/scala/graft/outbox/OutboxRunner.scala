package graft.outbox

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{MessageCols, TopicSelector}
import graft.observe.Metrics
import graft.operators.Outbox

/** Outbox drain loop (S8): stage → drain per topic in id order →
  * produce → delete drained — the engine's `OutboxProducer`
  * (reference: `utils/outbox_producer.rb:33-134`).
  *
  * The staging store is a parquet directory (stands in for the
  * `kafka_messages` table); per-topic ordering comes from the drain's
  * repartition+sortWithinPartitions, so no lease table is needed —
  * the drain job is the single writer per topic by construction.
  * Per-topic error cooldown (60 s in the reference) is tracked
  * driver-side.
  */
class OutboxRunner(
    spark: SparkSession,
    stagingDir: String,
    metrics: Metrics = Metrics.noop,
    batchSize: Int = 1000,
    errorCooldownMillis: Long = 60000L,
    clock: () => Long = () => System.currentTimeMillis()) {

  private val cooldownUntil = scala.collection.mutable.Map[String, Long]()

  // Staging is an APPEND-DELTA log under one atomic pointer: immutable
  // delta dirs (`d=K`, one per stage; one compacted remainder per
  // sweep) and a `_LATEST` manifest listing the live deltas, replaced
  // by atomic move. Staging N batches therefore writes O(N) delta
  // files — not N rewrites of the whole pending set (the round-2
  // copy-on-write union cost O(N²) total bytes). Crash-safety is
  // unchanged: a crash before the pointer move leaves the previous
  // manifest (and every dir it names) intact, so drained-but-undeleted
  // messages reproduce — the reference's delete-after-produce
  // at-least-once contract. Dead/orphaned dirs are GC'd after each
  // successful pointer move, never before.
  private val pointer = java.nio.file.Paths.get(stagingDir, "_LATEST")
  private val DeltaName = "d=(\\d+)".r

  /** Live delta dir names, manifest order. A legacy single all-digit
    * line is a round-2 snapshot pointer (`v=N`). */
  private def manifest: Seq[String] =
    if (!java.nio.file.Files.exists(pointer)) Seq.empty
    else java.nio.file.Files.readString(pointer).split('\n')
      .iterator.map(_.trim).filter(_.nonEmpty)
      .map(l => if (l.forall(_.isDigit)) s"v=$l" else l)
      .toSeq

  /** Next delta id: one past the max over ALL `d=K` dirs on disk (live,
    * dead, or orphaned) so ids are never reused. */
  private def nextDeltaId: Long = {
    val dir = java.nio.file.Paths.get(stagingDir)
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val s = java.nio.file.Files.list(dir)
      var max = -1L
      try s.forEach { p =>
        p.getFileName.toString match {
          case DeltaName(k) => max = math.max(max, k.toLong)
          case _ => ()
        }
      } finally s.close()
      max + 1
    }
  }

  /** Point `_LATEST` at `dirs` (tmp write + atomic move), then GC every
    * data dir the new manifest does not reference. GC strictly AFTER
    * the move: a crash at any point leaves a valid manifest whose dirs
    * all exist. */
  private def commitManifest(dirs: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stagingDir))
    val tmp = java.nio.file.Paths.get(stagingDir, "_LATEST.tmp")
    java.nio.file.Files.writeString(tmp, dirs.mkString("\n"))
    java.nio.file.Files.move(tmp, pointer,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val live = dirs.toSet
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(stagingDir))
    try s.iterator().forEachRemaining { p =>
      val name = p.getFileName.toString
      val isData = name.startsWith("d=") || name.startsWith("v=")
      if (isData && !live.contains(name))
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(q => java.nio.file.Files.delete(q))
    } finally s.close()
  }

  def staged: DataFrame = manifest match {
    case Seq() => spark.emptyDataFrame
    case dirs => spark.read.parquet(dirs.map(d => s"$stagingDir/$d"): _*)
  }

  /** Stage encoded messages (S3 — the outbox *backend*): one new delta
    * dir + a pointer swap, O(batch) regardless of how much is already
    * pending. */
  def stage(messages: DataFrame): Unit = {
    if (metrics ne Metrics.noop)
      metrics.count(Metrics.OutboxProduce, messages.count())
    val delta = s"d=$nextDeltaId"
    messages.write.mode("overwrite").parquet(s"$stagingDir/$delta")
    commitManifest(manifest :+ delta)
  }

  /** One sweep over all topics: drain ≤batchSize per topic in id
    * order, last-wins-compacting the topics `compactTopics` selects
    * (the config file's `outbox.compact_topics`, `all` included),
    * produce, remove drained rows. Topics in error cooldown are
    * skipped this sweep. Returns drained count. */
  def sweep(compactTopics: TopicSelector = TopicSelector.Names(Set.empty))(
      produce: DataFrame => Unit): Long = {
    val now = clock()
    if (manifest.isEmpty) return 0L
    val all = staged
    val eligibleTopics = all.select(col(MessageCols.Topic)).distinct()
      .collect().map(_.getString(0))
      .filter(t => cooldownUntil.getOrElse(t, 0L) <= now)
    if (eligibleTopics.isEmpty) return 0L
    val (compactAll, compactNames) = compactTopics.allOrNames
    val drained = Outbox.drainBatch(
      all.filter(col(MessageCols.Topic).isin(eligibleTopics.toSeq: _*)),
      MessageCols.Topic, "id", MessageCols.Key, compactTopics = compactNames,
      compactAll = compactAll, batchSize = batchSize)
      .cache()
    try {
      // per-topic row counts in ONE job (a count() per topic would be
      // O(topics) Spark jobs per sweep — the scale hazard at
      // thousands of topics)
      val counts = drained.groupBy(col(MessageCols.Topic))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
      val nonEmpty = eligibleTopics.filter(counts.getOrElse(_, 0L) > 0)
      var total = 0L
      val okTopics = scala.collection.mutable.ArrayBuffer[String]()
      var firstError: Option[Exception] = None
      // OPTIMISTIC produce: all topics in one call (the sink handles a
      // mixed-topic frame natively) — the happy path is O(1) jobs per
      // sweep regardless of topic count. Only on failure fall back to
      // per-topic produces so the bad topic cools ITSELF down
      // (reference: crashed topic locked out 60 s; healthy topics keep
      // draining). A mid-batch failure may re-produce some messages in
      // the fallback — within the at-least-once contract, same as the
      // reference's delete-after-produce.
      if (nonEmpty.nonEmpty) {
        try {
          produce(drained)
          okTopics ++= nonEmpty
          total = nonEmpty.map(counts).sum
        } catch {
          case _: Exception =>
            nonEmpty.foreach { t =>
              try {
                produce(drained.filter(col(MessageCols.Topic) === t))
                okTopics += t
                total += counts(t)
              } catch {
                case e: Exception =>
                  cooldownUntil(t) = now + errorCooldownMillis
                  if (firstError.isEmpty) firstError = Some(e)
              }
            }
        }
      }
      if (okTopics.nonEmpty) {
        // sweep doubles as COMPACTION: the un-drained remainder (small
        // by construction — pending outbox drains every sweep) becomes
        // one fresh delta and the manifest drops every older dir, so
        // reads never accumulate unboundedly many deltas
        val remainder = Outbox.deleteDrained(all,
          drained.filter(col(MessageCols.Topic).isin(okTopics.toSeq: _*)),
          "id")
        val delta = s"d=$nextDeltaId"
        remainder.write.mode("overwrite").parquet(s"$stagingDir/$delta")
        commitManifest(Seq(delta))
      }
      // the pending aggregation is one extra Spark job per sweep —
      // only pay it when a real sink will see the numbers
      if (metrics ne Metrics.noop) metricsReport()
      firstError.foreach(throw _)
      total
    } finally drained.unpersist()
  }

  /** Pending metrics (A6) — pending_db_messages_count / max_wait. */
  def metricsReport(): Unit = {
    if (manifest.isEmpty) return
    val rows = Outbox.pendingMetrics(staged, MessageCols.Topic, "created_at")
      .collect()
    rows.foreach { r =>
      metrics.count(Metrics.PendingCount, r.getAs[Long]("pending_count"),
        Map("topic" -> r.getAs[String](MessageCols.Topic)))
    }
  }
}
