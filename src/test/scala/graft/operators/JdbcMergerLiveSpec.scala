package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.testkit.MockJdbc

/** End-to-end merge through the REAL executor path: mergeIntoJdbc →
  * foreachPartition → DriverManager → prepared statements, against the
  * in-memory driver double. Parity surface: the reference's live-DB
  * batch-consumer suite (`spec/active_record_batch_consumer_spec.rb:
  * 82-876`) and deadlock-retry spec. */
class JdbcMergerLiveSpec extends SparkSpec {
  import spark.implicits._

  MockJdbc.install()

  private def batch = Seq(
    (1L, 1, "a", 10L, false), (1L, 2, "b", 11L, false),
    (2L, 1, "c", 12L, false), (2L, 2, "d", 13L, false),
    (3L, 1, "e", 14L, false),
    (9L, 1, "x", 0L, true), (9L, 2, "y", 0L, true), (8L, 1, "z", 0L, true))
    .toDF("k1", "k2", "v", "version", "deleted")
    .coalesce(1)

  test("compound-key upsert/delete sub-batches through the real foreachPartition path") {
    val d = MockJdbc.reset("merge1")
    JdbcMerger.mergeIntoJdbc(batch, "jdbc:graftmock:merge1", "tgt",
      Seq("k1", "k2"), col("deleted"), JdbcMerger.Postgres,
      new java.util.Properties, maxBatchSize = 2,
      versionCol = Some("version"), retrySleeper = _ => ())
    val execs = d.execList
    val ups = execs.filter(_.sql.startsWith("INSERT"))
    val dels = execs.filter(_.sql.startsWith("DELETE"))
    // 5 upsert rows, cap 2 → sub-batches of 2,2,1 (5 cols each row)
    assert(ups.map(_.params.size).sorted === List(5, 10, 10))
    // 3 delete rows, cap 2 → 2,1; with versionCol each row binds
    // (k1, k2, version) — the tombstone guard (round-14: an
    // unguarded delete let a stale replayed tombstone kill a newer
    // live row while the stale upserts were correctly rejected)
    assert(dels.map(_.params.size).sorted === List(3, 6))
    // statement shape: compound-key conflict target + guarded
    // OR-of-ANDs delete
    assert(ups.head.sql.contains("""ON CONFLICT ("k1", "k2") DO UPDATE SET"""))
    assert(dels.head.sql.contains(
      """("k1" = ? AND "k2" = ? AND "version" < ?)"""))
    // version guard rides the real statement
    assert(ups.forall(_.sql.endsWith(
      """WHERE EXCLUDED."version" > "tgt"."version"""")))
    // parameter binding order: first sub-batch = rows 1 and 2, col order
    val first = ups.find(_.params.size == 10).get.params
    assert(first.take(5) === Seq(1L, 1, "a", 10L, false))
    // one connection per partition: upserts and deletes share it (one
    // action over one partition)
    assert(d.connectionsOpened.get() === 1)
  }

  test("sqlite dialect drives the same live path: ON CONFLICT + guard + row-value delete") {
    val d = MockJdbc.reset("merge3")
    JdbcMerger.mergeIntoJdbc(batch, "jdbc:graftmock:merge3", "tgt",
      Seq("k1", "k2"), col("deleted"), JdbcMerger.Sqlite,
      new java.util.Properties, maxBatchSize = 2,
      versionCol = Some("version"), retrySleeper = _ => ())
    val execs = d.execList
    val ups = execs.filter(_.sql.startsWith("INSERT"))
    val dels = execs.filter(_.sql.startsWith("DELETE"))
    assert(ups.map(_.params.size).sorted === List(5, 10, 10))
    assert(dels.map(_.params.size).sorted === List(3, 6))
    assert(ups.head.sql.contains("""ON CONFLICT ("k1", "k2") DO UPDATE SET"""))
    assert(ups.forall(_.sql.endsWith(
      """WHERE EXCLUDED."version" > "tgt"."version"""")))
    assert(dels.head.sql.contains(
      """("k1" = ? AND "k2" = ? AND "version" < ?)"""))
  }

  test("injected deadlocks are retried on the executor and the merge completes") {
    val d = MockJdbc.reset("merge2")
    d.deadlocksRemaining.set(2)
    JdbcMerger.mergeIntoJdbc(batch, "jdbc:graftmock:merge2", "tgt",
      Seq("k1", "k2"), col("deleted"), JdbcMerger.MySql,
      new java.util.Properties, maxBatchSize = 100,
      retrySleeper = _ => ())
    // all statements eventually executed: 1 upsert + 1 delete batch
    assert(d.execList.size === 2)
    // the two deadlocked attempts (each the group's first statement,
    // replayed whole) are visible on top of the successes
    assert(d.attempts.get() === 4)
    assert(d.execList.head.sql.contains("ON DUPLICATE KEY UPDATE"))
  }

  test("NULL column values bind through the driver double like a real driver") {
    val d = MockJdbc.reset("nulls1")
    val withNulls = Seq((1L, Option("a")), (2L, Option.empty[String]))
      .toDF("k", "v").withColumn("deleted", lit(false)).coalesce(1)
    JdbcMerger.mergeIntoJdbc(withNulls, "jdbc:graftmock:nulls1", "tgt",
      Seq("k"), col("deleted"), JdbcMerger.Postgres,
      new java.util.Properties, retrySleeper = _ => ())
    val params = d.execList.head.params
    assert(params === Seq(1L, "a", false, 2L, null, false))
  }

  test("streaming ordered merge: hot-key versions reach the DB in order; tombstone deletes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{Evt, Streams}
    implicit val sqlCtx = spark.sqlContext
    val d = MockJdbc.reset("ordered1")
    val input = MemoryStream[Evt]
    val writer = Streams.mergeSinkOrdered(input.toDF(), Seq("key"),
      col("id")) { (rows, _) =>
      JdbcMerger.applyOrderedRows(rows, "jdbc:graftmock:ordered1", "tgt",
        cols = Seq("id", "key", "v", "deleted"), keyCols = Seq("key"),
        isTombstone = r => r.getAs[Boolean]("deleted"),
        JdbcMerger.MySql, new java.util.Properties,
        retrySleeper = _ => ())
    }
    val q = writer.option("checkpointLocation",
      java.nio.file.Files.createTempDirectory("graft-ck").toString).start()
    try {
      // hot key A arrives out of order with a final tombstone
      input.addData(Evt(2, "A", "a2", false), Evt(1, "A", "a1", false),
        Evt(3, "A", "gone", true), Evt(4, "B", "b1", false))
      q.processAllAvailable()
      val execs = d.execList
      def at(pred: MockJdbc.Exec => Boolean): Int = execs.indexWhere(pred)
      val a1 = at(e => e.params.contains("a1"))
      val a2 = at(e => e.params.contains("a2"))
      val delA = at(e => e.sql.startsWith("DELETE") && e.params == Seq("A"))
      assert(a1 >= 0 && a2 >= 0 && delA >= 0)
      // same-key versions apply in orderCol order despite arrival order
      assert(a1 < a2 && a2 < delA)
      assert(execs.exists(e => e.params.contains("b1")))
      // single-row statements throughout (M3 path)
      assert(execs.forall(e =>
        e.sql.startsWith("DELETE") || e.sql.contains("VALUES (?, ?, ?, ?)")))
    } finally q.stop()
  }

  test("ordered apply replays the whole transaction group after a deadlock") {
    import org.apache.spark.sql.types._
    val d = MockJdbc.reset("ordered2")
    d.deadlockAfter.set(2) // rows 1 and 2 run, then row 3 deadlocks once
    d.deadlocksRemaining.set(1)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType), StructField("deleted", BooleanType)))
    val rows = Seq(1L -> "a", 2L -> "b", 3L -> "c").map { case (k, v) =>
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](k, v, false), schema): org.apache.spark.sql.Row
    }
    JdbcMerger.applyOrderedRows(rows.iterator, "jdbc:graftmock:ordered2",
      "tgt", cols = Seq("k", "v", "deleted"), keyCols = Seq("k"),
      isTombstone = r => r.getAs[Boolean]("deleted"), JdbcMerger.Postgres,
      new java.util.Properties, retrySleeper = _ => ())
    // the double keeps no transactions, so the rolled-back attempt's
    // two statements stay recorded; the replay starts at the group's
    // first row, not at the statement that deadlocked
    assert(d.execList.map(_.params.head) === Seq(1L, 2L, 1L, 2L, 3L))
    assert(d.attempts.get() === 6)
  }

  test("deadlocks beyond the retry budget propagate as task failures") {
    val d = MockJdbc.reset("merge3")
    d.deadlocksRemaining.set(10) // > 1 statement × (1 + 2 retries)
    val e = intercept[Exception] {
      JdbcMerger.mergeIntoJdbc(batch.filter(!col("deleted")),
        "jdbc:graftmock:merge3", "tgt", Seq("k1", "k2"),
        col("deleted"), JdbcMerger.Postgres,
        new java.util.Properties, maxBatchSize = 100,
        retrySleeper = _ => ())
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.toLowerCase.contains("deadlock")))
    assert(d.execList.isEmpty)
    assert(d.attempts.get() === 3) // initial + 2 retries, then fail
  }
}
