package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.testkit.ChaosJdbc

/** Exactly-once replay under crash injection (round-16 verdict item
  * 3): the engine's delivery contract is at-least-once consumption +
  * key-idempotent version-guarded merges (T1, reference
  * `batch_consumption.rb:143-164`), which [[JdbcMergerDerbySpec]]
  * proves for CLEAN replays. Here the merge is KILLED mid-batch by a
  * [[ChaosJdbc]] driver double that lets N statements through and
  * fails the rest. The merge commits one transaction per
  * `maxBatchSize` group, so the crash leaves every group committed
  * before it and none of the crashed group's rows. Then the SAME batch
  * is re-run and the final table state must equal a clean single
  * application, including the strict version-guard tie semantics
  * pinned in round 15 (equal-version upsert and tombstone are both
  * no-ops on replay). Ordered cases: mid-upsert, mid-delete,
  * mid-group with earlier groups committed, mid-association save in
  * the assoc-first fan-out.
  */
class ChaosReplaySpec extends SparkSpec {
  import spark.implicits._

  System.setProperty("derby.system.home",
    java.nio.file.Files.createTempDirectory("graft-derby-chaos").toString)

  private def freshDb(name: String): String = {
    val url = s"jdbc:derby:memory:$name"
    try java.sql.DriverManager.getConnection(s"$url;drop=true")
    catch { case _: java.sql.SQLException => () }
    s"$url;create=true"
  }

  private def withConn[T](url: String)(body: java.sql.Connection => T): T = {
    val c = java.sql.DriverManager.getConnection(url)
    try body(c) finally c.close()
  }

  private def readAll(url: String, sql: String): Seq[Seq[Any]] =
    withConn(url) { c =>
      val rs = c.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
      while (rs.next()) out += (1 to n).map(rs.getObject(_))
      out.toSeq
    }

  private val ddl = """CREATE TABLE "tgt" (
      "k1" BIGINT NOT NULL, "k2" INT NOT NULL, "v" VARCHAR(64),
      "version" BIGINT, "deleted" BOOLEAN,
      PRIMARY KEY ("k1", "k2"))"""

  private def merge(url: String,
      rows: Seq[(Long, Int, String, Long, Boolean)],
      maxBatch: Int = 1000): Unit =
    JdbcMerger.mergeIntoJdbc(
      rows.toDF("k1", "k2", "v", "version", "deleted").coalesce(1),
      url, "tgt", Seq("k1", "k2"), col("deleted"), JdbcMerger.Ansi,
      new java.util.Properties, maxBatchSize = maxBatch,
      versionCol = Some("version"), retrySleeper = _ => ())

  test("crash mid-upsert: replay converges to the clean final state") {
    val real = freshDb("chaos1")
    withConn(real)(_.createStatement().execute(ddl))
    // pre-seed: one row the batch updates, one it must NOT touch
    withConn(real)(_.createStatement().execute(
      """INSERT INTO "tgt" VALUES (1, 1, 'old', 1, false),
        (99, 9, 'keep', 7, false)"""))
    val batch = Seq(
      (1L, 1, "new", 10L, false), (2L, 1, "b", 11L, false),
      (3L, 1, "c", 12L, false), (4L, 1, "d", 13L, false),
      (5L, 1, "e", 14L, false))
    // kill after 2 of the 5 single-row MERGEs
    val chaos = ChaosJdbc.arm("c1", real, failAfter = 2)
    val e = intercept[Exception] { merge(chaos, batch) }
    assert(e.toString.toLowerCase.contains("chaos") ||
      Option(e.getCause).exists(_.toString.toLowerCase.contains("chaos")) ||
      e.toString.contains("SparkException"), e.toString)
    // 2 statements executed, but all 5 rows are one group: it rolled
    // back, and the table still holds only the pre-seed
    assert(ChaosJdbc.applied("c1") === 2)
    assert(readAll(real,
      """SELECT "k1", "v" FROM "tgt" ORDER BY "k1"""") ===
      Seq(Seq(1L, "old"), Seq(99L, "keep")))
    // replay the SAME batch on the now-disarmed url
    ChaosJdbc.disarm("c1")
    merge(chaos, batch)
    // and once more: strict idempotence under repeated replay
    merge(chaos, batch)
    val rows = readAll(real,
      """SELECT "k1", "k2", "v", "version" FROM "tgt" ORDER BY "k1"""")
      .map(r => (r(0), r(1), r(2), r(3)))
    assert(rows === Seq((1L, 1, "new", 10L), (2L, 1, "b", 11L),
      (3L, 1, "c", 12L), (4L, 1, "d", 13L), (5L, 1, "e", 14L),
      (99L, 9, "keep", 7L)))
  }

  test("crash mid-delete: replayed tombstones finish the job, guards hold") {
    val real = freshDb("chaos2")
    withConn(real)(_.createStatement().execute(ddl))
    withConn(real)(_.createStatement().execute(
      """INSERT INTO "tgt" VALUES (1, 1, 'a', 5, false),
        (2, 1, 'b', 5, false), (3, 1, 'c', 5, false),
        (4, 1, 'd', 5, false), (5, 1, 'live', 9, false)"""))
    val batch = Seq(
      // upsert that must survive the whole exercise
      (6L, 1, "f", 10L, false),
      // tombstones versioned strictly above their rows (the pinned
      // tie rule: an equal version would be a no-op)
      (1L, 1, null.asInstanceOf[String], 6L, true),
      (2L, 1, null.asInstanceOf[String], 6L, true),
      (3L, 1, null.asInstanceOf[String], 6L, true),
      // STALE tombstone: version below the live row — must never
      // delete it, crash or not
      (5L, 1, null.asInstanceOf[String], 8L, true))
    // maxBatch=1 makes every row its own transaction, applied in batch
    // order: budget 3 = upsert + 2 deletes committed, crash on the 3rd
    val chaos = ChaosJdbc.arm("c2", real, failAfter = 3)
    intercept[Exception] { merge(chaos, batch, maxBatch = 1) }
    assert(ChaosJdbc.applied("c2") === 3)
    // a partial delete set: 5 seeded + 1 upsert - 2 committed deletes
    val partialCount = readAll(real, """SELECT COUNT(*) FROM "tgt"""")
      .head.head.asInstanceOf[Number].intValue()
    assert(partialCount === 4,
      s"expected two committed deletes, got $partialCount rows")
    ChaosJdbc.disarm("c2")
    merge(chaos, batch, maxBatch = 1)
    merge(chaos, batch, maxBatch = 1) // replay once more
    val rows = readAll(real,
      """SELECT "k1", "v", "version" FROM "tgt" ORDER BY "k1"""")
      .map(r => (r(0), r(1), r(2)))
    // 1..3 deleted; 4 untouched; 5 survives its stale tombstone; 6 new
    assert(rows === Seq((4L, "d", 5L), (5L, "live", 9L), (6L, "f", 10L)))
  }

  test("crash inside a group leaves none of its rows; earlier groups stay; replay converges") {
    val real = freshDb("chaos4")
    withConn(real)(_.createStatement().execute(ddl))
    withConn(real)(_.createStatement().execute(
      """INSERT INTO "tgt" VALUES (7, 1, 'doomed', 1, false),
        (99, 9, 'keep', 7, false)"""))
    // maxBatch=3 over one partition: groups [1, 2, 3] and [4, del 7, 5]
    val batch = Seq(
      (1L, 1, "a", 10L, false), (2L, 1, "b", 11L, false),
      (3L, 1, "c", 12L, false), (4L, 1, "d", 13L, false),
      (7L, 1, null.asInstanceOf[String], 14L, true),
      (5L, 1, "e", 15L, false))
    // budget 5: the first group commits, the second runs its upsert and
    // its delete, then dies on its last row
    val chaos = ChaosJdbc.arm("c4", real, failAfter = 5)
    intercept[Exception] { merge(chaos, batch, maxBatch = 3) }
    assert(ChaosJdbc.applied("c4") === 5)
    def table() = readAll(real,
      """SELECT "k1", "v" FROM "tgt" ORDER BY "k1"""").map(r => (r(0), r(1)))
    // the second group rolled back whole: row 4 absent, row 7 still there
    assert(table() === Seq((1L, "a"), (2L, "b"), (3L, "c"),
      (7L, "doomed"), (99L, "keep")))
    ChaosJdbc.disarm("c4")
    merge(chaos, batch, maxBatch = 3)
    merge(chaos, batch, maxBatch = 3)
    assert(table() === Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"),
      (5L, "e"), (99L, "keep")))
  }

  test("crash mid-association save (assoc-first): replayed fan-out backfills every fk") {
    val real = freshDb("chaos3")
    withConn(real) { c =>
      val st = c.createStatement()
      st.execute("""CREATE TABLE "assoc" (
        "pk" VARCHAR(32) NOT NULL, "city" VARCHAR(64), "zip" VARCHAR(16),
        PRIMARY KEY ("pk"))""")
      st.execute("""CREATE TABLE "prim" (
        "id" BIGINT NOT NULL, "name" VARCHAR(64), "fk" VARCHAR(32),
        PRIMARY KEY ("id"))""")
    }
    // primaries carrying nested association structs; two share one
    // association record (the dedup-to-one-row contract)
    val primaries = Seq(
      (1L, "ann", ("springfield", "11111")),
      (2L, "bob", ("shelbyville", "22222")),
      (3L, "cal", ("springfield", "11111")),
      (4L, "dee", ("ogdenville", "33333")))
      .map { case (id, n, (city, zip)) => (id, n, city, zip) }
      .toDF("id", "name", "city", "zip")
      .select(col("id"), col("name"),
        struct(col("city"), col("zip")).as("a"))
    val (assocBatch, staged) =
      Materialize.extractAssociationsFirst(primaries, "a")
    // the store's pk for an association row is its surrogate here —
    // pk ASSIGNMENT semantics are pinned by BackfillSpec; this case
    // pins crash+replay of the save sequence
    val assocRows = assocBatch
      .select(col("bulk_import_id").as("pk"), col("city"), col("zip"))
    // step 1: save associations — crash after 1 of the 3 rows; the
    // three are one group, so none of them stays
    val chaos = ChaosJdbc.arm("c3", real, failAfter = 1)
    intercept[Exception] {
      JdbcMerger.mergeIntoJdbc(assocRows.coalesce(1), chaos, "assoc",
        Seq("pk"), lit(false), JdbcMerger.Ansi, new java.util.Properties,
        retrySleeper = _ => ())
    }
    assert(ChaosJdbc.applied("c3") === 1)
    assert(readAll(real, """SELECT COUNT(*) FROM "assoc"""")
      .head.head.asInstanceOf[Number].intValue() === 0)
    // replay the association save to completion
    ChaosJdbc.disarm("c3")
    JdbcMerger.mergeIntoJdbc(assocRows.coalesce(1), chaos, "assoc",
      Seq("pk"), lit(false), JdbcMerger.Ansi, new java.util.Properties,
      retrySleeper = _ => ())
    // step 2: read the SAVED associations back from the store and fill
    // fks onto the staged primaries — the round trip is the point
    val savedAssocs = spark.read.format("jdbc")
      .option("url", real).option("dbtable", "\"assoc\"").load()
      // the store's row still carries its staging surrogate (== pk
      // in this schema); fillForeignKeys joins on it
      .withColumn("bulk_import_id", col("pk"))
    val filled = Materialize.fillForeignKeys(
      staged, savedAssocs, pkCol = "pk", fkCol = "fk", assocCol = "a")
    // step 3: save primaries — crash after 2 of 4 (one group, rolled
    // back), then replay
    val chaos2 = ChaosJdbc.arm("c3b", real, failAfter = 2)
    intercept[Exception] {
      JdbcMerger.mergeIntoJdbc(
        filled.select("id", "name", "fk").coalesce(1), chaos2, "prim",
        Seq("id"), lit(false), JdbcMerger.Ansi, new java.util.Properties,
        retrySleeper = _ => ())
    }
    assert(ChaosJdbc.applied("c3b") === 2)
    ChaosJdbc.disarm("c3b")
    JdbcMerger.mergeIntoJdbc(
      filled.select("id", "name", "fk").coalesce(1), chaos2, "prim",
      Seq("id"), lit(false), JdbcMerger.Ansi, new java.util.Properties,
      retrySleeper = _ => ())
    // final state: every primary row carries the fk of its association
    val got = readAll(real,
      """SELECT p."id", p."name", a."city" FROM "prim" p
         JOIN "assoc" a ON a."pk" = p."fk" ORDER BY p."id"""")
      .map(r => (r(0), r(1), r(2)))
    assert(got === Seq((1L, "ann", "springfield"),
      (2L, "bob", "shelbyville"), (3L, "cal", "springfield"),
      (4L, "dee", "ogdenville")))
    // association rows stayed deduped: 3 records for 4 primaries
    assert(readAll(real, """SELECT COUNT(*) FROM "assoc"""")
      .head.head.asInstanceOf[Number].intValue() === 3)
  }
}
