package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The reference proves its consumer stack against REAL databases
  * (`spec/spec_helper.rb:102-142` runs SQLite + Postgres + MySQL×2;
  * `docs/INTEGRATION_TESTS.md`). The sandbox has exactly one real SQL
  * engine — the embedded Apache Derby already on Spark's classpath —
  * so the Ansi dialect executes the whole merge surface against it:
  * real DDL, real MERGE, real primary-key semantics, through the same
  * `foreachPartition` executor path production uses. The MySQL /
  * Postgres / SQLite statement TEXT stays pinned by
  * `JdbcMergerLiveSpec`'s driver double (those engines don't exist in
  * this sandbox — recorded as an environment limit in COVERAGE.md).
  */
class JdbcMergerDerbySpec extends SparkSpec {
  import spark.implicits._

  // Derby writes derby.log into user.dir unless homed elsewhere; must
  // be set before the engine boots (first getConnection)
  System.setProperty("derby.system.home",
    java.nio.file.Files.createTempDirectory("graft-derby").toString)

  private def freshDb(name: String): String = {
    val url = s"jdbc:derby:memory:$name"
    try java.sql.DriverManager.getConnection(s"$url;drop=true")
    catch { case _: java.sql.SQLException => () } // 08006 = dropped ok / absent
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

  test("mergeIntoJdbc runs end-to-end against a real database: insert, update, compound-key delete") {
    val url = freshDb("live1")
    withConn(url)(_.createStatement().execute(ddl))
    // pre-seed rows the batch tombstones, plus one the batch updates
    withConn(url) { c =>
      val st = c.createStatement()
      st.execute("""INSERT INTO "tgt" VALUES (9, 1, 'seed', 1, false),
        (9, 2, 'seed', 1, false), (8, 1, 'seed', 1, false),
        (1, 1, 'stale', 1, false)""")
    }
    val batch = Seq(
      (1L, 1, "a", 10L, false), (1L, 2, "b", 11L, false),
      (2L, 1, "c", 12L, false),
      (9L, 1, "x", 0L, true), (9L, 2, "y", 0L, true), (8L, 1, "z", 0L, true))
      .toDF("k1", "k2", "v", "version", "deleted")
      .repartition(2) // exercise >1 executor partition on the real DB
    JdbcMerger.mergeIntoJdbc(batch, url, "tgt",
      Seq("k1", "k2"), col("deleted"), JdbcMerger.Ansi,
      new java.util.Properties, retrySleeper = _ => ())
    val rows = readAll(url,
      """SELECT "k1", "k2", "v", "version" FROM "tgt" ORDER BY "k1", "k2"""")
      .map(r => (r(0), r(1), r(2), r(3)))
    assert(rows === Seq((1L, 1, "a", 10L), (1L, 2, "b", 11L),
      (2L, 1, "c", 12L)))
  }

  test("version guard on a real MERGE: newer wins, stale loses, reapply is idempotent") {
    val url = freshDb("live2")
    withConn(url)(_.createStatement().execute(ddl))
    def merge(rows: Seq[(Long, Int, String, Long, Boolean)]): Unit =
      JdbcMerger.mergeIntoJdbc(
        rows.toDF("k1", "k2", "v", "version", "deleted").coalesce(1),
        url, "tgt", Seq("k1", "k2"), col("deleted"), JdbcMerger.Ansi,
        new java.util.Properties, versionCol = Some("version"),
        retrySleeper = _ => ())
    merge(Seq((1L, 1, "v5", 5L, false)))
    merge(Seq((1L, 1, "v9", 9L, false))) // newer: overwrites
    merge(Seq((1L, 1, "v3", 3L, false))) // stale: real WHEN MATCHED AND rejects
    merge(Seq((1L, 1, "v9", 9L, false))) // replay of current: no-op (at-least-once)
    val rows = readAll(url, """SELECT "v", "version" FROM "tgt"""")
    assert(rows === Seq(Seq("v9", 9L)))
  }

  test("version-guard tie semantics are symmetric: equal version is a no-op for upsert AND delete") {
    // The at-least-once replay contract (round-15 ADVICE adjudication):
    // both guards are strict, so re-applying the already-applied
    // version changes nothing — an equal-version upsert doesn't
    // overwrite, an equal-version tombstone doesn't delete. A pipeline
    // must therefore version tombstones strictly above the row they
    // remove (orderCol is a per-key-unique log offset throughout the
    // engine); a tie reads as replay and the live row stands.
    val url = freshDb("live4")
    withConn(url)(_.createStatement().execute(ddl))
    def merge(rows: Seq[(Long, Int, String, Long, Boolean)]): Unit =
      JdbcMerger.mergeIntoJdbc(
        rows.toDF("k1", "k2", "v", "version", "deleted").coalesce(1),
        url, "tgt", Seq("k1", "k2"), col("deleted"), JdbcMerger.Ansi,
        new java.util.Properties, versionCol = Some("version"),
        retrySleeper = _ => ())
    merge(Seq((1L, 1, "v5", 5L, false)))
    merge(Seq((1L, 1, "v5b", 5L, false))) // tie upsert: no-op
    merge(Seq((1L, 1, null, 5L, true)))   // tie tombstone: no-op, row stands
    assert(readAll(url, """SELECT "v", "version" FROM "tgt"""") ===
      Seq(Seq("v5", 5L)))
    merge(Seq((1L, 1, null, 6L, true)))   // strictly newer tombstone: deletes
    assert(readAll(url, """SELECT "v" FROM "tgt"""").isEmpty)
  }

  test("a NULL-versioned tombstone fails its group loudly and leaves the stored row") {
    // `"version" < NULL` is unknown in SQL: without the check the
    // tombstone deleted nothing and raised nothing
    val url = freshDb("nullver")
    withConn(url)(_.createStatement().execute(ddl))
    def merge(rows: Seq[(Long, Int, String, Option[Long], Boolean)],
        maxBatchSize: Int = 1000): Unit =
      JdbcMerger.mergeIntoJdbc(
        rows.toDF("k1", "k2", "v", "version", "deleted").coalesce(1),
        url, "tgt", Seq("k1", "k2"), col("deleted"), JdbcMerger.Ansi,
        new java.util.Properties, maxBatchSize = maxBatchSize,
        versionCol = Some("version"), retrySleeper = _ => ())
    merge(Seq((1L, 1, "v5", Some(5L), false)))
    val e = intercept[Exception] {
      // group 1 (key 2) commits; group 2 carries the NULL version
      merge(Seq((2L, 1, "w", Some(3L), false), (1L, 1, null, None, true),
        (3L, 1, "x", Some(4L), false)), maxBatchSize = 1)
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => t.isInstanceOf[IllegalArgumentException] &&
      t.getMessage.contains("NULL version for key (1, 1)")), e)
    assert(readAll(url, """SELECT "k1", "v" FROM "tgt" ORDER BY "k1"""") ===
      Seq(Seq(1L, "v5"), Seq(2L, "w")))
    // the ordered (M3) path checks the same way
    val schema = Seq((1L, 1, "", Option(0L), true)).toDF("k1", "k2", "v", "version", "deleted").schema
    val row = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any](1L, 1, null, null, true), schema)
    val e2 = intercept[IllegalArgumentException] {
      JdbcMerger.applyOrderedRows(Iterator(row), url, "tgt",
        Seq("k1", "k2", "v", "version", "deleted"), Seq("k1", "k2"),
        _.getBoolean(4), JdbcMerger.Ansi, new java.util.Properties,
        versionCol = Some("version"), retrySleeper = _ => ())
    }
    assert(e2.getMessage.contains("NULL version for key (1, 1)"))
    assert(readAll(url, """SELECT count(*) FROM "tgt"""").head.head === 2)
  }

  test("version-guarded delete of 1500 keys: row-at-a-time, stale tombstones spare newer rows") {
    // A multi-row guarded Ansi delete is one OR-list statement: Derby
    // rejects it at prepare above ~440 keys (42ZA0), so a batch this
    // size failed whole before deletes ran one key per statement.
    val url = freshDb("bigdel")
    withConn(url)(_.createStatement().execute(ddl))
    // rows 0..1599; every 7th row carries a version NEWER than the
    // tombstone aimed at it
    def stored(k: Long): Long = if (k % 7 == 0) 50L else 5L
    withConn(url) { c =>
      c.setAutoCommit(false)
      val ins = c.prepareStatement("""INSERT INTO "tgt" VALUES (?, 1, 'seed', ?, false)""")
      (0L until 1600L).foreach { k =>
        ins.setLong(1, k); ins.setLong(2, stored(k)); ins.addBatch()
      }
      ins.executeBatch(); c.commit()
    }
    val tombstones = (0L until 1500L)
      .map(k => (k, 1, null.asInstanceOf[String], 10L, true))
      .toDF("k1", "k2", "v", "version", "deleted").coalesce(1)
    JdbcMerger.mergeIntoJdbc(tombstones, url, "tgt", Seq("k1", "k2"),
      col("deleted"), JdbcMerger.Ansi, new java.util.Properties,
      versionCol = Some("version"), retrySleeper = _ => ())
    val left = readAll(url, """SELECT "k1" FROM "tgt" ORDER BY "k1"""")
      .map(_.head.asInstanceOf[Long])
    val expected = (0L until 1600L).filter(k => k >= 1500L || stored(k) >= 10L)
    assert(left === expected)
  }

  test("mixed upserts and tombstones over 4 partitions end at the last-wins reference") {
    val url = freshDb("mixed4")
    withConn(url)(_.createStatement().execute(ddl))
    withConn(url) { c =>
      c.setAutoCommit(false)
      val ins = c.prepareStatement("""INSERT INTO "tgt" VALUES (?, ?, 'seed', 0, false)""")
      for (k1 <- 0L until 100L; k2 <- 0 until 2) {
        ins.setLong(1, k1); ins.setInt(2, k2); ins.addBatch()
      }
      ins.executeBatch(); c.commit()
    }
    // versions are unique offsets above the seeded 0, so the last event
    // of each key decides: a tombstone removes it, an upsert sets it
    val rnd = new scala.util.Random(7)
    val events = (1L to 2000L).map { off =>
      val k1 = rnd.nextInt(150).toLong
      val k2 = rnd.nextInt(2)
      val dead = rnd.nextDouble() < 0.2
      (k1, k2, if (dead) null else s"v$off", off, dead)
    }
    val batch = Compaction.lastWins(
      events.toDF("k1", "k2", "v", "version", "deleted"),
      Seq("k1", "k2"), col("version")).repartition(4)
    assert(batch.rdd.getNumPartitions === 4)
    JdbcMerger.mergeIntoJdbc(batch, url, "tgt", Seq("k1", "k2"),
      col("deleted"), JdbcMerger.Ansi, new java.util.Properties,
      maxBatchSize = 50, versionCol = Some("version"),
      retrySleeper = _ => ())
    val reference = scala.collection.mutable.Map[(Long, Int), (String, Long)]()
    for (k1 <- 0L until 100L; k2 <- 0 until 2) reference((k1, k2)) = ("seed", 0L)
    events.foreach { case (k1, k2, v, off, dead) =>
      if (dead) reference.remove((k1, k2)) else reference((k1, k2)) = (v, off)
    }
    val got = readAll(url, """SELECT "k1", "k2", "v", "version" FROM "tgt"""")
      .map(r => ((r(0).asInstanceOf[Long], r(1).asInstanceOf[Int]),
        (r(2).asInstanceOf[String], r(3).asInstanceOf[Long]))).toMap
    assert(got === reference.toMap)
  }

  test("applyOrderedRows drives real single-row statements in order (M3 path)") {
    val url = freshDb("live3")
    withConn(url)(_.createStatement().execute(ddl))
    val rows = Seq(
      org.apache.spark.sql.Row(1L, 1, "a1", 1L, false),
      org.apache.spark.sql.Row(1L, 1, "a2", 2L, false),
      org.apache.spark.sql.Row(2L, 1, "b1", 1L, false),
      org.apache.spark.sql.Row(2L, 1, null, 0L, true)) // tombstone for key 2
    val schema = Seq("k1", "k2", "v", "version", "deleted")
    val typed = rows.map(r => new org.apache.spark.sql.catalyst.expressions
      .GenericRowWithSchema(r.toSeq.toArray,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k1",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("k2",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("version",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("deleted",
            org.apache.spark.sql.types.BooleanType)))))
    JdbcMerger.applyOrderedRows(typed.iterator, url, "tgt",
      cols = schema, keyCols = Seq("k1", "k2"),
      isTombstone = r => r.getAs[Boolean]("deleted"),
      JdbcMerger.Ansi, new java.util.Properties,
      retrySleeper = _ => ())
    val got = readAll(url, """SELECT "k1", "v" FROM "tgt" ORDER BY "k1"""")
    assert(got === Seq(Seq(1L, "a2"))) // key 1 converged to last version; key 2 deleted
  }

  test("Ansi statement shapes: SYSDUMMY1 merge, guard, single-row delete, param order") {
    val up = JdbcMerger.upsertSql("tgt", Seq("k1", "k2", "v", "version"),
      Seq("k1", "k2"), 1, JdbcMerger.Ansi, versionCol = Some("version"))
    assert(up.startsWith(
      """MERGE INTO "tgt" USING SYSIBM.SYSDUMMY1 ON "tgt"."k1" = ? AND "tgt"."k2" = ?"""))
    assert(up.contains("""WHEN MATCHED AND ? > "tgt"."version" THEN UPDATE SET "v" = ?, "version" = ?"""))
    assert(up.endsWith(
      """WHEN NOT MATCHED THEN INSERT ("k1", "k2", "v", "version") VALUES (?, ?, ?, ?)"""))
    assert(JdbcMerger.upsertParamOrder(Seq("k1", "k2", "v", "version"),
      Seq("k1", "k2"), JdbcMerger.Ansi, Some("version")) ===
      Seq("k1", "k2", "version", "v", "version", "k1", "k2", "v", "version"))
    // non-Ansi dialects bind plain cols order — unchanged
    assert(JdbcMerger.upsertParamOrder(Seq("k1", "v"), Seq("k1"),
      JdbcMerger.Postgres, Some("v")) === Seq("k1", "v"))
    val del = JdbcMerger.deleteSql("tgt", Seq("k1", "k2"), 1, JdbcMerger.Ansi)
    assert(del === """DELETE FROM "tgt" WHERE "k1" = ? AND "k2" = ?""")
    // multi-row merge and delete must fail loudly, not emit SQL Derby
    // scans the table for (or rejects, 42ZA0)
    intercept[IllegalArgumentException] {
      JdbcMerger.upsertSql("t", Seq("k", "v"), Seq("k"), 2, JdbcMerger.Ansi)
    }
    intercept[IllegalArgumentException] {
      JdbcMerger.deleteSql("tgt", Seq("k1", "k2"), 2, JdbcMerger.Ansi)
    }
  }

  test("keyless Ansi insert is the plain multi-row INSERT on a real table") {
    val url = freshDb("live4")
    withConn(url)(_.createStatement().execute(
      """CREATE TABLE "logs" ("msg" VARCHAR(64), "deleted" BOOLEAN)"""))
    val batch = Seq(("m1", false), ("m2", false))
      .toDF("msg", "deleted").coalesce(1)
    JdbcMerger.mergeIntoJdbc(batch, url, "logs", Seq.empty,
      col("deleted"), JdbcMerger.Ansi, new java.util.Properties,
      retrySleeper = _ => ())
    assert(readAll(url, """SELECT count(*) FROM "logs"""").head.head === 2)
  }
}
