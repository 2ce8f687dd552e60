package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{coalesce, col, lit}

/** Dialect-aware bulk upsert/delete SQL generation — the engine's version
  * of the reference's MassUpdater (`lib/deimos/active_record_consume/
  * mass_updater.rb:49-70`: MySQL `ON DUPLICATE KEY UPDATE`, Postgres
  * `ON CONFLICT DO UPDATE`, plain INSERT when keyless) and bulk delete
  * (`batch_consumption.rb:92-98,241-247`).
  *
  * In Spark the merge runs inside `foreachBatch` as ONE action per call
  * ([[mergeIntoJdbc]]): each executor-side partition opens one
  * connection and applies its rows in transactions of `maxBatchSize`
  * rows, so merge throughput scales with partitions rather than a
  * single writer, and a crash leaves whole groups, never half of one.
  * The SQL builders are pure functions (unit-testable without a
  * database).
  */
object JdbcMerger {

  sealed trait Dialect
  case object MySql extends Dialect
  case object Postgres extends Dialect
  /** SQLite (3.24+): `ON CONFLICT … DO UPDATE` like Postgres, with the
    * version guard referencing the bare table name. Completes the
    * reference's 3-database test matrix (`spec/spec_helper.rb:102-142`
    * runs SQLite + Postgres + MySQL). */
  case object Sqlite extends Dialect
  /** ANSI/DB2-family engines (Derby, DB2): upsert is the SQL-standard
    * single-row `MERGE INTO … USING SYSIBM.SYSDUMMY1` (no multi-row
    * VALUES source, no `INSERT … ON CONFLICT`), and the merge paths
    * delete one key per statement (see [[deleteSql]]). This is the one
    * dialect the sandbox can execute against a REAL database — the
    * embedded Derby on Spark's own classpath — so it live-validates
    * the shared merge machinery (`JdbcMergerDerbySpec`) that the
    * MySQL/Postgres/SQLite strings share. */
  case object Ansi extends Dialect

  private[graft] def q(ident: String, d: Dialect): String = d match {
    case MySql => s"`$ident`"
    case Postgres | Sqlite | Ansi => "\"" + ident + "\""
  }

  /** Upsert statement for one batch of `rows` width-`cols`. Keyless →
    * plain INSERT (can duplicate on retry — same caveat as the
    * reference's plain-insert path, `mass_updater.rb:54-55`).
    *
    * @param versionCol when set, the upsert is version-guarded: an
    *   existing row is overwritten only by a strictly newer version.
    *   The reference never needs this (single-threaded in-order apply);
    *   a parallel engine does, whenever micro-batches can interleave
    *   (source rebalance, retried batch, backfill).
    */
  def upsertSql(table: String, cols: Seq[String], keyCols: Seq[String],
      nRows: Int, dialect: Dialect,
      versionCol: Option[String] = None): String = {
    val colList = cols.map(q(_, dialect)).mkString(", ")
    val rowPh = cols.map(_ => "?").mkString("(", ", ", ")")
    val values = Seq.fill(nRows)(rowPh).mkString(", ")
    val base = s"INSERT INTO ${q(table, dialect)} ($colList) VALUES $values"
    if (keyCols.isEmpty) base
    else {
      val updatable = cols.filterNot(keyCols.contains)
      dialect match {
        case Ansi =>
          // Derby/DB2 have no upsert clause on INSERT and reject a
          // VALUES-derived MERGE source — the upsert is the standard
          // single-row MERGE against the one-row dummy table, version
          // guard as WHEN MATCHED AND. Parameter layout follows
          // [[upsertParamOrder]], not the per-row cols order.
          require(nRows == 1,
            "Ansi dialect merges row-at-a-time (no multi-row MERGE source)")
          val t = q(table, dialect)
          val on = keyCols.map(k => s"$t.${q(k, dialect)} = ?")
            .mkString(" AND ")
          val guard = versionCol
            .map(v => s" AND ? > $t.${q(v, dialect)}").getOrElse("")
          val set = updatable
            .map(c => s"${q(c, dialect)} = ?").mkString(", ")
          val matched =
            if (updatable.isEmpty) "" // keys-only table: insert-if-absent
            else s" WHEN MATCHED$guard THEN UPDATE SET $set"
          val insPh = cols.map(_ => "?").mkString(", ")
          s"MERGE INTO $t USING SYSIBM.SYSDUMMY1 ON $on$matched" +
            s" WHEN NOT MATCHED THEN INSERT ($colList) VALUES ($insPh)"
        case MySql if updatable.isEmpty =>
          // keys-only table: insert-if-absent via a no-op assignment
          // (an empty UPDATE list is a syntax error)
          val k = q(keyCols.head, dialect)
          s"$base ON DUPLICATE KEY UPDATE $k = $k"
        case MySql =>
          val upd = versionCol match {
            case Some(v) =>
              val qv = q(v, dialect)
              // MySQL applies assignments left-to-right: the version
              // column must come LAST so earlier IF()s compare against
              // the OLD stored version
              val guarded = (updatable.filterNot(_ == v) :+ v).map { c =>
                val qc = q(c, dialect)
                s"$qc = IF(VALUES($qv) > $qv, VALUES($qc), $qc)"
              }
              guarded.mkString(", ")
            case None => updatable
              .map(c => s"${q(c, dialect)} = VALUES(${q(c, dialect)})")
              .mkString(", ")
          }
          s"$base ON DUPLICATE KEY UPDATE $upd"
        case Postgres | Sqlite if updatable.isEmpty =>
          // keys-only table: insert-if-absent (an empty SET list is a
          // syntax error — only the Ansi branch handled this shape)
          val conflict = keyCols.map(q(_, dialect)).mkString(", ")
          s"$base ON CONFLICT ($conflict) DO NOTHING"
        case Postgres | Sqlite =>
          val conflict = keyCols.map(q(_, dialect)).mkString(", ")
          val upd = updatable
            .map(c => s"${q(c, dialect)} = EXCLUDED.${q(c, dialect)}")
            .mkString(", ")
          // both dialects allow qualifying the stored row by table
          // name in the guard; EXCLUDED carries the proposed row
          val guard = versionCol.map(v =>
            s" WHERE EXCLUDED.${q(v, dialect)} > ${q(table, dialect)}.${q(v, dialect)}")
            .getOrElse("")
          s"$base ON CONFLICT ($conflict) DO UPDATE SET $upd$guard"
      }
    }
  }

  /** The column-name sequence (with repeats) a prepared [[upsertSql]]
    * statement binds, in `?` position order, for ONE row. The VALUES
    * dialects bind each row's `cols` in order; the Ansi MERGE binds
    * ON keys, then the version guard, then the UPDATE SET columns,
    * then the full INSERT row. Binding through this sequence keeps
    * the executor-side appliers dialect-agnostic.
    */
  def upsertParamOrder(cols: Seq[String], keyCols: Seq[String],
      dialect: Dialect, versionCol: Option[String] = None): Seq[String] =
    dialect match {
      case Ansi if keyCols.nonEmpty =>
        val updatable = cols.filterNot(keyCols.contains)
        if (updatable.isEmpty) keyCols ++ cols
        else keyCols ++ versionCol.toSeq ++ updatable ++ cols
      case _ => cols
    }

  /** Bulk delete by (possibly compound) key — compound keys use a row
    * constructor IN list, as the reference builds `WHERE (k1,k2) IN …`
    * (`batch_consumption.rb:241-247`).
    *
    * The Ansi dialect deletes ONE row per statement (`nRows` must be 1,
    * as for its `MERGE` in [[upsertSql]]): a conjunction of key
    * equalities, since Derby rejects row constructors in IN. Every
    * merge path ([[mergeIntoJdbc]], [[applyOrderedRows]]) prepares it
    * once and reuses it per tombstone, so Derby finds each row through
    * the primary-key index. A multi-row OR-list makes Derby scan the
    * whole table and, with `versionCol`, is rejected at prepare above
    * ~440 keys ("statement too complex", 42ZA0). MySQL, Postgres and
    * SQLite keep their multi-row statements.
    *
    * @param versionCol when set, each delete is version-guarded like
    *   the upserts: a row is removed only when its stored version is
    *   STRICTLY OLDER than the tombstone's (`stored < ?`) — without
    *   this, a replayed/stale tombstone would delete a newer live row
    *   while the same replay's stale upserts were correctly rejected.
    *   The VALUES dialects then use an OR-of-ANDs, one term per row.
    *   Tie semantics are DELIBERATELY symmetric with the upsert guard
    *   (`? > stored` there, `stored < ?` here): a version EQUAL to the
    *   stored row's is a no-op on BOTH sides — that is the
    *   at-least-once replay contract (re-applying the already-applied
    *   version must change nothing), and it means a pipeline must
    *   assign every tombstone a version strictly newer than the row it
    *   removes (the engine's compaction/ordering layers do: orderCol is
    *   a log offset, unique per key). A tombstone that ties the live
    *   row is treated as the replay case and leaves it standing —
    *   pinned live in JdbcMergerDerbySpec. */
  def deleteSql(table: String, keyCols: Seq[String], nRows: Int,
      dialect: Dialect, versionCol: Option[String] = None): String = {
    require(keyCols.nonEmpty,
      "deleteSql needs at least one key column: a keyless merge " +
        "cannot address rows to delete")
    val t = q(table, dialect)
    val terms = keyCols.map(k => s"${q(k, dialect)} = ?") ++
      versionCol.map(v => s"${q(v, dialect)} < ?")
    (dialect, versionCol) match {
      case (Ansi, _) =>
        require(nRows == 1,
          "Ansi dialect deletes row-at-a-time (a multi-row OR-list is a " +
            "table scan, and Derby rejects a long one)")
        s"DELETE FROM $t WHERE ${terms.mkString(" AND ")}"
      case (_, Some(_)) =>
        val one = terms.mkString("(", " AND ", ")")
        s"DELETE FROM $t WHERE ${Seq.fill(nRows)(one).mkString(" OR ")}"
      case _ =>
        val keyTuple =
          if (keyCols.size == 1) q(keyCols.head, dialect)
          else keyCols.map(q(_, dialect)).mkString("(", ", ", ")")
        val ph =
          if (keyCols.size == 1) Seq.fill(nRows)("?").mkString(", ")
          else Seq.fill(nRows)(keyCols.map(_ => "?").mkString("(", ", ", ")"))
            .mkString(", ")
        s"DELETE FROM $t WHERE $keyTuple IN ($ph)"
    }
  }

  /** Deadlock retry policy (reference: `lib/deimos/utils/
    * deadlock_retry.rb:11-43` — ≤2 retries, jittered sleep). The sleep is
    * injectable for tests.
    */
  def withDeadlockRetry[T](maxRetries: Int = 2,
      sleepMs: Int => Long = attempt => 500L + attempt * 1000L,
      isDeadlock: Throwable => Boolean = defaultIsDeadlock,
      sleeper: Long => Unit = Thread.sleep)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: Throwable if isDeadlock(e) && attempt < maxRetries =>
          sleeper(sleepMs(attempt)); attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def defaultIsDeadlock(e: Throwable): Boolean = {
    val m = Option(e.getMessage).getOrElse("").toLowerCase
    m.contains("deadlock") || m.contains("lock wait timeout") ||
      // SQLite's contention signal — multiple writer partitions hit
      // SQLITE_BUSY, which is retryable exactly like a deadlock
      m.contains("database is locked") || m.contains("sqlite_busy")
  }

  /** M3 + T2 — per-row ordered apply for UNCOMPACTED hot-key topics:
    * the executor-side partner of `Streams.mergeSinkOrdered` /
    * `Compaction.orderedByKey`. The partition iterator arrives with
    * every key's versions consecutive and in order; each row becomes a
    * single-row upsert or delete (the reference's M3 single-record
    * path) applied sequentially on one connection, so the database
    * sees same-key versions in exactly the batch order — BatchSlicer
    * semantics without one Spark job per wave.
    *
    * Single-row statements are prepared once per partition and reused;
    * rows are read by name, so they must carry their schema (a
    * Dataset's rows do). Consecutive rows commit in transactions of [[OrderedGroupRows]]
    * (the [[mergeIntoJdbc]] discipline): a deadlock rolls the group
    * back and replays it whole, any other failure rolls it back and
    * propagates, leaving earlier groups committed. With `versionCol`, a
    * row whose version is NULL fails its group before any of the
    * group's statements runs (see [[mergeIntoJdbc]]).
    */
  def applyOrderedRows(rows: Iterator[Row], url: String, table: String,
      cols: Seq[String], keyCols: Seq[String], isTombstone: Row => Boolean,
      dialect: Dialect, props: java.util.Properties,
      versionCol: Option[String] = None,
      retrySleeper: Long => Unit = Thread.sleep): Unit = {
    if (rows.isEmpty) return
    val buffered = rows.buffered
    val schema = buffered.head.schema
    val upIdx = upsertParamOrder(cols, keyCols, dialect, versionCol)
      .map(schema.fieldIndex)
    // version-guarded tombstone: same stale-replay protection as the
    // upsert guard
    val delIdx = (keyCols ++ versionCol).map(schema.fieldIndex)
    val keyIdx = keyCols.map(schema.fieldIndex)
    val verIdx = versionCol.map(schema.fieldIndex)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val upSt = conn.prepareStatement(
        upsertSql(table, cols, keyCols, 1, dialect, versionCol))
      val delSt = conn.prepareStatement(
        deleteSql(table, keyCols, 1, dialect, versionCol))
      try commitPerGroup(conn, buffered, OrderedGroupRows, retrySleeper) { group =>
        requireVersions(group, keyIdx, verIdx)
        applyRowAtATime(group, isTombstone, upSt, upIdx, delSt, delIdx)
      } finally { upSt.close(); delSt.close() }
    } finally conn.close()
  }

  /** Rows per transaction on the ordered path — the default
    * `maxBatchSize` of [[mergeIntoJdbc]] (reference
    * `max_db_batch_size`). */
  private val OrderedGroupRows = 1000

  /** One transaction per `groupSize` consecutive rows on `conn` — the
    * reference's per-chunk transaction with deadlock retry
    * (`batch_consumption.rb:143-164`, `deadlock_retry.rb:11-43`).
    * Autocommit goes off; each group runs `applyGroup` then commits. On
    * a deadlock the group rolls back and is replayed whole (the groups
    * are materialized, so a replay re-binds the same rows); any other
    * failure rolls the group back and propagates. Either way a group
    * lands all or nothing, and the connection is left with no open
    * transaction, so the caller's `close` cannot fail over one. */
  private def commitPerGroup(conn: java.sql.Connection, rows: Iterator[Row],
      groupSize: Int, retrySleeper: Long => Unit)(
      applyGroup: Seq[Row] => Unit): Unit = {
    conn.setAutoCommit(false)
    rows.grouped(groupSize).foreach { group =>
      withDeadlockRetry(sleeper = retrySleeper) {
        try { applyGroup(group); conn.commit() }
        catch {
          case e: Throwable =>
            try conn.rollback() catch { case _: java.sql.SQLException => () }
            throw e
        }
      }
    }
  }

  /** One statement per row of `group`, in order, on prepared single-row
    * statements: the keyed delete where `isDelete` holds, else the
    * upsert. */
  private def applyRowAtATime(group: Seq[Row], isDelete: Row => Boolean,
      upSt: java.sql.PreparedStatement, upIdx: Seq[Int],
      delSt: java.sql.PreparedStatement, delIdx: Seq[Int]): Unit =
    group.foreach { r =>
      val (st, idx) = if (isDelete(r)) (delSt, delIdx) else (upSt, upIdx)
      bindRows(st, Seq(r), idx)
      st.executeUpdate()
    }

  /** Bind `rows` into `st`'s `?` positions, row after row, reading each
    * row's fields at `idx`. */
  private def bindRows(st: java.sql.PreparedStatement, rows: Seq[Row],
      idx: Seq[Int]): Unit = {
    var i = 1
    rows.foreach(r => idx.foreach { c => st.setObject(i, r.get(c)); i += 1 })
  }

  /** Fail on the first row of `group` whose version (at `verIdx`) is
    * NULL, naming its key. Both version guards compare against the
    * version (`? > stored`, `stored < ?`), which is unknown in SQL when
    * it is NULL: such a row would change nothing and raise nothing,
    * and an upsert of a new key would store a NULL version that no
    * later version can overwrite. */
  private def requireVersions(group: Seq[Row], keyIdx: Seq[Int],
      verIdx: Option[Int]): Unit =
    verIdx.foreach { v =>
      group.find(_.isNullAt(v)).foreach { r =>
        throw new IllegalArgumentException(
          s"NULL version for key (${keyIdx.map(r.get).mkString(", ")}): a " +
            "version-guarded merge needs a version on every row, tombstones " +
            "included")
      }
    }

  /** Execute a keyed merge of `batch` into a JDBC table inside
    * `foreachBatch`: upserts and deletes (rows where `tombstone` holds)
    * applied in ONE Spark action, a `foreachPartition` over the batch
    * with the tombstone flag computed once as an extra column. The
    * caller's plan — its compaction exchange included — therefore runs
    * once per call.
    *
    * Each non-empty partition opens one connection and walks its rows
    * in groups of `maxBatchSize` (reference `max_db_batch_size`,
    * `batch_consumption.rb:148-163`). A group's upserts and deletes are
    * ONE transaction, committed at the end of the group and replayed
    * whole after a rollback on deadlock (reference
    * `deadlock_retry.rb:11-43`). The VALUES dialects send a group as
    * one multi-row upsert then one multi-row delete; the Ansi dialect
    * runs a single-row `MERGE` or keyed `DELETE` per row, both prepared
    * once per partition (see [[deleteSql]]).
    *
    * Crash and replay: a failure inside a group rolls that group back
    * and fails the task, so the store holds every group committed
    * before it and none of the failed group's rows. Groups of one
    * partition commit in order; partitions are independent. Replaying
    * the batch converges to a single clean application because the
    * upserts are key-idempotent and, with `versionCol`, both guards
    * make re-applying an applied version a no-op.
    *
    * PRECONDITION — at most one action per key per batch: compact
    * first ([[Compaction.lastWinsKeyed]] — `Streams.mergeBatch` does). With
    * duplicate keys in one statement the dialects diverge (Postgres
    * errors with "cannot affect row a second time", MySQL applies in
    * VALUES order), and because a group's upserts run before its
    * deletes, a delete-then-reinsert sequence for one key would end
    * wrongly deleted. Uncompacted hot-key topics belong on
    * [[applyOrderedRows]], which applies per row in order.
    *
    * A keyless merge has no way to address rows to delete: a tombstone
    * row fails its group loudly (groups before it stay committed).
    *
    * With `versionCol`, every row of a keyed merge — upsert or
    * tombstone — must carry a version: a NULL one fails its group with
    * an `IllegalArgumentException` naming the key, before any of the
    * group's statements runs (groups before it stay committed). A NULL
    * version would otherwise make the guard unknown in SQL, so the row
    * would be a silent no-op, or a new key would be stored with a
    * version nothing can ever overwrite. */
  def mergeIntoJdbc(batch: DataFrame, url: String, table: String,
      keyCols: Seq[String], tombstone: Column,
      dialect: Dialect, props: java.util.Properties,
      maxBatchSize: Int = 1000, versionCol: Option[String] = None,
      retrySleeper: Long => Unit = Thread.sleep): Unit = {
    require(maxBatchSize >= 1, s"maxBatchSize must be >= 1, got $maxBatchSize")
    val cols = batch.columns.toSeq
    val colIdx = cols.zipWithIndex.toMap
    val upIdx = upsertParamOrder(cols, keyCols, dialect, versionCol).map(colIdx)
    val delIdx = (keyCols ++ versionCol).map(colIdx)
    val keyIdx = keyCols.map(colIdx)
    // a keyless merge is a plain INSERT: no guard reads the version
    val verIdx = if (keyCols.isEmpty) None else versionCol.map(colIdx)
    // appended after every batch column, so it is read by position and
    // cannot collide with a batch column's name
    val flag = cols.size
    val flagged = batch.select(col("*"), coalesce(tombstone, lit(false)))
    // the Ansi MERGE has no multi-row source, and a multi-row Ansi
    // delete is an OR-list Derby scans the table for: both run one row
    // per statement, on statements prepared once per partition
    val rowAtATime = dialect == Ansi && keyCols.nonEmpty
    flagged.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val conn = java.sql.DriverManager.getConnection(url, props)
        try {
          val upSt = if (rowAtATime) conn.prepareStatement(
            upsertSql(table, cols, keyCols, 1, dialect, versionCol)) else null
          val delSt = if (rowAtATime) conn.prepareStatement(
            deleteSql(table, keyCols, 1, dialect, versionCol)) else null
          try commitPerGroup(conn, rows, maxBatchSize, retrySleeper) { group =>
            if (keyCols.isEmpty)
              require(!group.exists(_.getBoolean(flag)),
                "keyless merge cannot delete: tombstone rows present but " +
                  "no key columns to address them")
            requireVersions(group, keyIdx, verIdx)
            if (rowAtATime)
              applyRowAtATime(group, _.getBoolean(flag), upSt, upIdx, delSt, delIdx)
            else {
              val (dels, ups) = group.partition(_.getBoolean(flag))
              def run(sql: String, rs: Seq[Row], idx: Seq[Int]): Unit = {
                val st = conn.prepareStatement(sql)
                try { bindRows(st, rs, idx); st.executeUpdate() }
                finally st.close()
              }
              if (ups.nonEmpty) run(upsertSql(table, cols, keyCols, ups.size,
                dialect, versionCol), ups, upIdx)
              if (dels.nonEmpty) run(deleteSql(table, keyCols, dels.size,
                dialect, versionCol), dels, delIdx)
            }
          } finally {
            if (upSt != null) upSt.close()
            if (delSt != null) delSt.close()
          }
        } finally conn.close()
      }
    }
  }

  // ---- additive (monoid) accumulation ---------------------------------

  /** Per-column merge rule for [[accumulateSql]]: how an incoming
    * partial folds into the stored row when the key already exists.
    * Exactly the monoid column set `Profile.momentPartials` emits —
    * counters add, extrema take min/max. Merge columns are treated as
    * NOT NULL (a NULL poisons an Add visibly; don't feed one). */
  sealed trait MergeOp
  case object Add extends MergeOp
  case object TakeMin extends MergeOp
  case object TakeMax extends MergeOp

  /** Accumulating upsert: INSERT new keys, FOLD existing ones with the
    * per-column [[MergeOp]] — the statement that lets a streaming job
    * maintain mergeable partials (x100's moment monoid, x103's bins)
    * in a real database without read-modify-write. Extrema use CASE
    * (portable — Derby has no LEAST/GREATEST; SQLite's min/max
    * scalars shadow the aggregates). Every non-key column must have
    * an op: an accumulator table is keys + monoid state, nothing
    * else. NOT idempotent under replay by construction — pair it with
    * the [[accumulateBatchIntoJdbc]] ledger for exactly-once.
    */
  def accumulateSql(table: String, cols: Seq[String], keyCols: Seq[String],
      ops: Map[String, MergeOp], nRows: Int, dialect: Dialect): String = {
    require(keyCols.nonEmpty, "accumulate requires key columns")
    val mergeCols = cols.filterNot(keyCols.contains)
    require(mergeCols.nonEmpty, "accumulate requires merge columns")
    require(mergeCols.forall(ops.contains),
      s"every merge column needs a MergeOp; missing: " +
        s"${mergeCols.filterNot(ops.contains).mkString(", ")}")
    val colList = cols.map(q(_, dialect)).mkString(", ")
    val rowPh = cols.map(_ => "?").mkString("(", ", ", ")")
    val t = q(table, dialect)
    def fold(c: String, stored: String, incoming: String): String =
      ops(c) match {
        case Add => s"$stored + $incoming"
        case TakeMin =>
          s"CASE WHEN $incoming < $stored THEN $incoming ELSE $stored END"
        case TakeMax =>
          s"CASE WHEN $incoming > $stored THEN $incoming ELSE $stored END"
      }
    dialect match {
      case Ansi =>
        require(nRows == 1,
          "Ansi dialect merges row-at-a-time (no multi-row MERGE source)")
        val on = keyCols.map(k => s"$t.${q(k, dialect)} = ?")
          .mkString(" AND ")
        val set = mergeCols.map { c =>
          s"${q(c, dialect)} = ${fold(c, s"$t.${q(c, dialect)}", "?")}"
        }.mkString(", ")
        val insPh = cols.map(_ => "?").mkString(", ")
        s"MERGE INTO $t USING SYSIBM.SYSDUMMY1 ON $on" +
          s" WHEN MATCHED THEN UPDATE SET $set" +
          s" WHEN NOT MATCHED THEN INSERT ($colList) VALUES ($insPh)"
      case MySql =>
        val base = s"INSERT INTO $t ($colList) VALUES " +
          Seq.fill(nRows)(rowPh).mkString(", ")
        val upd = mergeCols.map { c =>
          val qc = q(c, dialect)
          s"$qc = ${fold(c, qc, s"VALUES($qc)")}"
        }.mkString(", ")
        s"$base ON DUPLICATE KEY UPDATE $upd"
      case Postgres | Sqlite =>
        val base = s"INSERT INTO $t ($colList) VALUES " +
          Seq.fill(nRows)(rowPh).mkString(", ")
        val conflict = keyCols.map(q(_, dialect)).mkString(", ")
        val upd = mergeCols.map { c =>
          val qc = q(c, dialect)
          s"$qc = ${fold(c, s"$t.$qc", s"EXCLUDED.$qc")}"
        }.mkString(", ")
        s"$base ON CONFLICT ($conflict) DO UPDATE SET $upd"
    }
  }

  /** `?`-position column sequence (with repeats) for one
    * [[accumulateSql]] row — the Ansi CASE folds bind the incoming
    * value twice for extrema. */
  def accumulateParamOrder(cols: Seq[String], keyCols: Seq[String],
      ops: Map[String, MergeOp], dialect: Dialect): Seq[String] =
    dialect match {
      case Ansi =>
        val mergeCols = cols.filterNot(keyCols.contains)
        keyCols ++ mergeCols.flatMap { c =>
          ops(c) match {
            case Add => Seq(c)
            case TakeMin | TakeMax => Seq(c, c)
          }
        } ++ cols
      case _ => cols
    }

  /** A key/unique violation, portably: the dedicated subclass (Derby,
    * MySQL Connector/J) OR SQLState class 23 (integrity constraint —
    * what the PostgreSQL and SQLite drivers report without subclassing).
    */
  private[operators] def isIntegrityViolation(e: java.sql.SQLException): Boolean =
    e.isInstanceOf[java.sql.SQLIntegrityConstraintViolationException] ||
      Option(e.getSQLState).exists(_.startsWith("23"))

  /** Exactly-once accumulation of one micro-batch into a JDBC
    * accumulator table, for `foreachBatch((df, id) => ...)`: additive
    * merges are NOT replay-idempotent (a redelivered batch would
    * double-count — the failure mode `mergeIntoJdbc`'s overwrite
    * semantics don't have), so each partition applies inside ONE
    * transaction that first claims its `(job, batch_id, partition_id)`
    * row in the ledger table (PRIMARY KEY — see
    * `InfraMigrations.ledgerTableSql`). A replayed partition hits the
    * key violation, rolls back, and skips: at-least-once delivery in,
    * exactly-once accumulation out, per partition.
    *
    * The batch must carry ONE row per key per partition (aggregate
    * before calling — `momentPartials` output already does), and the
    * frame's partitioning must be DETERMINISTIC across replays of the
    * same batch id (a groupBy output is — same key lands in the same
    * partition).
    */
  def accumulateBatchIntoJdbc(batch: DataFrame, batchId: Long,
      job: String, url: String, table: String, keyCols: Seq[String],
      ops: Map[String, MergeOp], dialect: Dialect,
      props: java.util.Properties,
      ledgerTable: String = "graft_apply_ledger",
      maxBatchSize: Int = 1000): Unit = {
    val cols = batch.columns.toSeq
    val colIdx = cols.zipWithIndex.toMap
    val paramIdx = accumulateParamOrder(cols, keyCols, ops, dialect)
      .map(colIdx)
    val ledgerSql = s"INSERT INTO ${q(ledgerTable, dialect)} " +
      s"(${Seq("job", "batch_id", "partition_id").map(q(_, dialect)).mkString(", ")}) " +
      "VALUES (?, ?, ?)"
    // the Ansi MERGE has no multi-row source; the VALUES dialects
    // batch up to maxBatchSize rows per statement (the mergeIntoJdbc
    // discipline — per-row round trips would dominate a large partial
    // frame)
    val effBatch = if (dialect == Ansi) 1 else maxBatchSize
    batch.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val conn = java.sql.DriverManager.getConnection(url, props)
        try {
          conn.setAutoCommit(false)
          val claimed =
            try {
              val lg = conn.prepareStatement(ledgerSql)
              try {
                // setObject throughout — the binding style the whole
                // merge path uses (and the statement recorder sees)
                lg.setObject(1, job)
                lg.setObject(2, java.lang.Long.valueOf(batchId))
                lg.setObject(3, java.lang.Integer.valueOf(pid))
                lg.executeUpdate(); true
              } finally lg.close()
            } catch {
              case e: java.sql.SQLException if isIntegrityViolation(e) =>
                conn.rollback(); false // replayed partition: skip whole
            }
          if (claimed) {
            if (effBatch == 1) {
              val st = conn.prepareStatement(
                accumulateSql(table, cols, keyCols, ops, 1, dialect))
              try rows.foreach { r =>
                bindRows(st, Seq(r), paramIdx)
                st.executeUpdate()
              } finally st.close()
            } else rows.grouped(effBatch).foreach { group =>
              val st = conn.prepareStatement(accumulateSql(
                table, cols, keyCols, ops, group.size, dialect))
              try { bindRows(st, group, paramIdx); st.executeUpdate() }
              finally st.close()
            }
            conn.commit()
          }
        } catch {
          case e: Throwable =>
            try conn.rollback() catch { case _: java.sql.SQLException => () }
            throw e
        } finally conn.close()
      }
    }
  }
}
