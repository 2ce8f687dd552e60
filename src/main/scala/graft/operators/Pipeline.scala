package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Num.roundz

/** Producer/consumer row-transform pipeline: projection, coercion,
  * auto-fields, key extraction, truncation, topic prefixing.
  *
  * Reference semantics: the producer middleware chain
  * (`lib/deimos/ext/producer_middleware.rb:15-41,68-122`) and the
  * consumer-side schema/model projection
  * (`lib/deimos/active_record_consume/schema_model_converter.rb:19-29`).
  *
  * All transforms are pure `Column` expressions — they stay inside
  * whole-stage codegen and push through to the scan (projection pruning,
  * predicate pushdown) untouched.
  */
object Pipeline {

  /** P1/P2 — keep only columns present in both the declared schema and
    * the frame, preserving declared order; skip bookkeeping columns.
    * (reference: `active_record_producer.rb:75-85`,
    * `schema_model_converter.rb:19-29` — skips created_at/updated_at)
    */
  def schemaProject(df: DataFrame, declaredFields: Seq[String],
      skip: Set[String] = Set("created_at", "updated_at")): DataFrame = {
    val have = df.columns.toSet
    val keep = declaredFields.filter(f => have.contains(f) && !skip.contains(f))
    df.select(keep.map(col): _*)
  }

  /** P6 — reference boolean coercion rule: `!(nil || false)`
    * (`avro_schema_coercer.rb:115-117`). */
  def coerceBoolean(c: Column): Column =
    c.isNotNull && c.cast(BooleanType) =!= lit(false)

  /** P6 — string→integral coercion: digit-string to long, as the
    * reference's `to_i` on int-strings (`avro_schema_coercer.rb:80-91`).
    * Null (not ANSI error) when nothing numeric is found. */
  def coerceIntString(c: Column): Column = {
    val m = regexp_extract(c, "-?\\d+", 0)
    when(m =!= "", m.cast(LongType))
  }

  /** P6 — numeric-string → double (`avro_schema_coercer.rb:95-101`). */
  def coerceDoubleString(c: Column): Column = {
    val m = regexp_extract(c, "-?\\d+(\\.\\d+)?", 0)
    when(m =!= "", m.cast(DoubleType))
  }

  /** P6 fused form — (int, double) coercion of the same string from ONE
    * regex scan. Value-identical to
    * ([[coerceIntString]], [[coerceDoubleString]]) on every input:
    * both patterns share the prefix `-?\d+`, so leftmost-first matching
    * starts them at the same position and the int match is exactly the
    * double match truncated at its decimal point (pinned by
    * `PipelineSpec`). A wide scan coercing many string fields should
    * prefer this: the regex walk over the raw string is the dominant
    * per-row cost, and this halves it. */
  def coerceNumericPair(c: Column): (Column, Column) = {
    val m = regexp_extract(c, "-?\\d+(\\.\\d+)?", 0)
    (when(m =!= "", substring_index(m, ".", 1).cast(LongType)),
      when(m =!= "", m.cast(DoubleType)))
  }

  /** P5 — fill `message_id`/`timestamp` when absent
    * (reference: `lib/deimos/message.rb:38-56`). The surrogate generator
    * is injectable so tests (and the DuckDB oracle) can use a
    * deterministic row-hash instead of `uuid()`.
    */
  def autoFields(df: DataFrame,
      idCol: String = "message_id",
      tsCol: String = "timestamp",
      surrogate: DataFrame => Column = _ => uuid(),
      now: Column = current_timestamp()): DataFrame = {
    val withId =
      if (df.columns.contains(idCol))
        df.withColumn(idCol, coalesce(col(idCol), surrogate(df)))
      else df.withColumn(idCol, surrogate(df))
    if (withId.columns.contains(tsCol))
      // adapt the fill value to the column's declared type (the
      // reference stores wall-clock strings or epochs interchangeably)
      withId.withColumn(tsCol,
        coalesce(col(tsCol), now.cast(df.schema(tsCol).dataType)))
    else withId.withColumn(tsCol, now)
  }

  /** Deterministic surrogate id: md5 over the given columns — the
    * test-injectable variant of `uuid()`. */
  def deterministicSurrogate(prefix: String, cols: Seq[Column]): Column =
    md5(concat_ws("|", (lit(prefix) +: cols): _*))

  /** P10 — key extraction from a payload field; nested fields via
    * dot-path (reference: `producer_middleware.rb:108-122`,
    * proto dotted path `proto_base.rb:37-60`). */
  def extractKey(path: String): Column =
    path.split('.').toSeq match {
      case head +: tail => tail.foldLeft(col(head))((c, f) => c.getField(f))
      case _ => lit(null)
    }

  /** P7 — truncate string columns to declared limits before producing
    * (reference: `kafka_source.rb:142-151`). */
  def truncateColumns(df: DataFrame, limits: Map[String, Int]): DataFrame =
    limits.foldLeft(df) { case (d, (c, n)) =>
      if (d.columns.contains(c)) d.withColumn(c, substring(col(c), 0, n)) else d
    }

  /** P4 — validity partition: returns (valid, invalid) without scanning
    * twice more than needed; callers typically `observe` the invalid
    * count (reference: `batch_record_list.rb:23-33`). */
  def partitionValid(df: DataFrame, valid: Column): (DataFrame, DataFrame) =
    (df.filter(valid), df.filter(!coalesce(valid, lit(false))))

  /** P4 × backend-validate wiring: partition a payload frame by the
    * schema backend's aggregated validation report. Invalid rows keep
    * their per-row error array in `errCol` (for the invalid-records
    * side output / metric); valid rows drop it. Validation is constant
    * + null-check Column arithmetic, so both sides stay one codegen'd
    * filter over the scan. */
  def partitionSchemaValid(df: DataFrame, backend: graft.schema.SchemaBackend,
      errCol: String = "validation_errors"): (DataFrame, DataFrame) = {
    val present = backend.schemaFields.filter(df.columns.contains)
    val actual = StructType(present.map(df.schema(_)))
    val errs = backend.validateExpr(struct(present.map(col): _*), actual)
    val flagged = df.withColumn(errCol, errs)
    (flagged.filter(size(col(errCol)) === 0).drop(errCol),
      flagged.filter(size(col(errCol)) > 0))
  }

  /** The poison predicate every dead-letter split shares: a frame
    * that HAS bytes but decoded to nothing. Null bytes (tombstones)
    * are protocol, not corruption. One definition, used by
    * [[partitionDecodable]] and `BatchConsumer` (both of its modes),
    * so the classification cannot drift between paths. */
  def undecodable(bytes: Column, payload: Column): Column =
    bytes.isNotNull && payload.isNull

  /** P4 × lenient decode: the dead-letter split. Decodes `bytes`
    * through the backend's record-level lenient path and partitions
    * into (decoded, quarantine): tombstones (null bytes) stay on the
    * decoded side with a null payload (they are protocol, not
    * corruption — the delete signal must reach compaction); non-null
    * frames whose decode nulled out land in quarantine STILL CARRYING
    * their raw bytes, replayable once the cause is fixed (the
    * standard DLQ contract). Both sides are filters over ONE lazy
    * plan — but they are separate DataFrames, so a caller that
    * evaluates both pays the decode once per side; persist the input
    * (or the smaller quarantine side, as `BatchConsumer` does) when
    * both sides feed jobs at scale.
    */
  def partitionDecodable(df: DataFrame,
      backend: graft.schema.SchemaBackend, bytes: Column,
      payloadCol: String = "payload"): (DataFrame, DataFrame) = {
    val decoded = df.withColumn(payloadCol,
      when(bytes.isNotNull, backend.decodeLenientExpr(bytes)))
    val poison = undecodable(bytes, col(payloadCol))
    (decoded.filter(!poison), decoded.filter(poison).drop(payloadCol))
  }

  /** Gate-attrition funnel: given an ORDERED list of named filter
    * stages, attribute each row to the FIRST stage it fails and report
    * the per-stage funnel (rows entering, rows dropped here, rows
    * surviving) — the pipeline-debugging report behind every corpus
    * quality gate ("which rule is eating my data?"). A composite gate
    * ([[graft.functions.TextFunctions.qualityGate]]) answers kept-or-
    * not; this answers WHY, stage by stage, in declared order.
    *
    * A predicate evaluating NULL does not fail its row here (CASE
    * falls through) — matching SQL filter semantics where only TRUE
    * keeps, means a NULL predicate row is attributed to the final
    * no-stage-failed bucket unless a later stage rejects it outright.
    *
    * Scale shape: first-fail attribution is one scan-side CASE chain;
    * the only shuffle carries ≤|stages|+1 keys with map-side partial
    * counts. The funnel arithmetic (cumulative drops) runs on the
    * |stages|-row frame; the lone `.head()` reads one total row.
    */
  def gateAttrition(df: DataFrame,
      stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty, "need at least one gate stage")
    val firstFail = stages.zipWithIndex
      .foldLeft(when(lit(false), lit(-1))) {
        case (acc, ((_, pred), i)) => acc.when(not(pred), lit(i))
      }.otherwise(lit(stages.size))
    // ONE Spark job: the first-fail aggregation collects ≤|stages|+1
    // rows; the cross-stage funnel arithmetic is |stages|-sized by
    // construction and runs on the driver, returning a LocalRelation.
    // (History: the original partitionBy(lit(1)) running sum folded to
    // an unpartitioned WindowExec — round-16 plan audit; the
    // distributed window-free helper fixed that but paid ~4 extra jobs
    // on a |stages|-row frame. One driver pass is both window-free AND
    // single-job; raw rows are never collected.)
    val byStage = df.select(firstFail.as("fs"))
      .groupBy(col("fs")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = byStage.values.sum
    // drop_rate_r replicates roundz(x, 9) exactly: Spark's round() on
    // DOUBLE is BigDecimal(Double.toString)-based HALF_UP; + 0.0
    // normalizes the signed zero (the x119 bit-hash lesson)
    def round9(x: Double): Double =
      BigDecimal(x).setScale(9, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .toDouble + 0.0
    var excl = 0L
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](stages.size)
    stages.zipWithIndex.foreach { case ((name, _), i) =>
      val failed = byStage.getOrElse(i, 0L)
      val nIn = total - excl
      val dropR = if (nIn > 0) round9(failed.toDouble / nIn.toDouble) else 0.0
      rows.add(org.apache.spark.sql.Row(i.toLong, name, nIn, failed,
        nIn - failed, dropR))
      excl += failed
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("stage_idx",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("stage",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_in",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_failed",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_out",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("drop_rate_r",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    df.sparkSession.createDataFrame(rows, schema)
  }
}
