package graft.schema

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema => AvroSchema}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.KeyConfig

/** Pluggable schema backend — the engine's version of the reference's
  * backend contract (`lib/deimos/schema_backends/base.rb:142-222`:
  * encode_payload / decode_payload / schema_fields / sql_type /
  * encode_key / decode_key / generate_key_schema), re-expressed as
  * `Column → Column` codec expressions so encode/decode participate in
  * Catalyst plans instead of per-row framework calls.
  */
trait SchemaBackend {
  /** Reader schema as a Spark type. */
  def sparkSchema: StructType
  /** Declared field names, in schema order. */
  def schemaFields: Seq[String] = sparkSchema.fieldNames.toSeq
  /** struct column → binary payload. */
  def encodeExpr(payload: Column): Column
  /** binary column → struct payload. */
  def decodeExpr(bytes: Column): Column
  /** Encode a key value (scalar or struct) per the key config. */
  def encodeKeyExpr(key: Column): Column = encodeExpr(key)
  def decodeKeyExpr(bytes: Column): Column = decodeExpr(bytes)

  /** Record-level lenient decode: a frame [[decodeExpr]] would throw
    * on (truncated body, bad magic, unknown schema id, garbage bytes)
    * decodes to NULL instead of failing the task — at corpus scale
    * one poison record among 10^11 must land in a dead-letter side
    * output ([[graft.operators.Pipeline.partitionDecodable]]), not
    * kill the job. The strict path stays the default: corruption in a
    * pipeline that did NOT opt into quarantine should stop the world
    * (the reference's fatal-vs-skip error policy, `T6`, at per-record
    * grain). Built on Catalyst's `TryEval` (the `try_*` function
    * machinery), so the wrapped decode keeps its codegen. */
  def decodeLenientExpr(bytes: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.TryEval(
        org.apache.spark.sql.GraftSqlBridge.expression(decodeExpr(bytes))))

  /** [[decodeLenientExpr]] for the KEY codec — the round-11 opt-in
    * third error mode (`BatchConsumer.quarantineKeys`): a corrupt key
    * frame decodes to NULL beside its raw bytes instead of killing
    * the job, so the caller can quarantine the whole row. Key decode
    * stays STRICT unless that mode is explicitly requested: a lost
    * key is indistinguishable from data loss, so silently nulling it
    * anywhere else would corrupt compaction grouping. */
  def decodeKeyLenientExpr(bytes: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.TryEval(
        org.apache.spark.sql.GraftSqlBridge.expression(decodeKeyExpr(bytes))))

  /** Per-row validation report against the declared schema:
    * `array<string>` of aggregated errors, empty = valid (reference
    * contract `base.rb:163-165` / `avro_base.rb:85-89`). The payload's
    * struct type must be passed explicitly — a bare `Column` carries
    * no type before analysis. */
  def validateExpr(payload: Column, payloadType: StructType): Column =
    SchemaValidation.validate(payload, payloadType, sparkSchema)
}

/** Avro binary backend (reference `avro_local.rb` semantics: schema
  * resolved locally, payload is Avro binary). */
class AvroBackend(val schemaJson: String) extends SchemaBackend {
  @transient lazy val avroSchema: AvroSchema =
    AvroConverters.parseSchema(schemaJson)
  override lazy val sparkSchema: StructType =
    AvroConverters.toSparkType(avroSchema).asInstanceOf[StructType]
  override def encodeExpr(payload: Column): Column =
    AvroExpressions.encodeAvro(payload, schemaJson)
  override def decodeExpr(bytes: Column): Column =
    AvroExpressions.decodeAvro(bytes, schemaJson)

  /** SQL DDL type for a schema field — the reference's `sql_type`
    * surface (`avro_base.rb:48-69`; note its double→float warning:
    * we map double to DOUBLE PRECISION instead, which modern targets
    * support). */
  def sqlType(field: String): String = {
    def ddl(dt: org.apache.spark.sql.types.DataType): String = dt match {
      case org.apache.spark.sql.types.IntegerType => "INTEGER"
      case org.apache.spark.sql.types.LongType => "BIGINT"
      case org.apache.spark.sql.types.FloatType => "REAL"
      case org.apache.spark.sql.types.DoubleType => "DOUBLE PRECISION"
      case org.apache.spark.sql.types.BooleanType => "BOOLEAN"
      case org.apache.spark.sql.types.StringType => "TEXT"
      case org.apache.spark.sql.types.BinaryType => "BLOB"
      case org.apache.spark.sql.types.TimestampType => "TIMESTAMP"
      case _: org.apache.spark.sql.types.StructType => "JSON"
      case _: org.apache.spark.sql.types.ArrayType => "JSON"
      case _: org.apache.spark.sql.types.MapType => "JSON"
      case other => other.sql
    }
    ddl(sparkSchema(field).dataType)
  }

  /** CREATE TABLE DDL for the value schema (target-table bootstrap —
    * the engine-side analog of the reference's generated migrations). */
  def createTableSql(table: String, keyCols: Seq[String]): String = {
    val cols = sparkSchema.fields.map { f =>
      val nn = if (keyCols.contains(f.name)) " NOT NULL" else ""
      s"${f.name} ${sqlType(f.name)}$nn"
    }
    val pk = if (keyCols.nonEmpty)
      s", PRIMARY KEY (${keyCols.mkString(", ")})" else ""
    s"CREATE TABLE IF NOT EXISTS $table (${cols.mkString(", ")}$pk)"
  }

  /** Auto-generate the one-field key-record schema for `key_config
    * field:` mode (reference: `avro_base.rb:160-177`). */
  def keySchemaJson(field: String): String = {
    val f = avroSchema.getFields.asScala
      .find(_.name == field)
      .getOrElse(throw new IllegalArgumentException(
        s"key field $field not in schema ${avroSchema.getFullName}"))
    val keySchema = AvroSchema.createRecord(
      avroSchema.getName + "_key", null, avroSchema.getNamespace, false)
    keySchema.setFields(java.util.List.of(
      new AvroSchema.Field(field,
        AvroConverters.parseSchema(f.schema.toString), null,
        null.asInstanceOf[Object])))
    keySchema.toString
  }

  /** Resolve the key codec for a key config. `Schema(name)` mode looks
    * the named schema up in `registry` (name → schema json) — the
    * engine analog of the reference's schema path resolution; an
    * unresolvable name is an error, never a silent fall-back to the
    * value schema. */
  def keyBackend(config: KeyConfig,
      registry: Map[String, String] = Map.empty): Option[AvroBackend] =
    config match {
      case KeyConfig.Field(path) =>
        Some(new AvroBackend(keySchemaJson(path.split('.').head)))
      case KeyConfig.Schema(name) =>
        registry.get(name) match {
          case Some(json) => Some(new AvroBackend(json))
          case None => throw new IllegalArgumentException(
            s"key schema '$name' not found in registry " +
              s"(known: ${registry.keys.mkString(",")})")
        }
      case _ => None
    }
}

/** Avro Object-Container-File backend — byte-exact analog of the
  * reference's `avro_local` (per-message DataFile with embedded writer
  * schema, `avro_local.rb:18-30`). Self-describing payloads: decode
  * resolves any backward-compatible writer schema against this reader
  * schema (full evolution support, unlike raw-binary mode). */
class AvroDataFileBackend(schemaJson: String) extends AvroBackend(schemaJson) {
  override def encodeExpr(payload: Column): Column =
    AvroExpressions.encodeAvroDataFile(payload, schemaJson)
  override def decodeExpr(bytes: Column): Column =
    AvroExpressions.decodeAvroDataFile(bytes, schemaJson)
}

/** Confluent-style wire framing shared by the Avro and proto
  * registry backends: 0x00 magic + int32 schema id (big-endian) +
  * payload. One implementation so the validation logic (and its
  * diagnostics) cannot diverge between backends. */
private[schema] object RegistryFraming {
  def header(schemaId: Int): Array[Byte] = Array[Byte](
    0x00,
    ((schemaId >> 24) & 0xff).toByte,
    ((schemaId >> 16) & 0xff).toByte,
    ((schemaId >> 8) & 0xff).toByte,
    (schemaId & 0xff).toByte)

  /** Validate magic byte + schema id, then decode the stripped payload
    * with `inner`; mismatches fail loudly with what was actually
    * found — raw Avro/proto binary requires the exact writer schema,
    * so a blind substring+decode of an evolved frame would mis-decode
    * silently. */
  def decodeValidated(bytes: Column, schemaId: Int)
      (inner: Column => Column): Column = {
    val idExpr = AvroExpressions.schemaIdOf(bytes)
    // the frame check is about the 5 HEADER bytes (magic + id): a
    // 5-byte frame carries an EMPTY payload, which is a legal
    // all-defaults proto3 message (and an empty-record Avro body) —
    // a payload too short for its schema fails in the decoder with
    // the right error, not a misleading frame-mismatch
    val frameOk = length(bytes) >= 5 &&
      substring(bytes, 1, 1) === lit(Array[Byte](0x00)) &&
      idExpr === lit(schemaId)
    // null payloads (Kafka tombstones) decode to null; only MALFORMED
    // frames fail loudly — without this branch length(null) made
    // frameOk null and the otherwise-raise fired on tombstones
    when(bytes.isNull, lit(null))
      .when(frameOk, inner(substring(bytes, 6, Int.MaxValue - 5)))
      .otherwise(raise_error(concat(
        lit("registry frame mismatch: expected magic 0x00 + schema id " +
          s"$schemaId, got "),
        when(length(bytes) >= 5, concat(lit("id "), idExpr.cast("string")))
          .otherwise(concat(length(bytes).cast("string"),
            lit("-byte frame"))))))
  }
}

/** Confluent-style registry wire format over Avro binary (reference:
  * `avro_schema_registry.rb`; framing per the public Confluent wire
  * format). Framing is plain binary concat/substring — codegen'd.
  *
  * `writerSchemas` is the decode-side registry: id → writer schema
  * json. When non-empty, decode DISPATCHES on the frame's embedded id
  * and resolves that writer schema against this reader schema — the
  * reference's registry semantics (`avro_schema_registry.rb:10-12`
  * resolves the writer by embedded id), so a topic with a mid-stream
  * schema bump (old + evolved writers interleaved) decodes in one
  * scan. Unknown ids fail loudly. When empty, decode validates the
  * frame against this backend's own `schemaId` exactly (strict mode —
  * right when no evolution is expected and any other id is
  * corruption). Encode always frames with `schemaId`.
  */
class RegistryFramedBackend(schemaJson: String, val schemaId: Int,
    writerSchemas: Map[Int, String] = Map.empty)
    extends AvroBackend(schemaJson) {
  override def encodeExpr(payload: Column): Column =
    concat(lit(RegistryFraming.header(schemaId)), super.encodeExpr(payload))

  override def decodeExpr(bytes: Column): Column =
    if (writerSchemas.nonEmpty)
      AvroExpressions.decodeAvroResolving(bytes, schemaJson,
        // the backend's own schema is always a known writer
        writerSchemas.updated(schemaId,
          writerSchemas.getOrElse(schemaId, schemaJson)))
    else
      RegistryFraming.decodeValidated(bytes, schemaId)(super.decodeExpr)

  /** Schema id carried by a framed message. */
  def schemaIdExpr(framed: Column): Column = AvroExpressions.schemaIdOf(framed)
}

/** JSON passthrough backend (reference `avro_validation.rb` /
  * `plain`): payload is UTF-8 JSON; schema still drives the struct
  * shape. */
class PlainJsonBackend(override val sparkSchema: StructType)
    extends SchemaBackend {
  override def encodeExpr(payload: Column): Column =
    to_json(payload).cast(BinaryType)
  override def decodeExpr(bytes: Column): Column =
    from_json(bytes.cast(StringType), sparkSchema)
}

/** Mock backend for tests (reference `mock`): identity-ish JSON codec
  * with no validation. */
class MockBackend(override val sparkSchema: StructType)
    extends PlainJsonBackend(sparkSchema)
