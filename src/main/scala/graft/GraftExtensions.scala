package graft

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.unsafe.types.UTF8String

import graft.ext.{GifDecode, ImageIoDecode, MediaProbe, Mp4Demux, PixelDecode}
import graft.functions.Expressions._
import graft.functions.TextFunctions
import graft.schema.AvroExpressions._

/** SQL surface for the engine's custom expressions.
  *
  * Most functions are a DataFrame-API function lifted by `colFn`, so
  * SQL and the DataFrame API build the same node (for the sketch and
  * media kernels, one `StaticInvoke`); constant arguments are checked
  * to be literals first. The rest build their custom expression.
  *
  * Two registration paths:
  *  - `spark.sql.extensions=graft.GraftExtensions` at session build
  *    (the production path — works on any cluster submit);
  *  - `GraftExtensions.register(spark)` on a live session (tests,
  *    notebooks).
  *
  * Functions: graft_simhash64(array<bigint>),
  * graft_minhash(array<bigint>, k), graft_ngram_hashes(array<bigint>, n),
  * graft_cosine(arr, arr), graft_avro_encode(struct, 'schemaJson'),
  * graft_avro_decode(bin, 'schemaJson'), graft_schema_id(bin),
  * graft_winnow(bin, k, w), graft_nfc(str),
  * graft_probe_media(bin) → struct(width, height, media_type),
  * graft_probe_mp4(bin) → struct(width, height, duration_ms,
  * media_type),
  * graft_png_stats(bin) / graft_wav_stats(bin) / graft_gif_stats(bin) /
  * graft_jpeg_stats(bin),
  * graft_png_resize_stats(bin, tw, th) — nearest-neighbor resample
  * stats, graft_wav_decimate_stats(bin, stride) — stride-decimated
  * PCM sample stats,
  * graft_mp4_frame_stats(bin, stride) / graft_mp4_frames(bin, stride),
  * → full-decode statistics structs,
  * graft_probe_wav(bin) → struct(n_channels, sample_rate,
  * bits_per_sample, duration_ms, media_type),
  * and the text/quality stack: graft_ws_tokens(str),
  * graft_bpeish_tokens(str), graft_langid(str), graft_stop_hits(str),
  * graft_punct_count(str), graft_quality_gate(str) → struct(n_words,
  * mean_len, max_len, stop_hits, top_count, top_share, kept).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.descriptions.foreach(e.injectFunction)
}

object GraftExtensions {

  private def litString(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(i: Integer, _) => i.intValue
    case Literal(i: java.lang.Long, _) => i.intValue
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def info(name: String) =
    new ExpressionInfo("graft.functions.Expressions", name)

  /** Lift a Column function into a SQL function builder: argument
    * expressions → classic Columns → function → back to the catalyst
    * expression the registry needs. SQL and the DataFrame API thus
    * build one node per function; constant arguments pass through
    * `litInt`/`litString` first. The result is unresolved until the
    * analyzer runs — exactly like any builtin's builder output. */
  private def colFn(f: Seq[Column] => Column)(es: Seq[Expression]): Expression =
    GraftSqlBridge.catalystExpression(f(es.map(GraftSqlBridge.column)))

  private def colFn1(f: Column => Column): Seq[Expression] => Expression =
    colFn(cs => f(cs.head))

  private def fn(name: String, builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), info(name), builder)

  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    fn("graft_simhash64", colFn1(simhash64)),
    fn("graft_minhash", es => MinHashSigExpr(es.head, litInt(es(1), "k"))),
    fn("graft_ngram_hashes",
      es => colFn1(ngramHashes(_, litInt(es(1), "n")))(es)),
    fn("graft_cosine", es => CosineSimExpr(es.head, es(1))),
    fn("graft_avro_encode",
      es => AvroEncodeExpr(es.head, litString(es(1), "schemaJson"))),
    fn("graft_avro_decode",
      es => AvroDecodeExpr(es.head, litString(es(1), "schemaJson"))),
    fn("graft_schema_id", es => ReadInt32BE(es.head, offset = 1)),
    fn("graft_winnow", es => colFn1(winnowFingerprint(_,
      litInt(es(1), "k"), litInt(es(2), "w")))(es)),
    fn("graft_nfc", colFn1(normalizeNfc)),
    fn("graft_probe_media", colFn1(MediaProbe.probeMedia)),
    fn("graft_probe_wav", colFn1(MediaProbe.probeAudio)),
    fn("graft_probe_mp4", colFn1(MediaProbe.probeVideo)),
    fn("graft_png_stats", colFn1(PixelDecode.pngStats)),
    fn("graft_png_resize_stats", es => colFn1(PixelDecode.pngResizeStats(_,
      litInt(es(1), "tw"), litInt(es(2), "th")))(es)),
    fn("graft_wav_stats", colFn1(PixelDecode.wavStats)),
    fn("graft_wav_decimate_stats",
      es => colFn1(PixelDecode.wavDecimate(_, litInt(es(1), "stride")))(es)),
    fn("graft_gif_stats", colFn1(GifDecode.gifStats)),
    fn("graft_jpeg_stats", colFn1(ImageIoDecode.jpegStats)),
    fn("graft_mp4_frame_stats", colFn(cs => Mp4Demux.frameStats(cs(0), cs(1)))),
    fn("graft_mp4_frames", colFn(cs => Mp4Demux.sampleFrames(cs(0), cs(1)))),
    // text/quality stack (Column-combinator lifts — BI/SQL users get
    // the same curation primitives the DataFrame API exposes)
    fn("graft_ws_tokens", colFn1(TextFunctions.wsTokenCount)),
    fn("graft_bpeish_tokens", colFn1(TextFunctions.bpeishTokenCount)),
    fn("graft_langid", colFn1(TextFunctions.langId)),
    fn("graft_stop_hits", colFn1(c =>
      TextFunctions.stopwordHits(c, TextFunctions.StopwordLists.head._2))),
    fn("graft_punct_count", colFn1(TextFunctions.punctCount)),
    fn("graft_quality_gate", colFn1(c =>
      TextFunctions.qualityGate(c, TextFunctions.StopwordLists.head._2))),
  )

  /** Register on a live session (temp functions). */
  def register(spark: SparkSession): Unit =
    descriptions.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
}
