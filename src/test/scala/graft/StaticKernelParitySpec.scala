package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ext._
import graft.functions.{Expressions, SketchOps}

/** Every public function that reaches the plan through
  * `Expressions.staticCall` (Spark's `StaticInvoke` over a static
  * kernel), and every `graft_*` SQL function built on one, evaluated
  * under forced whole-stage codegen (`CODEGEN_ONLY`, no fallback) and
  * under interpreted eval (`NO_CODEGEN`, whole-stage off), each
  * against a direct call of its kernel. Inputs: NULL, foreign bytes,
  * truncated bytes and a valid blob (valid argument tuples for the
  * synthesizers). A misspelled kernel name or a wrong argument type
  * compiles and fails only at first eval — this spec is that eval.
  *
  * Inputs come from an RDD-backed frame: a local relation would be
  * folded by the optimizer and never reach codegen. */
class StaticKernelParitySpec extends SparkSpec {
  import StaticKernelParitySpec._

  private val modes = Seq(
    "codegen" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.wholeStage" -> "true"),
    "interpreted" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  private def withConf[T](kvs: Seq[(String, String)])(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def check(c: Case, got: DataFrame, codegen: Boolean): Unit = {
    val wscg = got.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w
    }
    assert(wscg.nonEmpty === codegen, got.queryExecution.executedPlan)
    val outType = got.schema("out").dataType
    val rows = got.collect().map(r => r.getInt(0) -> norm(r.get(1))).toMap
    c.inputs.zipWithIndex.foreach { case (in, id) =>
      val want =
        if (in.contains(null)) null
        else norm(CatalystTypeConverters.convertToScala(
          c.kernel(in.map(CatalystTypeConverters.convertToCatalyst)),
          outType))
      assert(rows(id) === want, s"${c.name} on input $id")
    }
  }

  for ((mode, conf) <- modes; c <- cases) {
    test(s"$mode: ${c.name} equals a direct call of its kernel") {
      withConf(conf) {
        val df = frame(spark, c)
        check(c, df.select(col("id"), c.fn(c.args).as("out")),
          mode == "codegen")
        c.sql.foreach { s =>
          GraftExtensions.register(spark)
          df.createOrReplaceTempView("static_kernel_in")
          check(c, spark.sql(
            s"SELECT id, $s AS out FROM static_kernel_in"), mode == "codegen")
        }
      }
    }
  }
}

object StaticKernelParitySpec {

  /** One converted function: input columns `a0..an` of `types`, one
    * input row per `inputs` entry (external values), the Column
    * function, its direct kernel over the catalyst values, and the
    * SQL form when a `graft_*` function exposes it. */
  final case class Case(name: String, types: Seq[DataType],
      inputs: Seq[Seq[Any]], fn: Seq[Column] => Column,
      kernel: Seq[Any] => Any, sql: Option[String] = None) {
    def args: Seq[Column] = types.indices.map(i => col(s"a$i"))
  }

  def frame(spark: SparkSession, c: Case): DataFrame = {
    val schema = StructType(StructField("id", IntegerType) +:
      c.types.zipWithIndex.map { case (t, i) => StructField(s"a$i", t) })
    val rows = c.inputs.zipWithIndex.map { case (in, id) => Row(id +: in: _*) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Deep-comparable form of a collected value. */
  def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.toSeq.map(norm)
    case other => other
  }

  private val Foreign = "not media at all, just text".getBytes("UTF-8")

  /** NULL, foreign, truncated and valid bytes into a one-blob kernel. */
  private def blob(name: String, valid: Array[Byte], f: Column => Column,
      k: Array[Byte] => Any, sql: String = null): Case =
    Case(name, Seq(BinaryType),
      Seq(null, Foreign, valid.take(valid.length / 2), valid).map(Seq(_)),
      cs => f(cs.head), in => k(in.head.asInstanceOf[Array[Byte]]),
      Option(sql))

  /** NULL and valid int tuples into a synthesizer. */
  private def ints(name: String, valid: Seq[Seq[Int]],
      f: Seq[Column] => Column, k: Seq[Int] => Any): Case =
    Case(name, valid.head.map(_ => IntegerType),
      Seq(valid.head.map(_ => null)) ++ valid, f,
      in => k(in.map(_.asInstanceOf[Int])))

  private val png = PixelDecode.pngCellBytes(3)
  private val gif = GifDecode.gifCellBytes(3)
  private val webp = WebpDecode.webpCellBytes(3)
  private val jpeg = ImageIoDecode.jpegCellBytes(3, 90)
  private val wav = PixelDecode.wavNoiseBytes(1, 8000, 600, 5)
  private val mp4 = Mp4Demux.mp4NoiseFramesBytes(12, 6, 65, 5)
  private val exif = ExifProbe.exifJpegBytes(6, 2, 30, 15)

  val cases: Seq[Case] = Seq(
    // ---- PixelDecode
    blob("pngStats", png, PixelDecode.pngStats, PixelDecode.pngPixelStats,
      "graft_png_stats(a0)"),
    blob("pngResizeStats", png, PixelDecode.pngResizeStats(_, 8, 5),
      PixelDecode.pngResizeNearestStats(_, 8, 5),
      "graft_png_resize_stats(a0, 8, 5)"),
    blob("wavStats", wav, PixelDecode.wavStats, PixelDecode.wavSampleStats,
      "graft_wav_stats(a0)"),
    blob("wavDecimate", wav, PixelDecode.wavDecimate(_, 3),
      PixelDecode.wavDecimateStats(_, 3), "graft_wav_decimate_stats(a0, 3)"),
    blob("pngDHash", png, PixelDecode.pngDHash, PixelDecode.pngDHash64),
    blob("imageDHashAny", gif, PixelDecode.imageDHashAny,
      PixelDecode.imageDHash64),
    blob("wavFingerprint", wav, PixelDecode.wavFingerprint,
      PixelDecode.wavFingerprint64),
    blob("wavResample", wav, PixelDecode.wavResample(_, 2),
      PixelDecode.wavResampleBytes(_, 2)),
    blob("wavFingerprintAt", wav, PixelDecode.wavFingerprintAt(_, 4000),
      PixelDecode.wavFingerprintAt64(_, 4000)),
    ints("synthPngPixels", Seq(Seq(9, 4, 7), Seq(3, 2, 1)),
      cs => PixelDecode.synthPngPixels(cs(0), cs(1), cs(2)),
      a => PixelDecode.pngPixelBytes(a(0), a(1), a(2))),
    ints("synthPngTexture", Seq(Seq(48, 32, 7), Seq(9, 8, 2)),
      cs => PixelDecode.synthPngTexture(cs(0), cs(1), cs(2)),
      a => PixelDecode.pngTextureBytes(a(0), a(1), a(2))),
    ints("synthPngCells", Seq(Seq(3), Seq(250)),
      cs => PixelDecode.synthPngCells(cs(0)),
      a => PixelDecode.pngCellBytes(a(0))),
    ints("synthWavNoise", Seq(Seq(1, 8000, 100, 5), Seq(2, 4000, 10, 9)),
      cs => PixelDecode.synthWavNoise(cs(0), cs(1), cs(2), cs(3)),
      a => PixelDecode.wavNoiseBytes(a(0), a(1), a(2), a(3))),
    ints("synthWavTone", Seq(Seq(1, 8000, 100, 5), Seq(2, 4000, 10, 9)),
      cs => PixelDecode.synthWavTone(cs(0), cs(1), cs(2), cs(3)),
      a => PixelDecode.wavToneBytes(a(0), a(1), a(2), a(3))),
    // ---- GifDecode
    blob("gifStats", gif, GifDecode.gifStats, GifDecode.gifPixelStats,
      "graft_gif_stats(a0)"),
    ints("synthGifPixels", Seq(Seq(9, 4, 7), Seq(3, 2, 1)),
      cs => GifDecode.synthGifPixels(cs(0), cs(1), cs(2)),
      a => GifDecode.gifPixelBytes(a(0), a(1), a(2))),
    ints("synthGifCells", Seq(Seq(3), Seq(250)),
      cs => GifDecode.synthGifCells(cs(0)), a => GifDecode.gifCellBytes(a(0))),
    // ---- WebpDecode
    blob("webpStats", webp, WebpDecode.webpStats, WebpDecode.webpPixelStats),
    blob("webpDHash", webp, WebpDecode.webpDHash, WebpDecode.webpDHash64),
    ints("synthWebpGray", Seq(Seq(20, 10, 5), Seq(3, 2, 250)),
      cs => WebpDecode.synthWebpGray(cs(0), cs(1), cs(2)),
      a => WebpDecode.webpGrayBytes(a(0), a(1), a(2))),
    ints("synthWebpCells", Seq(Seq(3), Seq(250)),
      cs => WebpDecode.synthWebpCells(cs(0)),
      a => WebpDecode.webpCellBytes(a(0))),
    // ---- ImageIoDecode
    blob("jpegStats", jpeg, ImageIoDecode.jpegStats,
      ImageIoDecode.jpegPixelStats, "graft_jpeg_stats(a0)"),
    ints("synthJpeg", Seq(Seq(16, 8, 90), Seq(9, 9, 50)),
      cs => ImageIoDecode.synthJpeg(cs(0), cs(1), cs(2)),
      a => ImageIoDecode.jpegBytes(a(0), a(1), a(2))),
    ints("synthJpegCells", Seq(Seq(3, 90), Seq(250, 50)),
      cs => ImageIoDecode.synthJpegCells(cs(0), cs(1)),
      a => ImageIoDecode.jpegCellBytes(a(0), a(1))),
    // ---- Mp4Demux
    Case("frameStats", Seq(BinaryType, IntegerType),
      Seq(Seq(null, 1), Seq(Foreign, 1), Seq(mp4.take(mp4.length / 2), 1),
        Seq(mp4, 2), Seq(mp4, null)),
      cs => Mp4Demux.frameStats(cs(0), cs(1)),
      in => Mp4Demux.mp4FrameStats(in(0).asInstanceOf[Array[Byte]],
        in(1).asInstanceOf[Int]),
      Some("graft_mp4_frame_stats(a0, a1)")),
    Case("sampleFrames", Seq(BinaryType, IntegerType),
      Seq(Seq(null, 1), Seq(Foreign, 1), Seq(mp4.take(mp4.length / 2), 1),
        Seq(mp4, 16), Seq(mp4, null)),
      cs => Mp4Demux.sampleFrames(cs(0), cs(1)),
      in => Mp4Demux.mp4SampleFrames(in(0).asInstanceOf[Array[Byte]],
        in(1).asInstanceOf[Int]),
      Some("graft_mp4_frames(a0, a1)")),
    blob("frameSums", mp4, Mp4Demux.frameSums, Mp4Demux.mp4FrameSums),
    blob("mp4Fingerprint", mp4, Mp4Demux.mp4Fingerprint,
      Mp4Demux.mp4Fingerprint64),
    ints("synthMp4Frames", Seq(Seq(4, 3, 2, 9), Seq(12, 6, 3, 1)),
      cs => Mp4Demux.synthMp4Frames(cs(0), cs(1), cs(2), cs(3)),
      a => Mp4Demux.mp4FramesBytes(a(0), a(1), a(2), a(3))),
    ints("synthMp4Noise", Seq(Seq(4, 3, 2, 9), Seq(12, 6, 3, 1)),
      cs => Mp4Demux.synthMp4Noise(cs(0), cs(1), cs(2), cs(3)),
      a => Mp4Demux.mp4NoiseFramesBytes(a(0), a(1), a(2), a(3))),
    // ---- MediaProbe
    blob("probeMedia", MediaProbe.pngBytes(9, 4), MediaProbe.probeMedia,
      MediaProbe.probe, "graft_probe_media(a0)"),
    blob("probeAudio", MediaProbe.wavBytes(2, 44100, 16, 100),
      MediaProbe.probeAudio, MediaProbe.probeWav, "graft_probe_wav(a0)"),
    blob("probeVideo", MediaProbe.mp4Bytes(64, 48, 5000),
      MediaProbe.probeVideo, MediaProbe.probeMp4, "graft_probe_mp4(a0)"),
    ints("synthPng", Seq(Seq(9, 4), Seq(1, 1)),
      cs => MediaProbe.synthPng(cs(0), cs(1)),
      a => MediaProbe.pngBytes(a(0), a(1))),
    ints("synthWav", Seq(Seq(2, 44100, 16, 100), Seq(1, 8000, 8, 10)),
      cs => MediaProbe.synthWav(cs(0), cs(1), cs(2), cs(3)),
      a => MediaProbe.wavBytes(a(0), a(1), a(2), a(3))),
    Case("synthMp4", Seq(IntegerType, IntegerType, LongType),
      Seq(Seq(null, null, null), Seq[Any](64, 48, 5000L), Seq[Any](8, 8, 1L)),
      cs => MediaProbe.synthMp4(cs(0), cs(1), cs(2)),
      in => MediaProbe.mp4Bytes(in(0).asInstanceOf[Int],
        in(1).asInstanceOf[Int], in(2).asInstanceOf[Long])),
    // ---- ExifProbe
    blob("exifMeta", exif, ExifProbe.exifMeta, ExifProbe.parseExif),
    ints("synthExifJpeg", Seq(Seq(6, 2, 30, 15), Seq(1, 0, 0, 0)),
      cs => ExifProbe.synthExifJpeg(cs(0), cs(1), cs(2), cs(3)),
      a => ExifProbe.exifJpegBytes(a(0), a(1), a(2), a(3))),
    // ---- sketches
    Case("simhash64", Seq(ArrayType(LongType)),
      Seq(Seq(null), Seq(Seq.empty[Long]), Seq(Seq(1L, 2L, 3L, 4L))),
      cs => Expressions.simhash64(cs.head),
      in => SketchOps.simhash64(in.head.asInstanceOf[GenericArrayData]),
      Some("graft_simhash64(a0)")),
    Case("ngramHashes", Seq(ArrayType(LongType)),
      Seq(Seq(null), Seq(Seq(7L)), Seq(Seq(1L, 2L, 1L, 2L, 1L))),
      cs => Expressions.ngramHashes(cs.head, 2),
      in => SketchOps.ngramHashes(in.head.asInstanceOf[GenericArrayData], 2,
        true),
      Some("graft_ngram_hashes(a0, 2)")),
    Case("ngramHashesAll", Seq(ArrayType(LongType)),
      Seq(Seq(null), Seq(Seq(7L)), Seq(Seq(1L, 2L, 1L, 2L, 1L))),
      cs => Expressions.ngramHashesAll(cs.head, 2),
      in => SketchOps.ngramHashes(in.head.asInstanceOf[GenericArrayData], 2,
        false)),
    blob("winnowFingerprint", "the quick brown fox jumps".getBytes("UTF-8"),
      Expressions.winnowFingerprint(_, 3, 2),
      SketchOps.winnow(_, 3, 2, 257L * 257L), "graft_winnow(a0, 3, 2)"),
    Case("normalizeNfc", Seq(StringType),
      Seq(Seq(null), Seq(""), Seq("café au lait")),
      cs => Expressions.normalizeNfc(cs.head),
      in => SketchOps.normalizeNfc(in.head.asInstanceOf[UTF8String]),
      Some("graft_nfc(a0)")),
    Case("stripAccents", Seq(StringType),
      Seq(Seq(null), Seq(""), Seq("cafe\u0301 au lait")),
      cs => Expressions.stripAccents(cs.head),
      in => SketchOps.stripAccents(in.head.asInstanceOf[UTF8String])))
}
