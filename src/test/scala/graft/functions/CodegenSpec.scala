package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Codegen conformance for the sketch expressions: none of them may be
  * CodegenFallback (which would bounce rows through interpreted eval
  * mid-stage on the dedup/ANN scan path), and the generated code must
  * actually COMPILE — fallback-on-compile-error is disabled here so a
  * broken doGenCode fails the suite instead of silently degrading. */
class CodegenSpec extends SparkSpec {
  import spark.implicits._

  test("sketch expressions declare doGenCode, not CodegenFallback") {
    // every node of the analyzed plans of projections over each custom
    // sketch expression and each StaticInvoke-backed function
    val vecs = Seq((Seq(1L, 2L), Seq(0.6f, 0.8f), Array[Byte](0), Seq(0.0)))
      .toDF("hs", "vec", "codes", "lut")
    val book = Array(Array(Array(0.0, 0.0)))
    val custom = vecs.select(
      Expressions.minhashSignature(col("hs"), 4),
      Expressions.cosineSim(col("vec"), col("vec")),
      Expressions.nearestCentroids(col("vec"), Array(Array(0.0, 1.0)), 1),
      Expressions.maxCosineAgainst(col("vec"), Array(7L), Array(Array(1.0, 0.0))),
      Expressions.pqEncode(col("vec"), book),
      Expressions.pqLut(col("vec"), book),
      Expressions.pqAdc(col("codes"), col("lut"), 1),
      Expressions.hyperplaneBucket(col("vec"), Array(Array(1.0, 0.0))),
      Expressions.hyperplaneRanked(col("vec"), Array(Array(1.0, 0.0))),
      Expressions.dotProduct(col("vec"), col("vec")),
      Expressions.quantizeInt8(col("vec")))
    val converted = graft.StaticKernelParitySpec.cases.map(c =>
      graft.StaticKernelParitySpec.frame(spark, c).select(c.fn(c.args)))
    (custom +: converted).foreach { df =>
      val fallbacks = df.queryExecution.analyzed.flatMap(_.expressions)
        .flatMap(_.collect { case f: CodegenFallback => f.nodeName })
      assert(fallbacks.isEmpty,
        s"${fallbacks.mkString(", ")} still fall back to interpreted eval")
    }
  }

  test("generated code compiles and matches the interpreted kernels") {
    val prevFallback = spark.conf.getOption("spark.sql.codegen.fallback")
    val prevMode = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      import graft.ext.{Mp4Demux, PixelDecode}
      val png = PixelDecode.pngCellBytes(3)
      val mp4 = Mp4Demux.mp4FramesBytes(4, 3, 2, 9)
      val local = Seq(
        (Seq(1L, 2L, 3L, 4L), Seq(0.1f, 0.2f, 0.3f), "café au lait", png, mp4))
        .toDF("hashes", "vec", "text", "png", "mp4")
      // RDD-backed: a local relation's projection is folded on the
      // driver by interpreted eval and never reaches codegen
      val df = spark.createDataFrame(local.rdd, local.schema)
      val projected = df.select(
        Expressions.simhash64(col("hashes")).as("sh"),
        Expressions.minhashSignature(col("hashes"), 8).as("mh"),
        Expressions.ngramHashes(col("hashes"), 2).as("ng"),
        Expressions.winnowFingerprint(
          encode(col("text"), "UTF-8"), 3, 2).as("wf"),
        Expressions.normalizeNfc(col("text")).as("nfc"),
        Expressions.cosineSim(col("vec"), col("vec")).as("cos"),
        PixelDecode.pngDHash(col("png")).as("dh"),
        PixelDecode.pngStats(col("png")).getField("n_samples").as("ns"),
        Mp4Demux.frameStats(col("mp4"), lit(1)).getField("sum_val").as("fs"))
      val plan = projected.queryExecution.executedPlan.toString
      assert(plan.contains("*(1)"), s"no codegen span in:\n$plan")
      val got = projected.collect().head

      import org.apache.spark.sql.catalyst.util.GenericArrayData
      val hashes = new GenericArrayData(Array(1L, 2L, 3L, 4L))
      assert(got.getAs[Long]("sh") === SketchOps.simhash64(hashes))
      val as = Array.tabulate(8)(p => SketchOps.splitmix64(2L * p) | 1L)
      val bs = Array.tabulate(8)(p => SketchOps.splitmix64(2L * p + 1L))
      assert(got.getAs[scala.collection.Seq[Long]]("mh").toSeq ===
        SketchOps.minhashSig(hashes, as, bs).toLongArray().toSeq)
      assert(got.getAs[scala.collection.Seq[Long]]("ng").toSeq ===
        SketchOps.ngramHashes(hashes, 2, true).toLongArray().toSeq)
      assert(got.getAs[String]("nfc") === "café au lait")
      assert(math.abs(got.getAs[Double]("cos") - 1.0) < 1e-12)
      assert(got.getAs[scala.collection.Seq[Long]]("wf").nonEmpty)
      assert(got.getAs[Long]("dh") === PixelDecode.pngDHash64(png).longValue)
      assert(got.getAs[Long]("ns") === PixelDecode.pngPixelStats(png).getLong(3))
      assert(got.getAs[Long]("fs") === Mp4Demux.mp4FrameStats(mp4, 1).getLong(5))
    } finally {
      def restore(key: String, prev: Option[String]): Unit = prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      restore("spark.sql.codegen.fallback", prevFallback)
      restore("spark.sql.codegen.factoryMode", prevMode)
    }
  }

  test("codec expressions (Avro, proto, probe) compile under forced codegen") {
    import graft.schema.{AvroBackend, ProtoBackend, ProtoWire}
    val prevFallback = spark.conf.getOption("spark.sql.codegen.fallback")
    val prevMode = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val avro = new AvroBackend(
        """{"type":"record","name":"C","fields":[
          | {"name":"a","type":"long"},{"name":"s","type":"string"}]}"""
          .stripMargin)
      val proto = new ProtoBackend(ProtoWire.ProtoMessage("C", Seq(
        ProtoWire.ProtoField("a", 1, ProtoWire.PInt64),
        ProtoWire.ProtoField("s", 2, ProtoWire.PString))))
      val local = Seq((7L, "x", 9, 4), (8L, "y", 9, 4)).toDF("a", "s", "w", "h")
      // RDD-backed, as above: a local relation never reaches codegen
      val df = spark.createDataFrame(local.rdd, local.schema)
      val projected = df.select(
        avro.decodeExpr(avro.encodeExpr(struct(col("a"), col("s"))))
          .as("av"),
        proto.decodeExpr(proto.encodeExpr(struct(col("a"), col("s"))))
          .as("pr"),
        graft.ext.MediaProbe.probeMedia(
          graft.ext.MediaProbe.synthPng(col("w"), col("h"))).as("m"))
        .select(col("av.a").as("aa"), col("pr.s").as("ps"),
          col("m.width").as("w"))
      val plan = projected.queryExecution.executedPlan.toString
      assert(plan.contains("*(1)"), s"no codegen span in:\n$plan")
      val round = projected.as[(Long, String, Long)].collect().toSet
      assert(round === Set((7L, "x", 9L), (8L, "y", 9L)))
    } finally {
      def restore(key: String, prev: Option[String]): Unit = prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      restore("spark.sql.codegen.fallback", prevFallback)
      restore("spark.sql.codegen.factoryMode", prevMode)
    }
  }

  test("whole-stage codegen span covers a sketch-heavy projection") {
    val df = spark.range(100)
      .select(array(col("id"), col("id") + 1, col("id") * 7).as("hs"))
      .select(Expressions.simhash64(col("hs")).as("sh"),
        Expressions.minhashSignature(col("hs"), 16).as("mh"))
    val plan = df.queryExecution.executedPlan.toString
    // the '*' prefix marks operators inside a WholeStageCodegen span
    assert(plan.contains("*(1)"), s"no codegen span in:\n$plan")
    assert(df.count() === 100)
  }
  test("cosine fails loudly on dimension mismatch (prefix compare is silent corruption)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(Expressions.cosineSim(col("a"), col("b"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("dimension mismatch")), e.toString)
  }

  test("pqAdc fails loudly when codes x ksub exceeds the LUT") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((Array[Byte](0, 1), Seq(0.0, 1.0))).toDF("c", "l")
    val e = intercept[Exception] {
      df.select(Expressions.pqAdc(col("c"), col("l"), ksub = 4)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("codebook/ksub mismatch")), e.toString)
  }

  test("pqAdc fails loudly on a code byte >= ksub (row check alone misses it)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 1 code x ksub=4 over an 8-entry LUT passes the row-level size
    // check, but code 5 >= ksub would read LUT slot 5 of the WRONG
    // subvector (or past numElements in the last one) — silently
    val df = Seq((Array[Byte](5), Seq(0.0, 1.0, 2.0, 3.0, 40.0, 50.0, 60.0,
      70.0))).toDF("c", "l")
    val e = intercept[Exception] {
      df.select(Expressions.pqAdc(col("c"), col("l"), ksub = 4)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("corrupt code or codebook mismatch")),
      e.toString)
  }
}
