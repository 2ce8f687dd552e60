package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-17 optimization guard: `dot` and `quantizeInt8` were
  * rewritten from HOF formulations to one-loop codegen expressions.
  * quantizeInt8's HOF lambda referenced the per-vector scale
  * (`array_max(transform(abs))`) INSIDE the per-element lambda — a
  * CSE-exempt subtree re-evaluated per element (dim² interpreted work
  * per row). This spec pins both rewrites to the retained HOF
  * siblings on adversarial vectors, nan-safe (`<=>`) so NaN fields
  * compare equal:
  *  - dot: null vector / length mismatch / null element → NULL
  *    (zip_with null-pads, `acc + null` sticks); accumulation order
  *    ascending in double;
  *  - quantizeInt8: null input → NON-null struct of (null, null);
  *    zero scale → the constant-0 lambda maps even null ELEMENTS to
  *    0; null scale (all-null/empty) nulls every quantized element;
  *    NaN is array_max-greatest and rounds through to int-cast 0;
  *    ±Infinity saturates the int cast; round is Spark's HALF_UP
  *    (-2.5 → -3, unlike Math.round). */
class VectorExprEquivSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.{VectorFunctions => V}

  private def vecs = Seq(
    (0L, Array(1.0f, 2.0f, -3.0f, 0.5f)),
    (1L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(-1.0f, -2.5f, 63.5f, -63.5f)),   // exact .5 rounds HALF_UP
    (3L, Array(Float.NaN, 1.0f, 2.0f, 3.0f)),
    (4L, Array(Float.PositiveInfinity, 1.0f, 1.0f, 1.0f)),
    (5L, Array(Float.NegativeInfinity, 2.0f, 2.0f, 2.0f)),
    (6L, Array(1.0f, 2.0f)),                    // short
    (7L, Array.empty[Float]),
    (8L, null.asInstanceOf[Array[Float]]),
    (9L, Array(-0.0f, -0.0f, -0.0f, -0.0f)),
    (10L, Array(1e-30f, -1e30f, 1e30f, 5e-1f))
  )

  test("codegen dot ≡ HOF dot, incl. null/length edges") {
    val df = vecs.toDF("id", "a").crossJoin(
      vecs.toDF("id2", "b").select(col("id2"), col("b")))
    val bad = df.select(
        (V.dot(col("a"), col("b")) <=> V.dotHof(col("a"), col("b")))
          .as("eq"))
      .filter(!col("eq")).count()
    assert(bad === 0L)
  }

  test("dot: null elements inside the arrays poison to NULL both ways") {
    val df = Seq(
      (0L, Array[java.lang.Float](1.0f, null, 3.0f, 4.0f),
        Array[java.lang.Float](1.0f, 2.0f, 3.0f, 4.0f)),
      (1L, Array[java.lang.Float](1.0f, 2.0f, 3.0f, 4.0f),
        Array[java.lang.Float](1.0f, 2.0f, null, 4.0f)),
      (2L, Array[java.lang.Float](1.0f, 2.0f, 3.0f, 4.0f),
        Array[java.lang.Float](5.0f, 6.0f, 7.0f, 8.0f))
    ).toDF("id", "a", "b")
    val rows = df.select(col("id"),
        V.dot(col("a"), col("b")).isNull.as("nn"),
        (V.dot(col("a"), col("b")) <=> V.dotHof(col("a"), col("b"))).as("eq"))
      .as[(Long, Boolean, Boolean)].collect().sortBy(_._1)
    assert(rows.map(_._2).toSeq === Seq(true, true, false))
    assert(rows.forall(_._3))
  }

  test("codegen quantizeInt8 ≡ HOF (struct, q array, scale)") {
    // NaN/Inf vectors excluded here — under the engine's ANSI-on
    // sessions BOTH forms throw on them (next test)
    val df = vecs.filter(v => v._1 != 3L && v._1 != 4L && v._1 != 5L)
      .toDF("id", "v")
    val rows = df.select(col("id"),
        (V.quantizeInt8(col("v")) <=> V.quantizeInt8Hof(col("v"))).as("eq"),
        V.quantizeInt8(col("v")).isNull.as("sn"))
      .as[(Long, Boolean, Boolean)].collect()
    rows.foreach { case (id, eq, sn) =>
      assert(eq, s"vector $id: quantization diverged")
      assert(!sn, s"vector $id: struct must be non-null")
    }
  }

  test("quantizeInt8 NaN/Infinity: both forms throw the ANSI cast overflow") {
    for (bad <- Seq(Array(Float.NaN, 1.0f), Array(Float.PositiveInfinity, 1.0f))) {
      val df = Seq((0L, bad)).toDF("id", "v")
      val eNew = intercept[Exception] {
        df.select(V.quantizeInt8(col("v"))).collect() }
      val eOld = intercept[Exception] {
        df.select(V.quantizeInt8Hof(col("v"))).collect() }
      assert(eNew.getMessage.contains("CAST_OVERFLOW") ||
        eNew.getCause != null &&
          eNew.getCause.getMessage.contains("CAST_OVERFLOW"),
        s"new form: ${eNew.getMessage}")
      assert(eOld.getMessage.contains("CAST_OVERFLOW") ||
        eOld.getCause != null &&
          eOld.getCause.getMessage.contains("CAST_OVERFLOW"),
        s"old form: ${eOld.getMessage}")
    }
  }

  test("quantizeInt8 NaN/Infinity: the ANSI mode is fixed when the expression is built") {
    val key = "spark.sql.ansi.enabled"
    val prior = spark.conf.get(key)
    val df = Seq((0L, Array(Float.NaN, 1.0f)),
      (1L, Array(Float.PositiveInfinity, 1.0f))).toDF("id", "v")
    try {
      // built in a legacy session, run in an ANSI one: clamps (NaN → 0)
      spark.conf.set(key, "false")
      val legacy = V.quantizeInt8(col("v")).getField("q")
      spark.conf.set(key, "true")
      assert(df.select(legacy).as[Seq[Int]].collect().toSeq ===
        Seq(Seq(0, 0), Seq(0, 0)))
      // built in an ANSI session, run in a legacy one: still throws
      val ansi = V.quantizeInt8(col("v"))
      spark.conf.set(key, "false")
      val e = intercept[Exception] { df.select(ansi).collect() }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.contains("CAST_OVERFLOW")), e.getMessage)
    } finally spark.conf.set(key, prior)
  }

  test("quantizeInt8: null elements — zero branch maps them to 0, " +
      "otherwise branch keeps them null") {
    val df = Seq(
      (0L, Array[java.lang.Float](null, 0.0f, -0.0f)),   // scale 0.0
      (1L, Array[java.lang.Float](null, 2.0f, -1.0f)),   // scale 2.0
      (2L, Array[java.lang.Float](null, null, null)),    // scale null
      (3L, Array.empty[java.lang.Float])
    ).toDF("id", "v")
    val rows = df.select(col("id"),
        (V.quantizeInt8(col("v")) <=> V.quantizeInt8Hof(col("v"))).as("eq"))
      .as[(Long, Boolean)].collect()
    rows.foreach { case (id, eq) => assert(eq, s"vector $id diverged") }
    // and pin the documented shapes directly
    val got = df.select(col("id"),
        V.quantizeInt8(col("v")).getField("q").as("q"),
        V.quantizeInt8(col("v")).getField("scale").as("s"))
      .as[(Long, Seq[Option[Int]], Option[Double])].collect().sortBy(_._1)
    assert(got(0)._2 === Seq(Some(0), Some(0), Some(0)) &&
      got(0)._3 === Some(0.0))
    assert(got(1)._2 === Seq(None, Some(127), Some(-64)) &&
      got(1)._3 === Some(2.0))
    assert(got(2)._2 === Seq(None, None, None) && got(2)._3 === None)
    assert(got(3)._2 === Seq.empty && got(3)._3 === None)
  }

  test("random float vectors: dot, l2Norm, quantize bit-identical") {
    val rnd = new scala.util.Random(2626)
    val data = (0L until 300L).map { i =>
      (i, Array.fill(16)((rnd.nextFloat() - 0.5f) * 200f),
        Array.fill(16)((rnd.nextFloat() - 0.5f) * 200f))
    }
    val df = data.toDF("id", "a", "b")
    val bad = df.select(
        ((V.dot(col("a"), col("b")) <=> V.dotHof(col("a"), col("b"))) &&
          (V.quantizeInt8(col("a")) <=> V.quantizeInt8Hof(col("a"))) &&
          (V.quantizeInt8(col("b")) <=> V.quantizeInt8Hof(col("b"))))
          .as("eq"))
      .filter(!col("eq")).count()
    assert(bad === 0L)
  }
}
