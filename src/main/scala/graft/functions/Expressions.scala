package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, EvalMode, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the sketch hot paths.
  *
  * The HOF formulations (transform/filter/aggregate) are semantically
  * fine but evaluate one lambda call per element per pass — a 64-bit
  * SimHash is 64 interpreted passes per row. These expressions do the
  * same work in one tight JVM loop per row ([[SketchOps]]), the
  * preference order of SURVEY.md §7.3 ((b): custom Expression before
  * mapPartitions).
  *
  * Every expression implements `doGenCode` by emitting a call to its
  * static [[SketchOps]] kernel — the per-row loop runs as compiled
  * bytecode AND the enclosing operator pipeline stays inside one
  * WholeStageCodegen span (a CodegenFallback here would split the
  * stage and bounce rows through InternalRow on the dedup/ANN scan
  * path). Interpreted eval calls the identical kernel, so the two
  * paths cannot diverge.
  */
object Expressions {

  private def col(e: Expression): Column = GraftSqlBridge.column(e)
  private def ex(c: Column): Expression = GraftSqlBridge.expression(c)

  private[functions] def splitmix64(seed: Long): Long =
    SketchOps.splitmix64(seed)

  private val Ops = "graft.functions.SketchOps"

  /** 64-bit SimHash over an array<bigint> of token hashes. */
  case class SimHash64Expr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      SketchOps.simhash64(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $Ops.simhash64($c);")
    override protected def withNewChildInternal(c: Expression): SimHash64Expr =
      copy(c)
  }

  /** k-permutation MinHash over an array<bigint> of element hashes.
    * Permutation p is the affine map a_p·h + b_p (a_p odd, from
    * splitmix64) — the standard one-hash-then-k-affine scheme; one pass
    * over the array for all k mins. */
  case class MinHashSigExpr(child: Expression, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    private lazy val as: Array[Long] =
      Array.tabulate(k)(p => SketchOps.splitmix64(2L * p) | 1L)
    private lazy val bs: Array[Long] =
      Array.tabulate(k)(p => SketchOps.splitmix64(2L * p + 1L))
    override def nullSafeEval(input: Any): Any =
      SketchOps.minhashSig(input.asInstanceOf[ArrayData], as, bs)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val asRef = ctx.addReferenceObj("minhashAs", as, "long[]")
      val bsRef = ctx.addReferenceObj("minhashBs", bs, "long[]")
      nullSafeCodeGen(ctx, ev,
        c => s"${ev.value} = $Ops.minhashSig($c, $asRef, $bsRef);")
    }
    override protected def withNewChildInternal(c: Expression): MinHashSigExpr =
      copy(child = c)
  }

  /** Distinct hashes of the n-gram windows of a pre-hashed token array:
    * gram i is a polynomial mix of hashes i..i+n-1. One pass; output
    * order = first occurrence. Set arithmetic over these (Jaccard,
    * MinHash) is equivalent to string shingles up to 64-bit collisions.
    */
  case class NGramHashesExpr(child: Expression, n: Int,
      dedupe: Boolean = true)
      extends UnaryExpression {
    require(n >= 1)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      SketchOps.ngramHashes(input.asInstanceOf[ArrayData], n, dedupe)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev,
        c => s"${ev.value} = $Ops.ngramHashes($c, $n, $dedupe);")
    override protected def withNewChildInternal(c: Expression): NGramHashesExpr =
      copy(child = c)
  }

  /** Winnowing document fingerprint (Schleimer/Wilkerson/Aiken):
    * Rabin-Karp rolling hash over the byte stream with window `w`;
    * from each window of `w` consecutive k-gram hashes keep the
    * minimum (rightmost on ties) — the classic plagiarism-detection
    * fingerprint set, robust to insertions. Output: distinct selected
    * hashes, first-occurrence order. One pass.
    */
  case class WinnowFingerprintExpr(child: Expression, k: Int, w: Int)
      extends UnaryExpression {
    require(k >= 1 && w >= 1)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    private val Base = 257L
    @transient private lazy val basePowK1: Long = {
      var p = 1L
      var i = 0
      while (i < k - 1) { p *= Base; i += 1 }
      p
    }
    override def nullSafeEval(input: Any): Any =
      SketchOps.winnow(input.asInstanceOf[Array[Byte]], k, w, basePowK1)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev,
        c => s"${ev.value} = $Ops.winnow($c, $k, $w, ${basePowK1}L);")
    override protected def withNewChildInternal(c: Expression): WinnowFingerprintExpr =
      copy(child = c)
  }

  /** Unicode NFC normalization (java.text.Normalizer) — canonical
    * composition so visually-identical strings dedup/fingerprint
    * identically. Not exposed by Spark SQL builtins. */
  case class StripAccentsExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullSafeEval(input: Any): Any =
      SketchOps.stripAccents(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $Ops.stripAccents($c);")
    override protected def withNewChildInternal(c: Expression): StripAccentsExpr =
      copy(child = c)
  }

  case class NormalizeNfcExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullSafeEval(input: Any): Any =
      SketchOps.normalizeNfc(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $Ops.normalizeNfc($c);")
    override protected def withNewChildInternal(c: Expression): NormalizeNfcExpr =
      copy(child = c)
  }

  /** Cosine similarity of two numeric arrays (float or double
    * elements), accumulated in double in one pass; 0.0 for zero-norm
    * inputs. */
  case class CosineSimExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    private def codeOf(e: Expression): Int =
      e.dataType.asInstanceOf[ArrayType].elementType match {
        case FloatType => SketchOps.ElemFloat
        case DoubleType => SketchOps.ElemDouble
        case LongType => SketchOps.ElemLong
        case IntegerType => SketchOps.ElemInt
        case other => throw new IllegalArgumentException(
          s"cosine over unsupported element type $other")
      }
    override def nullSafeEval(l: Any, r: Any): Any =
      SketchOps.cosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
        codeOf(left), codeOf(right))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val (lc, rc) = (codeOf(left), codeOf(right))
      nullSafeCodeGen(ctx, ev,
        (l, r) => s"${ev.value} = $Ops.cosine($l, $r, $lc, $rc);")
    }
    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): CosineSimExpr = copy(l, r)
  }

  /** nProbe nearest centroids (ascending L2, ties → lower index) for a
    * float/double vector. The centroid table rides along as a codegen
    * REFERENCE OBJECT, not a literal tree — at k=8/dim=64 literals are
    * tolerable, at k=4096 they'd bloat the plan and janino; one shared
    * array keeps the expression O(1) in plan size regardless of k. */
  case class NearestCentroidsExpr(child: Expression,
      centroids: Array[Array[Double]], nProbe: Int)
      extends UnaryExpression {
    require(centroids.nonEmpty && nProbe >= 1 && nProbe <= centroids.length,
      s"nProbe=$nProbe out of range 1..${centroids.length}")
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    @transient private lazy val isFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    def nearest(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val k = centroids.length
      val dim = centroids(0).length
      val d2 = new Array[Double](k)
      var c = 0
      while (c < k) {
        val cent = centroids(c)
        var s = 0.0
        var i = 0
        while (i < dim) {
          val x = (if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)) -
            cent(i)
          s += x * x
          i += 1
        }
        d2(c) = s
        c += 1
      }
      // nProbe-wise selection; strict < keeps the lowest index on ties.
      // best==-1 guard: a NaN component makes every d2 NaN, for which
      // every < is false — fall back to the first unused index
      // (deterministic bucket for corrupt vectors) instead of crashing
      // the stage with used(-1)
      val out = new Array[Int](nProbe)
      val used = new Array[Boolean](k)
      var p = 0
      while (p < nProbe) {
        var best = -1
        var bestD = Double.MaxValue
        var c2 = 0
        while (c2 < k) {
          if (!used(c2) && (best == -1 || d2(c2) < bestD)) {
            bestD = d2(c2); best = c2
          }
          c2 += 1
        }
        used(best) = true
        out(p) = best
        p += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override def nullSafeEval(input: Any): Any = nearest(input)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("nearestCentroids", this, getClass.getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nearest($c);")
    }
    override protected def withNewChildInternal(c: Expression): NearestCentroidsExpr =
      copy(child = c)
  }

  def nearestCentroids(vec: Column, centroids: Array[Array[Double]],
      nProbe: Int): Column =
    col(NearestCentroidsExpr(ex(vec), centroids, nProbe))

  /** Argmax cosine against a bounded reference matrix: for each input
    * vector, the id of the reference vector with the highest cosine
    * (lowest id on exact ties — references are scanned in the id
    * order the caller sorted them into) and that cosine. One tight
    * loop per row over a SINGLE codegen reference object (the
    * [[NearestCentroidsExpr]] pattern): zero shuffle, zero extra
    * rows, plan size O(1) in the reference count. Reference norms are
    * precomputed once per executor. */
  case class MaxCosineExpr(child: Expression, refIds: Array[Long],
      refVecs: Array[Array[Double]]) extends UnaryExpression {
    require(refIds.nonEmpty && refIds.length == refVecs.length,
      s"ids/vecs mismatch: ${refIds.length} vs ${refVecs.length}")
    override def dataType: DataType = new StructType()
      .add("best_id", LongType, nullable = false)
      .add("cos", DoubleType, nullable = false)
    @transient private lazy val isFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    @transient private lazy val refNorms: Array[Double] =
      refVecs.map(v => math.sqrt(v.map(x => x * x).sum))

    def maxCos(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val dim = refVecs(0).length
      val x = new Array[Double](dim)
      var i = 0
      var nx = 0.0
      while (i < dim) {
        val xi = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        x(i) = xi
        nx += xi * xi
        i += 1
      }
      nx = math.sqrt(nx)
      var best = 0
      var bestCos = Double.NegativeInfinity
      var r = 0
      while (r < refVecs.length) {
        val rv = refVecs(r)
        var dot = 0.0
        var j = 0
        while (j < dim) { dot += x(j) * rv(j); j += 1 }
        val denom = nx * refNorms(r)
        val cos = if (denom == 0.0) 0.0 else dot / denom
        if (cos > bestCos) { bestCos = cos; best = r }
        r += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](refIds(best), bestCos))
    }

    override def nullSafeEval(input: Any): Any = maxCos(input)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("maxCosine", this, getClass.getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.maxCos($c);")
    }
    override protected def withNewChildInternal(c: Expression): MaxCosineExpr =
      copy(child = c)
  }

  def maxCosineAgainst(vec: Column, refIds: Array[Long],
      refVecs: Array[Array[Double]]): Column =
    col(MaxCosineExpr(ex(vec), refIds, refVecs))

  /** Product-quantization encode: the vector's m subspace slices each
    * mapped to their nearest codebook centroid (L2, lowest index on
    * exact ties), packed as one byte per subspace → a BinaryType code
    * 16-64× smaller than the raw floats. The codebook
    * (codebook(s)(c)(j): subspace s, centroid c, dim j) rides as one
    * codegen reference object. */
  case class PqEncodeExpr(child: Expression,
      codebook: Array[Array[Array[Double]]]) extends UnaryExpression {
    require(codebook.nonEmpty && codebook(0).nonEmpty &&
      codebook(0).length <= 256,
      s"codebook must have 1..256 centroids per subspace")
    override def dataType: DataType = BinaryType
    @transient private lazy val isFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    def encode(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val m = codebook.length
      val dsub = codebook(0)(0).length
      val out = new Array[Byte](m)
      var s = 0
      while (s < m) {
        val cents = codebook(s)
        val base = s * dsub
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          val cent = cents(c)
          var d = 0.0
          var j = 0
          while (j < dsub) {
            val x = (if (isFloat) v.getFloat(base + j).toDouble
              else v.getDouble(base + j)) - cent(j)
            d += x * x
            j += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        out(s) = best.toByte
        s += 1
      }
      out
    }

    override def nullSafeEval(input: Any): Any = encode(input)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqEncode", this, getClass.getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = (byte[]) $ref.encode($c);")
    }
    override protected def withNewChildInternal(c: Expression): PqEncodeExpr =
      copy(child = c)
  }

  /** Asymmetric-distance lookup table for one QUERY vector: the
    * squared L2 distance from each subspace slice to every centroid,
    * flattened as lut(s*ksub + c). Computed once per query row;
    * scoring a coded corpus vector is then m array lookups. */
  case class PqLutExpr(child: Expression,
      codebook: Array[Array[Array[Double]]]) extends UnaryExpression {
    override def dataType: DataType =
      ArrayType(DoubleType, containsNull = false)
    @transient private lazy val isFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    def lut(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val m = codebook.length
      val ksub = codebook(0).length
      val dsub = codebook(0)(0).length
      val out = new Array[Double](m * ksub)
      var s = 0
      while (s < m) {
        val cents = codebook(s)
        val base = s * dsub
        var c = 0
        while (c < ksub) {
          val cent = cents(c)
          var d = 0.0
          var j = 0
          while (j < dsub) {
            val x = (if (isFloat) v.getFloat(base + j).toDouble
              else v.getDouble(base + j)) - cent(j)
            d += x * x
            j += 1
          }
          out(s * ksub + c) = d
          c += 1
        }
        s += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override def nullSafeEval(input: Any): Any = lut(input)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqLut", this, getClass.getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.lut($c);")
    }
    override protected def withNewChildInternal(c: Expression): PqLutExpr =
      copy(child = c)
  }

  /** ADC score: approximate squared L2 between a query (via its LUT)
    * and a PQ-coded corpus vector — m lookups, no float math on the
    * corpus side at all. */
  case class PqAdcExpr(codes: Expression, lutExpr: Expression, ksub: Int)
      extends BinaryExpression {
    override def left: Expression = codes
    override def right: Expression = lutExpr
    override def dataType: DataType = DoubleType

    def adc(codesAny: Any, lutAny: Any): Double = {
      val cs = codesAny.asInstanceOf[Array[Byte]]
      val lut = lutAny.asInstanceOf[ArrayData]
      // bounds check once per row: an UnsafeArrayData getDouble past
      // numElements reads raw memory SILENTLY — a mismatched ksub or a
      // truncated code would score garbage, not crash (round-15 review)
      if (cs.length.toLong * ksub > lut.numElements())
        throw new IllegalArgumentException(
          s"pqAdc: ${cs.length} codes x ksub=$ksub exceeds LUT of " +
            s"${lut.numElements()} entries — codebook/ksub mismatch")
      var s = 0
      var d = 0.0
      while (s < cs.length) {
        val code = cs(s) & 0xff
        // per-code check: with ksub < 256 a corrupt code in the LAST
        // subvector passes the row-level size check above yet still
        // indexes past numElements — the same silent raw-memory read
        if (code >= ksub)
          throw new IllegalArgumentException(
            s"pqAdc: code $code at subvector $s >= ksub=$ksub — " +
              "corrupt code or codebook mismatch")
        d += lut.getDouble(s * ksub + code)
        s += 1
      }
      d
    }

    override def nullSafeEval(l: Any, r: Any): Any = adc(l, r)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqAdc", this, getClass.getName)
      nullSafeCodeGen(ctx, ev, (c, l) => s"${ev.value} = $ref.adc($c, $l);")
    }
    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): PqAdcExpr = copy(codes = l, lutExpr = r)
  }

  def pqEncode(vec: Column, codebook: Array[Array[Array[Double]]]): Column =
    col(PqEncodeExpr(ex(vec), codebook))

  def pqLut(vec: Column, codebook: Array[Array[Array[Double]]]): Column =
    col(PqLutExpr(ex(vec), codebook))

  def pqAdc(codes: Column, lut: Column, ksub: Int): Column =
    col(PqAdcExpr(ex(codes), ex(lut), ksub))

  def simhash64(tokenHashes: Column): Column =
    col(SimHash64Expr(ex(tokenHashes)))

  def minhashSignature(tokenHashes: Column, k: Int): Column =
    col(MinHashSigExpr(ex(tokenHashes), k))

  def ngramHashes(tokenHashes: Column, n: Int): Column =
    col(NGramHashesExpr(ex(tokenHashes), n))

  def ngramHashesAll(tokenHashes: Column, n: Int): Column =
    col(NGramHashesExpr(ex(tokenHashes), n, dedupe = false))

  def winnowFingerprint(bytes: Column, k: Int = 5, w: Int = 4): Column =
    col(WinnowFingerprintExpr(ex(bytes), k, w))

  def normalizeNfc(text: Column): Column = col(NormalizeNfcExpr(ex(text)))

  def stripAccents(text: Column): Column = col(StripAccentsExpr(ex(text)))

  def cosineSim(a: Column, b: Column): Column =
    col(CosineSimExpr(ex(a), ex(b)))

  /** Shared kernel for the two hyperplane-LSH expressions below: the
    * per-plane signed projections of a float/double vector against a
    * precomputed plane matrix, replicating the HOF formulation's exact
    * semantics (VectorFunctions.projection — aggregate over zip_with):
    *  - terms x_d·p_jd accumulate in DOUBLE, ascending d (same IEEE
    *    addend order);
    *  - a NULL input vector, a length ≠ dim, or any NULL element
    *    poisons EVERY projection to null (zip_with null-pads the short
    *    side and `acc + null` sticks), NOT just the affected plane.
    * Returns null for the all-degenerate case, else one double per
    * plane. */
  private def hyperplaneProjections(input: Any,
      planes: Array[Array[Double]], isFloat: Boolean): Array[Double] = {
    if (input == null) return null
    val v = input.asInstanceOf[ArrayData]
    val dim = planes(0).length
    if (v.numElements() != dim) return null
    var d = 0
    while (d < dim) { // any null element → every projection null
      if (v.isNullAt(d)) return null
      d += 1
    }
    val out = new Array[Double](planes.length)
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      var s = 0.0
      var i = 0
      while (i < dim) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        s += x * p(i)
        i += 1
      }
      out(j) = s
      j += 1
    }
    out
  }

  /** Spark's nan-safe `>= 0.0` (the semantics the `when(p >= 0.0, …)`
    * formulation had): NaN compares GREATER than any double, and
    * -0.0 == 0.0 (Spark's nanSafeCompareDoubles, NOT
    * java.lang.Double.compare, which orders -0.0 below 0.0). The
    * primitive `>=` gives the -0.0 equality; NaN is the one case it
    * gets wrong, handled explicitly. */
  private def signBitSet(p: Double): Boolean =
    p >= 0.0 || java.lang.Double.isNaN(p)

  /** Sign-bit hyperplane LSH bucket in ONE tight loop per row (the
    * HOF formulation was nBits interpreted aggregate-over-zip_with
    * passes per row — dim × nBits lambda calls on the CORPUS side of
    * every LSH query). NEVER null: the `when(p >= 0.0, bit)
    * .otherwise(0)` per-plane fold maps a null projection (null/
    * mis-sized vector) to bit 0, so a degenerate vector buckets to 0L
    * exactly as before. */
  case class HyperplaneBucketExpr(child: Expression,
      planes: Array[Array[Double]]) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = false
    @transient private lazy val isFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    def bucket(input: Any): Long = {
      val projs = hyperplaneProjections(input, planes, isFloat)
      if (projs == null) return 0L
      var acc = 0L
      var j = 0
      while (j < projs.length) {
        if (signBitSet(projs(j))) acc |= 1L << j
        j += 1
      }
      acc
    }

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      bucket(child.eval(input))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val c = child.genCode(ctx)
      val ref = ctx.addReferenceObj("hpBucket", this, getClass.getName)
      ev.copy(code = code"""${c.code}
        long ${ev.value} = $ref.bucket(${c.isNull} ? null : ${c.value});""",
        isNull = FalseLiteral)
    }
    override protected def withNewChildInternal(c: Expression): HyperplaneBucketExpr =
      copy(child = c)
  }

  /** The rankedPlanes struct array — struct(m = |projection| (null on
    * a degenerate vector), mask = bit j, bit = mask when the nan-safe
    * sign bit is set else 0) — in one loop per row. Output shape and
    * null behavior identical to the HOF formulation: never a null
    * ARRAY (a null vector yields nBits structs of (null, mask, 0)). */
  case class HyperplaneRankedExpr(child: Expression,
      planes: Array[Array[Double]]) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("m", DoubleType, nullable = true),
      StructField("mask", LongType, nullable = false),
      StructField("bit", LongType, nullable = false))),
      containsNull = false)
    override def nullable: Boolean = false
    @transient private lazy val isFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    def ranked(input: Any): ArrayData = {
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      val projs = hyperplaneProjections(input, planes, isFloat)
      val rows = new Array[Any](planes.length)
      var j = 0
      while (j < planes.length) {
        val fields = new Array[Any](3)
        if (projs == null) {
          fields(0) = null
          fields(2) = 0L
        } else {
          fields(0) = math.abs(projs(j))
          fields(2) = if (signBitSet(projs(j))) 1L << j else 0L
        }
        fields(1) = 1L << j
        rows(j) = new GenericInternalRow(fields)
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
    }

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      ranked(child.eval(input))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val c = child.genCode(ctx)
      val ref = ctx.addReferenceObj("hpRanked", this, getClass.getName)
      ev.copy(code = code"""${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          $ref.ranked(${c.isNull} ? null : ${c.value});""",
        isNull = FalseLiteral)
    }
    override protected def withNewChildInternal(c: Expression): HyperplaneRankedExpr =
      copy(child = c)
  }

  def hyperplaneBucket(vec: Column, planes: Array[Array[Double]]): Column =
    col(HyperplaneBucketExpr(ex(vec), planes))

  def hyperplaneRanked(vec: Column, planes: Array[Array[Double]]): Column =
    col(HyperplaneRankedExpr(ex(vec), planes))

  /** Dot product of two numeric arrays in one loop — the HOF
    * formulation (`aggregate(zip_with(...))`) pays an interpreted
    * lambda call per element. Semantics replicated exactly: terms
    * x·y in DOUBLE, accumulated ascending (same IEEE order); NULL
    * result for a null input, a length mismatch (zip_with null-pads
    * the short side and `acc + null` sticks) or any null element. */
  case class DotExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    // The degenerate cases (length mismatch, null element) yield SQL
    // NULL even when both inputs are non-null, so the default
    // child-driven nullability would mis-declare the expression
    // non-nullable (and nullSafeCodeGen would inline the result block
    // as a single expression — uncompilable Java).
    override def nullable: Boolean = true
    private def isFloat(e: Expression): Boolean =
      e.dataType.asInstanceOf[ArrayType].elementType == FloatType
    @transient private lazy val lf = isFloat(left)
    @transient private lazy val rf = isFloat(right)

    /** Boxed so the degenerate cases can yield SQL NULL from inside
      * the null-safe codegen template. */
    def dotBoxed(l: Any, r: Any): java.lang.Double = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (b.numElements() != n) return null
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        i += 1
      }
      var s = 0.0
      i = 0
      while (i < n) {
        val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
        s += x * y
        i += 1
      }
      java.lang.Double.valueOf(s)
    }

    override def nullSafeEval(l: Any, r: Any): Any = dotBoxed(l, r)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("dotExpr", this, getClass.getName)
      val tmp = ctx.freshName("gDot")
      nullSafeCodeGen(ctx, ev, (l, r) => s"""
        java.lang.Double $tmp = $ref.dotBoxed($l, $r);
        ${ev.isNull} = ($tmp == null);
        ${ev.value} = ($tmp == null) ? -1.0 : $tmp.doubleValue();""")
    }
    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): DotExpr = copy(l, r)
  }

  /** Symmetric int8 quantization in one loop per row. The HOF
    * formulation's per-element lambda referenced the per-vector scale
    * (`array_max(transform(abs))`) INSIDE the lambda body — HOF
    * subtrees are CSE-exempt, so the dim-length max pass re-evaluated
    * per element (dim² interpreted work per row; the lexicalDiversity
    * trap). Exact semantics replicated:
    *  - scale = max of |x| over non-null elements (null when the
    *    array is null, empty, or all-null — array_max's null rule;
    *    NaN wins any max, Spark's nan-greatest ordering);
    *  - scale == 0.0 → q = 0 for every non-null element (the
    *    zero-vector branch maps null elements to null too: transform
    *    preserves element nullability);
    *  - else q_i = int-cast(HALF_UP-round(x_i·127.0/scale)) with
    *    Spark's Round rule (NaN/Infinity pass through the round, the
    *    non-ANSI double→int cast then clamps: NaN→0, ±Inf→
    *    Int.Max/Min) and null elements stay null;
    *  - a NULL INPUT yields a NON-null struct of (null, null) — the
    *    struct() constructor never nulls out, so the expression is
    *    non-nullable with custom null handling, like
    *    [[HyperplaneRankedExpr]].
    *
    * `evalMode` is the session's ANSI mode captured once when the
    * expression is built, like Spark's `Cast`: evaluation never reads
    * the executor-side SQLConf, which can differ from the session
    * that planned the query. */
  case class QuantizeInt8Expr(child: Expression,
      evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
      extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("q", ArrayType(IntegerType, containsNull = true)),
      StructField("scale", DoubleType, nullable = true)))
    override def nullable: Boolean = false
    @transient private lazy val isFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    /** Spark's `round(...).cast("int")`: round passes NaN/±Infinity
      * through unchanged; the int cast then throws CAST_OVERFLOW under
      * ANSI (this engine's sessions run Spark 4's ANSI-on default) or,
      * in a legacy non-ANSI session, clamps the way the HOF
      * formulation's cast did (NaN→0, ±Inf→Int.Max/Min). Finite
      * quantized values can never overflow (|x| ≤ scale ⇒ |q| ≤ 127). */
    private def sparkRoundToInt(v: Double): Int = {
      if (v.isNaN || v.isInfinite) {
        if (evalMode == EvalMode.ANSI)
          throw new ArithmeticException(
            s"[CAST_OVERFLOW] The value $v of the type \"DOUBLE\" cannot " +
              "be cast to \"INT\" due to an overflow.")
        else if (v.isNaN) 0
        else if (v > 0) Int.MaxValue
        else Int.MinValue
      } else
        java.math.BigDecimal.valueOf(v)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toInt
    }

    def quantize(input: Any): Any = {
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      val out = new Array[Any](2)
      if (input == null) {
        out(0) = null; out(1) = null
        return new GenericInternalRow(out)
      }
      val a = input.asInstanceOf[ArrayData]
      val n = a.numElements()
      // pass 1: scale = array_max(transform(a, abs)) — nulls skipped,
      // NaN greatest (Spark ordering)
      var scale: java.lang.Double = null
      var i = 0
      while (i < n) {
        if (!a.isNullAt(i)) {
          val v = math.abs(
            if (isFloat) a.getFloat(i).toDouble else a.getDouble(i))
          // Spark's nan-greatest max ordering (NaN above any double,
          // NaN == NaN, -0.0 == 0.0 — the primitive > gives the last)
          val cur = if (scale == null) Double.NegativeInfinity
            else scale.doubleValue()
          val greater =
            if (v.isNaN) scale == null || !cur.isNaN
            else if (cur.isNaN) false
            else v > cur
          if (scale == null || greater) scale = java.lang.Double.valueOf(v)
        }
        i += 1
      }
      // pass 2: quantize. scale == 0.0 → zero branch, whose HOF lambda
      // is the CONSTANT 0 — it maps even NULL elements to 0 (transform
      // evaluates the body for null elements too). Otherwise branch:
      // null elements stay null (null division); null scale (all-null
      // or empty array) nulls every division.
      val q = new Array[Any](n)
      val zero = scale != null && scale.doubleValue() == 0.0
      i = 0
      while (i < n) {
        if (zero) q(i) = 0
        else if (scale != null && !a.isNullAt(i)) {
          val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
          q(i) = sparkRoundToInt(x * 127.0 / scale.doubleValue())
        } // else: stays null
        i += 1
      }
      out(0) = new GenericArrayData(q)
      out(1) = scale
      new GenericInternalRow(out)
    }

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      quantize(child.eval(input))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val c = child.genCode(ctx)
      val ref = ctx.addReferenceObj("quantInt8", this, getClass.getName)
      ev.copy(code = code"""${c.code}
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          (org.apache.spark.sql.catalyst.InternalRow) $ref.quantize(
            ${c.isNull} ? null : ${c.value});""",
        isNull = FalseLiteral)
    }
    override protected def withNewChildInternal(c: Expression): QuantizeInt8Expr =
      copy(child = c)
  }

  def dotProduct(a: Column, b: Column): Column = col(DotExpr(ex(a), ex(b)))

  def quantizeInt8(vec: Column): Column = col(QuantizeInt8Expr(ex(vec)))
}
