package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels for the sketch expressions — one tight JVM loop per
  * row, shared by interpreted eval AND generated code (generated code
  * calls these static forwarders: a `StaticInvoke` node for the pure
  * kernels, the custom expressions' `doGenCode` for the rest — the
  * pattern Spark's own byte/string expressions use). Keeping a single
  * implementation means codegen and fallback can never diverge.
  */
object SketchOps {

  /** splitmix64 — deterministic per-permutation constants. */
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** 64-bit SimHash over token hashes: bit i set when the majority of
    * token-hash bits i are set. One pass. */
  def simhash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 64) {
        counts(b) += ((h >>> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) * 2 > n) out |= (1L << b)
      b += 1
    }
    out
  }

  /** k-permutation MinHash: permutation p is the affine map
    * a(p)·h + b(p); one pass over the array for all k mins. */
  def minhashSig(arr: ArrayData, as: Array[Long], bs: Array[Long]): ArrayData = {
    val k = as.length
    val n = arr.numElements()
    val out = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var p = 0
      while (p < k) {
        val v = as(p) * h + bs(p)
        if (v < out(p)) out(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Hashes of the n-gram windows of a pre-hashed token array;
    * optionally distinct (first-occurrence order). One pass. */
  def ngramHashes(arr: ArrayData, n: Int, dedupe: Boolean): ArrayData = {
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long](len - n + 1)
    var i = 0
    while (i <= len - n) {
      var h = 1125899906842597L
      var j = 0
      while (j < n) {
        h = h * 0x100000001b3L + arr.getLong(i + j)
        j += 1
      }
      val g = splitmix64(h)
      if (!dedupe || seen.add(g)) out += g
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Winnowing fingerprint (Schleimer/Wilkerson/Aiken): Rabin-Karp
    * k-gram rolling hash, min per window of w (rightmost on ties),
    * distinct in first-occurrence order. One pass. */
  def winnow(bytes: Array[Byte], k: Int, w: Int, basePowK1: Long): ArrayData = {
    val n = bytes.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val Base = 257L
    val grams = new Array[Long](n - k + 1)
    var h = 0L
    var i = 0
    while (i < k) { h = h * Base + (bytes(i) & 0xff); i += 1 }
    grams(0) = splitmix64(h)
    i = k
    while (i < n) {
      h = (h - (bytes(i - k) & 0xff) * basePowK1) * Base + (bytes(i) & 0xff)
      grams(i - k + 1) = splitmix64(h)
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val m = grams.length
    if (m <= w) {
      var best = 0
      var j = 1
      while (j < m) { if (grams(j) <= grams(best)) best = j; j += 1 }
      seen.add(grams(best))
    } else {
      var start = 0
      while (start + w <= m) {
        var best = start
        var j = start + 1
        while (j < start + w) { if (grams(j) <= grams(best)) best = j; j += 1 }
        seen.add(grams(best))
        start += 1
      }
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** Unicode NFC normalization. */
  def normalizeNfc(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFC))

  /** Accent stripping: NFD decomposition with combining marks (Mn)
    * removed — 'á' → 'a'. Matches utf8proc-based engines (DuckDB
    * `strip_accents`) on Latin-script input; base letters, digits and
    * symbols pass through untouched. */
  def stripAccents(s: UTF8String): UTF8String = {
    val d = java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFD)
    val b = new java.lang.StringBuilder(d.length)
    var i = 0
    while (i < d.length) {
      val c = d.charAt(i)
      if (Character.getType(c) != Character.NON_SPACING_MARK) b.append(c)
      i += 1
    }
    UTF8String.fromString(b.toString)
  }

  // element-type codes for the cosine kernel (avoid DataType in the
  // generated-code signature)
  val ElemFloat = 0
  val ElemDouble = 1
  val ElemLong = 2
  val ElemInt = 3

  private def read(a: ArrayData, i: Int, code: Int): Double = code match {
    case 0 => a.getFloat(i).toDouble
    case 1 => a.getDouble(i)
    case 2 => a.getLong(i).toDouble
    case _ => a.getInt(i).toDouble
  }

  /** Cosine similarity accumulated in double; 0.0 for zero norms.
    * Length mismatch is LOUD: comparing the common prefix of two
    * different-dimension vectors is a silently-wrong similarity (a
    * truncated embedding would rank normally instead of failing). */
  def cosine(la: ArrayData, ra: ArrayData, lCode: Int, rCode: Int): Double = {
    if (la.numElements() != ra.numElements())
      throw new IllegalArgumentException(
        s"cosine: dimension mismatch ${la.numElements()} vs " +
          s"${ra.numElements()}")
    val n = la.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = read(la, i, lCode)
      val y = read(ra, i, rCode)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
}
