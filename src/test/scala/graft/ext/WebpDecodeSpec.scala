package graft.ext

import graft.SparkSpec

/** The VP8L decoder, probed three ways:
  *  1. the cell fixture round-trips: [[WebpDecode.webpCellBytes]]'s
  *     stream (subtract-green + a normal code-length-coded prefix
  *     code) decodes to the EXACT cell grid and hashes bit-identically
  *     to the PNG/GIF fixture over every banded seed (0–501);
  *  2. hand-crafted minimal streams exercise each decoder feature the
  *     fixture doesn't: LZ77 with the 2D distance map, the color
  *     cache, color-indexing with sub-byte bundling (including the
  *     listed-order simple-code rule), predictor and color transforms,
  *     and meta prefix groups — each with hand-computed expected
  *     pixels;
  *  3. structural pins: the 120-entry distance table is a permutation
  *     of the valid near offsets in non-decreasing distance order, and
  *     malformed/lossy/truncated payloads null instead of throwing. */
class WebpDecodeSpec extends SparkSpec {

  private def decode(b: Array[Byte]): (Int, Int, Array[Int]) = {
    val d = WebpDecode.decodeVp8l(b)
    assert(d != null, "decode must succeed")
    (d.w, d.h, d.px)
  }

  // test-side LSB-first bit writer (mirror of the fixture encoder's)
  private final class Bw {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0; private var n = 0
    def put(v: Int, bits: Int): Unit = {
      var i = 0
      while (i < bits) {
        cur |= ((v >> i) & 1) << n; n += 1
        if (n == 8) { out.write(cur); cur = 0; n = 0 }
        i += 1
      }
    }
    def putCode(code: Int, len: Int): Unit = {
      var b = len - 1
      while (b >= 0) { put((code >> b) & 1, 1); b -= 1 }
    }
    def riff(w: Int, h: Int)(body: Bw => Unit): Array[Byte] = {
      put(0x2f, 8); put(w - 1, 14); put(h - 1, 14); put(0, 1); put(0, 3)
      body(this)
      if (n > 0) { out.write(cur); cur = 0; n = 0 }
      val payload = out.toByteArray
      val r = new java.io.ByteArrayOutputStream()
      def w32(v: Int): Unit = { r.write(v & 0xff); r.write((v >>> 8) & 0xff)
        r.write((v >>> 16) & 0xff); r.write((v >>> 24) & 0xff) }
      r.write("RIFF".getBytes("US-ASCII")); w32(4 + 8 + payload.length)
      r.write("WEBP".getBytes("US-ASCII")); r.write("VP8L".getBytes("US-ASCII"))
      w32(payload.length); r.write(payload, 0, payload.length)
      if ((payload.length & 1) == 1) r.write(0)
      r.toByteArray
    }
  }

  /** simple one-symbol code (zero decode bits). */
  private def simple1(bw: Bw, sym: Int): Unit = {
    bw.put(1, 1); bw.put(0, 1)
    if (sym > 1) { bw.put(1, 1); bw.put(sym, 8) }
    else { bw.put(0, 1); bw.put(sym, 1) }
  }

  /** simple two-symbol code, LISTED order (s0 → bit 0, s1 → bit 1). */
  private def simple2(bw: Bw, s0: Int, s1: Int): Unit = {
    bw.put(1, 1); bw.put(1, 1)
    if (s0 > 1) { bw.put(1, 1); bw.put(s0, 8) }
    else { bw.put(0, 1); bw.put(s0, 1) }
    bw.put(s1, 8)
  }

  test("cell fixture decodes to the exact grid (gray, alpha 255)") {
    val (w, h, px) = decode(WebpDecode.webpCellBytes(42))
    assert(w === 72 && h === 64)
    val lv = PixelDecode.cellLevels(42)
    for (y <- 0 until 64; x <- 0 until 72) {
      val v = lv((y >> 3) * 9 + (x >> 3))
      assert(px(y * 72 + x) === (0xff000000 | (v << 16) | (v << 8) | v),
        s"pixel ($x,$y)")
    }
  }

  test("WebP cell hashes BIT-IDENTICALLY to the PNG cell, all banded seeds 0-501") {
    for (s <- 0 until 502)
      assert(WebpDecode.webpDHash64(WebpDecode.webpCellBytes(s)) ===
        PixelDecode.pngDHash64(PixelDecode.pngCellBytes(s)), s"seed $s")
  }

  test("imageDHash64 dispatches RIFF/WEBP/VP8L") {
    val b = WebpDecode.webpCellBytes(7)
    assert(PixelDecode.imageDHash64(b) === WebpDecode.webpDHash64(b))
    // lossy WebP (VP8 chunk): null, never a faked value
    val lossy = b.clone(); lossy(15) = ' '
    assert(PixelDecode.imageDHash64(lossy) === null)
  }

  test("distance table: permutation of valid near offsets, non-decreasing distance") {
    val offsets = (1 to 120).map { code =>
      // probe through planeCodeToDistance at two widths to recover
      // (dy, dx): dist(W) = dy*W + dx for W = 1000 and 2000
      val d1 = WebpDecode.planeCodeToDistance(1000, code)
      val d2 = WebpDecode.planeCodeToDistance(2000, code)
      val dy = (d2 - d1) / 1000
      val dx = d1 - dy * 1000
      (dy, dx)
    }
    // valid set: dy 0..7, dx -7..8, minus the non-causal (0, dx<=0);
    // at W=1000 no entry's dy*W+dx clamps, so the probe is exact
    val valid = (for (dy <- 0 to 7; dx <- -7 to 8
      if !(dy == 0 && dx <= 0)) yield (dy, dx)).toSet
    assert(offsets.distinct.size === 120, "all entries distinct")
    assert(offsets.toSet === valid,
      s"missing: ${valid -- offsets.toSet}; extra: ${offsets.toSet -- valid}")
    val dists = offsets.map { case (dy, dx) => dy * dy + dx * dx }
    assert(dists === dists.sorted,
      "distance codes must be ordered by closeness")
  }

  test("hand-crafted: LZ77 copy via the 2D map + color cache hit") {
    // 4×1: [literal P] [copy len 2, dist 1] [cache hit on P]
    val G = 100; val R = 9; val B = 7; val A = 255
    val P = (A << 24) | (R << 16) | (G << 8) | B
    val cacheIdx = (0x1e35a7bd * P) >>> (32 - 1) // cache_bits = 1
    val bytes = new Bw().riff(4, 1) { bw =>
      bw.put(0, 1) // no transforms
      bw.put(1, 1); bw.put(1, 4) // color cache, bits = 1
      bw.put(0, 1) // no meta prefix
      // green/len/cache code (alphabet 282): lengths G→1, 257→2, 280+idx→2
      bw.put(0, 1) // normal
      bw.put(1, 4) // num_code_lengths = 5: order 17,18,0,1,2
      for (l <- Seq(0, 1, 3, 3, 2)) bw.put(l, 3)
      bw.put(0, 1) // no max_symbol
      // CL canonical: 18→0, 2→10, 0→110, 1→111
      def z(run: Int): Unit = { bw.putCode(0, 1); bw.put(run - 11, 7) }
      z(G) // 0..G-1
      bw.putCode(7, 3) // CL 1 → symbol G gets length 1
      z(138); z(256 - G - 138) // G+1..256
      bw.putCode(2, 2) // CL 2 → symbol 257 length 2
      val gap = 280 + cacheIdx - 258
      z(gap)
      bw.putCode(2, 2) // CL 2 → symbol 280+idx length 2
      if (cacheIdx == 0) bw.putCode(6, 3) // one trailing zero (CL 0)
      // red/blue/alpha one-symbol codes
      simple1(bw, R); simple1(bw, B); simple1(bw, A)
      // distance code: one symbol = prefix 1 (⇒ dist code 2 ⇒ dist 1)
      simple1(bw, 1)
      // data: canonical codes G→"0", 257→"10", cache→"11"
      bw.putCode(0, 1) // literal P
      bw.putCode(2, 2) // length symbol 257 ⇒ copy length 2
      // distance prefix is one-symbol (0 bits); no extra bits for code 2
      bw.putCode(3, 2) // cache reference
    }
    val (w, h, px) = decode(bytes)
    assert((w, h) === (4, 1))
    assert(px.toSeq === Seq(P, P, P, P))
  }

  test("hand-crafted: color-indexing with 8-per-byte bundling, listed-order palette code") {
    // palette {C0, C1}, 10×1 indices 0,1,1,0,1,0,0,1,1,0
    val C0 = 0xffcc2211; val C1 = 0xff0155aa
    // palette image stores deltas: first entry C0, second C1 - C0
    def sub(a: Int, b: Int): Int = { // per-channel byte subtract
      var out = 0; var s = 0
      while (s < 32) { out |= (((a >>> s) - (b >>> s)) & 0xff) << s; s += 8 }
      out
    }
    val D1 = sub(C1, C0)
    def chan(v: Int, s: Int) = (v >>> s) & 0xff
    val bytes = new Bw().riff(10, 1) { bw =>
      bw.put(1, 1); bw.put(3, 2) // transform: color indexing
      bw.put(2 - 1, 8) // palette size 2
      locally { // palette entropy image (2×1): greens listed REVERSED to pin
        // the listed-order simple-code rule
        bw.put(0, 1) // no color cache
        simple2(bw, chan(D1, 8), chan(C0, 8)) // green: D1 first!
        simple2(bw, chan(D1, 16), chan(C0, 16)) // red
        simple2(bw, chan(D1, 0), chan(C0, 0)) // blue
        simple2(bw, chan(D1, 24), chan(C0, 24)) // alpha
        simple1(bw, 0) // distance
        // two literal pixels: C0 (codes 1 = second listed), then D1 (0)
        for (_ <- 0 until 4) bw.put(1, 1) // C0: green,red,blue,alpha
        for (_ <- 0 until 4) bw.put(0, 1) // D1
      }
      bw.put(0, 1) // no more transforms
      bw.put(0, 1) // no color cache (main image)
      bw.put(0, 1) // no meta prefix
      // packed width = ceil(10/8) = 2; indices LSB-first in green
      val byte0 = Integer.parseInt("10010110", 2) // x0..x7 = 0,1,1,0,1,0,0,1
      val byte1 = Integer.parseInt("00000001", 2) // x8,x9 = 1,0
      simple2(bw, byte0, byte1) // green
      simple1(bw, 0); simple1(bw, 0); simple1(bw, 0) // red/blue/alpha
      simple1(bw, 0) // distance
      bw.put(0, 1); bw.put(1, 1) // two packed pixels
    }
    val (w, h, px) = decode(bytes)
    assert((w, h) === (10, 1))
    val want = Seq(0, 1, 1, 0, 1, 0, 0, 1, 1, 0).map(i => if (i == 0) C0 else C1)
    assert(px.toSeq === want)
  }

  test("hand-crafted: predictor transform border rules + mode T") {
    // 2×2, predictor tile covers all (sizeBits 2), mode 2 (T);
    // residuals chosen so the expected pixels are hand-computable:
    // (0,0): black + r00; (1,0): top row ⇒ L; (0,1): left col ⇒ T;
    // (1,1): mode 2 ⇒ T
    val bytes = new Bw().riff(2, 2) { bw =>
      bw.put(1, 1); bw.put(0, 2) // predictor transform
      bw.put(0, 3) // sizeBits = 2
      locally { // 1×1 tile image: green = mode 2
        bw.put(0, 1) // no color cache
        simple1(bw, 2) // green = 2
        simple1(bw, 0); simple1(bw, 0); simple1(bw, 0)
        simple1(bw, 0)
        // single pixel, all codes 0-bit: no data bits
      }
      bw.put(0, 1) // no more transforms
      bw.put(0, 1); bw.put(0, 1) // no cache, no meta
      // residual greens: 4 distinct values 1,2,3,4 → simple codes only
      // carry ≤2 symbols, so use two: greens {1,2}, reds {0}, etc.
      simple2(bw, 1, 2) // green
      simple1(bw, 0) // red
      simple1(bw, 0) // blue
      simple1(bw, 5) // alpha residual 5
      simple1(bw, 0) // distance
      // pixels: g residuals (0,0)=1 (1,0)=2 (0,1)=1 (1,1)=2
      bw.put(0, 1); bw.put(1, 1); bw.put(0, 1); bw.put(1, 1)
    }
    val (w, h, px) = decode(bytes)
    assert((w, h) === (2, 2))
    def argb(a: Int, r: Int, g: Int, b: Int) =
      (a << 24) | (r << 16) | (g << 8) | b
    val p00 = argb((0xff + 5) & 0xff, 0, 1, 0) // black pred + residual
    val p10 = argb((chanOf(p00, 24) + 5) & 0xff, 0, (1 + 2) & 0xff, 0) // L
    val p01 = argb((chanOf(p00, 24) + 5) & 0xff, 0, (1 + 1) & 0xff, 0) // T
    val p11 = argb((chanOf(p10, 24) + 5) & 0xff, 0,
      (chanOf(p10, 8) + 2) & 0xff, 0) // mode T
    assert(px.toSeq === Seq(p00, p10, p01, p11))
  }

  private def chanOf(v: Int, s: Int): Int = (v >>> s) & 0xff

  test("hand-crafted: color transform inverse (signed multipliers)") {
    // 1×1, color transform, multipliers g2r=-1 (0xff), g2b=2, r2b=-3;
    // literal pixel (a=255, r=10, g=64, b=20):
    //   r' = 10 + (-1*64  >> 5) = 10 + (-2) = 8
    //   b' = 20 + (2*64 >> 5) = 20 + 4 = 24; then += (-3 * 8) >> 5 = -1 → 23
    val bytes = new Bw().riff(1, 1) { bw =>
      bw.put(1, 1); bw.put(1, 2) // color transform
      bw.put(0, 3) // sizeBits 2
      locally { // tile image 1×1: cte pixel blue=g2r, green=g2b, red=r2b
        bw.put(0, 1)
        simple1(bw, 2) // green = g2b = 2
        simple1(bw, 0xfd) // red = r2b = -3
        simple1(bw, 0xff) // blue = g2r = -1
        simple1(bw, 0) // alpha
        simple1(bw, 0)
      }
      bw.put(0, 1) // no more transforms
      bw.put(0, 1); bw.put(0, 1)
      simple1(bw, 64); simple1(bw, 10); simple1(bw, 20); simple1(bw, 255)
      simple1(bw, 0)
      // single pixel, zero data bits
    }
    val (_, _, px) = decode(bytes)
    assert(px(0) === ((255 << 24) | (8 << 16) | (64 << 8) | 23))
  }

  test("hand-crafted: meta prefix groups select codes per tile") {
    // 8×1, metaBits=2 (tiles of 4): meta image 2×1 with group ids 0,1;
    // group 0 greens = 11, group 1 greens = 22
    val bytes = new Bw().riff(8, 1) { bw =>
      bw.put(0, 1) // no transforms
      bw.put(0, 1) // no color cache
      bw.put(1, 1) // meta prefix present
      bw.put(0, 3) // metaBits = 2
      locally { // meta entropy image 2×1: pixels (red<<8|green) = 0 and 1
        bw.put(0, 1)
        simple2(bw, 0, 1) // green 0 then 1
        simple1(bw, 0); simple1(bw, 0); simple1(bw, 0)
        simple1(bw, 0)
        bw.put(0, 1); bw.put(1, 1)
      }
      // group 0
      simple1(bw, 11); simple1(bw, 0); simple1(bw, 0); simple1(bw, 255)
      simple1(bw, 0)
      // group 1
      simple1(bw, 22); simple1(bw, 0); simple1(bw, 0); simple1(bw, 255)
      simple1(bw, 0)
      // 8 pixels, all zero-bit codes: no data bits at all
    }
    val (w, _, px) = decode(bytes)
    assert(w === 8)
    val greens = px.map(v => (v >>> 8) & 0xff).toSeq
    assert(greens === Seq(11, 11, 11, 11, 22, 22, 22, 22))
  }

  test("malformed payloads null, never throw") {
    assert(WebpDecode.webpDHash64(null) === null)
    assert(WebpDecode.webpDHash64(Array[Byte](1, 2, 3)) === null)
    val good = WebpDecode.webpCellBytes(3)
    // truncations at every prefix length stay null or decode fully
    for (cut <- Seq(10, 20, 24, 40, good.length / 2)) {
      val t = java.util.Arrays.copyOf(good, cut)
      assert(WebpDecode.webpDHash64(t) === null, s"cut=$cut")
    }
    // bad signature byte
    val sig = good.clone(); sig(20) = 0x2e
    assert(WebpDecode.webpDHash64(sig) === null)
    // nonzero version bits
    val ver = good.clone(); ver(24) = (ver(24) | 0x80.toByte).toByte
    assert(WebpDecode.webpDHash64(ver) === null)
    // below the 9×8 dHash grid: a 4×4 image decodes but hashes null
    val tiny = new Bw().riff(4, 4) { bw =>
      bw.put(0, 1); bw.put(0, 1); bw.put(0, 1)
      simple1(bw, 50); simple1(bw, 0); simple1(bw, 0); simple1(bw, 255)
      simple1(bw, 0)
    }
    assert(WebpDecode.decodeVp8l(tiny) != null)
    assert(WebpDecode.webpDHash64(tiny) === null)
  }

  test("webpGrayBytes: flat max_symbol code decodes to the exact gradient; stats real") {
    val (w, h, px) = decode(WebpDecode.webpGrayBytes(50, 9, 130))
    assert((w, h) === (50, 9))
    for (y <- 0 until 9; x <- 0 until 50) {
      val v = (130 + x) & 0xff
      assert(px(y * 50 + x) === (0xff000000 | (v << 16) | (v << 8) | v),
        s"pixel ($x,$y)")
    }
    val st = WebpDecode.webpPixelStats(WebpDecode.webpGrayBytes(50, 9, 130))
    assert(st.getLong(0) === 50L && st.getLong(1) === 9L)
    assert(st.getLong(2) === 450L)
    // gradient wraps 130..179 → sum = 9 * Σ, min 130, max 179
    assert(st.getLong(3) === 9L * (130 to 179).sum)
    assert(st.getInt(4) === 130 && st.getInt(5) === 179)
    // wrap case: seed 250 crosses 255 → min 0
    val st2 = WebpDecode.webpPixelStats(WebpDecode.webpGrayBytes(10, 2, 250))
    assert(st2.getInt(4) === 0 && st2.getInt(5) === 255)
    assert(WebpDecode.webpPixelStats("junk".getBytes) === null)
  }

  test("decodeStats dispatches WebP; RIFF/WAVE still reads as WAV") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (1L, WebpDecode.webpGrayBytes(20, 10, 5)),
      (2L, PixelDecode.wavToneBytes(1, 8000, 100, 7)),
      (3L, WebpDecode.webpCellBytes(3))).toDF("id", "media_bytes")
    val got = rows.select(col("id"),
      Multimodal.decodeStats(col("media_bytes")).as("st"))
      .select(col("id"), col("st.media_type"), col("st.width"),
        col("st.n_samples"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got === Map(1L -> "image/webp", 2L -> "audio/wav",
      3L -> "image/webp"))
  }

  test("MediaProbe reads VP8L dims from the header without decoding") {
    val m = MediaProbe.probe(WebpDecode.webpGrayBytes(123, 77, 0))
    assert(m != null)
    assert(m.getLong(0) === 123L && m.getLong(1) === 77L)
    assert(m.getUTF8String(2).toString === "image/webp")
    // lossy VP8 chunk: not probed (no VP8L header), null
    val lossy = WebpDecode.webpCellBytes(1).clone(); lossy(15) = ' '
    assert(MediaProbe.probe(lossy) === null)
  }

  test("column expressions: synth + dHash agree with the JVM functions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = spark.range(0, 12).select(col("id"),
      WebpDecode.webpDHash(
        WebpDecode.synthWebpCells((col("id") % 5).cast("int"))).as("ph"),
      PixelDecode.imageDHashAny(
        WebpDecode.synthWebpCells((col("id") % 5).cast("int"))).as("ph2"))
      .collect()
    for (r <- rows) {
      val want = WebpDecode.webpDHash64(
        WebpDecode.webpCellBytes((r.getLong(0) % 5).toInt)).longValue()
      assert(r.getLong(1) === want)
      assert(r.getLong(2) === want)
    }
  }
}
