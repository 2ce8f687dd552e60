package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

import graft.functions.Expressions.staticCall

/** Pure-JVM GIF pixel decode — the third REAL decode modality after
  * PNG ([[PixelDecode.pngPixelStats]]) and WAV PCM: GIF's image data
  * is LZW-compressed, and LZW needs no native codec. The decoder
  * implements the full GIF87a/89a container walk (logical screen
  * descriptor, global/local color tables, extension-block skipping,
  * image-data sub-block reassembly) and a spec-complete LZW
  * decompressor (variable code width 3..12 bits LSB-first, clear /
  * end-of-information codes, the KwKwK self-reference case, deferred
  * clear once the table is full). Decoded color indices map through
  * the active palette and reduce to integer channel statistics over
  * all RGB samples — same scan-side-reduction shape as the PNG path:
  * one codegen'd expression per blob, zero shuffle, integer-exact for
  * the DuckDB oracle.
  *
  * Interlaced images are accepted: interlacing permutes ROWS only, and
  * the emitted statistics are order-independent.
  *
  * Reference format context: deimos treats binary payloads as opaque
  * (`lib/deimos/schema_backends/avro_base.rb` bytes type); the decode
  * surface is the [EXT] multimodal mandate. GIF structure per the
  * public GIF89a specification.
  */
object GifDecode {

  /** Stats over all RGB channel samples of the first image frame:
    * n_samples = width × height × 3; null when the bytes are not a
    * decodable GIF (bad signature, truncated stream, corrupt LZW,
    * pixel-count mismatch). */
  val GifStatsType: StructType = StructType(Seq(
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("n_samples", LongType),
    StructField("sum_val", LongType),
    StructField("min_val", IntegerType),
    StructField("max_val", IntegerType)))

  /** Pixel-count cap (w*h), zip-bomb guard like the PNG path. */
  private val MaxPixels = 64L << 20

  /** Fully decoded GIF: palette indices in raster order plus the
    * effective (local-wins) color table. */
  private[ext] final case class DecodedGif(w: Int, h: Int,
      indices: Array[Byte], palette: Array[Byte])

  def gifPixelStats(b: Array[Byte]): GenericInternalRow = {
    val d = decodeGif(b)
    if (d == null) return null
    val palSize = d.palette.length / 3
    val nPixels = d.w * d.h
    var sum = 0L
    var min = 255
    var max = 0
    var i = 0
    while (i < nPixels) {
      val idx = d.indices(i) & 0xff
      if (idx >= palSize) return null // index outside palette
      var ch = 0
      while (ch < 3) {
        val v = d.palette(idx * 3 + ch) & 0xff
        sum += v
        if (v < min) min = v
        if (v > max) max = v
        ch += 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](d.w.toLong, d.h.toLong, nPixels * 3L,
      sum, min, max))
  }

  /** 64-bit perceptual dHash over the decoded GIF plane — the same
    * integer 9×8 area-average + cross-multiplied comparisons as
    * [[PixelDecode.pngDHash64]], with each palette index folded to
    * integer luma (299r + 587g + 114b) / 1000. For a gray palette
    * (r=g=b=index, as the synth writes) luma == index EXACTLY, so the
    * same pixel grid stored as gray PNG or gray GIF hashes
    * identically — cross-format duplicate detection. Null for
    * undecodable input, out-of-palette indices, or images smaller
    * than 9×8. */
  def gifDHash64(b: Array[Byte]): java.lang.Long = {
    val d = decodeGif(b)
    if (d == null || d.w < 9 || d.h < 8) return null
    val palSize = d.palette.length / 3
    // precompute per-index luma; reject out-of-palette lazily below
    val luma = new Array[Long](256)
    var i = 0
    while (i < palSize) {
      val r = d.palette(i * 3) & 0xff
      val g = d.palette(i * 3 + 1) & 0xff
      val bl = d.palette(i * 3 + 2) & 0xff
      luma(i) = (299L * r + 587L * g + 114L * bl) / 1000L
      i += 1
    }
    i = 0
    val nPixels = d.w * d.h
    while (i < nPixels) {
      if ((d.indices(i) & 0xff) >= palSize) return null
      i += 1
    }
    PixelDecode.dhashFromGray(d.w, d.h,
      (x, y) => luma(d.indices(y * d.w + x) & 0xff))
  }

  private[ext] def decodeGif(b: Array[Byte]): DecodedGif = {
    if (b == null || b.length < 14) return null
    if (!(b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
        (b(4) == '7' || b(4) == '9') && b(5) == 'a')) return null
    def u16(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

    var at = 6
    // logical screen descriptor
    if (at + 7 > b.length) return null
    val lsdPacked = b(at + 4) & 0xff
    at += 7
    var palette: Array[Byte] = null
    if ((lsdPacked & 0x80) != 0) {
      val n = 2 << (lsdPacked & 0x07)
      if (at + 3 * n > b.length) return null
      palette = java.util.Arrays.copyOfRange(b, at, at + 3 * n)
      at += 3 * n
    }

    // walk blocks to the first image descriptor
    while (at < b.length && (b(at) & 0xff) == 0x21) { // extension
      at += 2 // introducer + label
      var done = false
      while (!done) {
        if (at >= b.length) return null
        val len = b(at) & 0xff
        at += 1 + len
        if (len == 0) done = true
      }
    }
    if (at >= b.length || (b(at) & 0xff) != 0x2c) return null // no image
    if (at + 10 > b.length) return null
    val iw = u16(at + 5)
    val ih = u16(at + 7)
    val idPacked = b(at + 9) & 0xff
    at += 10
    if (iw <= 0 || ih <= 0 || iw.toLong * ih > MaxPixels) return null
    if ((idPacked & 0x80) != 0) { // local color table wins
      val n = 2 << (idPacked & 0x07)
      if (at + 3 * n > b.length) return null
      palette = java.util.Arrays.copyOfRange(b, at, at + 3 * n)
      at += 3 * n
    }
    if (palette == null) return null
    val palSize = palette.length / 3

    // reassemble LZW stream from data sub-blocks
    if (at >= b.length) return null
    val minCode = b(at) & 0xff
    at += 1
    if (minCode < 1 || minCode > 11) return null
    val data = new java.io.ByteArrayOutputStream(b.length - at)
    var done = false
    while (!done) {
      if (at >= b.length) return null
      val len = b(at) & 0xff
      if (at + 1 + len > b.length) return null
      data.write(b, at + 1, len)
      at += 1 + len
      if (len == 0) done = true
    }
    val z = data.toByteArray

    // LZW decode: table of (prefixCode, tailByte); chains materialized
    // into the output buffer by walking prefixes
    val nPixels = iw * ih
    val out = new Array[Byte](nPixels)
    var outAt = 0
    val clear = 1 << minCode
    val eoi = clear + 1
    val maxTable = 4096
    val prefix = new Array[Int](maxTable)
    val tail = new Array[Byte](maxTable)
    var next = eoi + 1
    var width = minCode + 1
    var prev = -1

    // write the expansion of `code` into out at outAt; returns its
    // first byte, or -1 on a malformed chain
    def expand(code: Int): Int = {
      var len = 0
      var c = code
      while (c >= clear) { // composite entry: walk to the root
        if (c >= next || len > maxTable) return -1 // corrupt chain
        len += 1
        c = prefix(c)
      }
      val first = c
      // write backwards: root at outAt, tails after it
      if (outAt + len + 1 > out.length) return -2 // too many pixels
      var w = outAt + len
      c = code
      while (c >= clear) { out(w) = tail(c); w -= 1; c = prefix(c) }
      out(w) = c.toByte
      outAt += len + 1
      first
    }

    var bitBuf = 0L
    var bitCnt = 0
    var zi = 0
    var finished = false
    while (!finished) {
      while (bitCnt < width && zi < z.length) {
        bitBuf |= (z(zi) & 0xffL) << bitCnt
        bitCnt += 8
        zi += 1
      }
      if (bitCnt < width) {
        // stream exhausted without EOI: accept iff exactly all pixels
        // were produced (writers in the wild omit the trailing EOI)
        finished = true
      } else {
        val code = (bitBuf & ((1L << width) - 1)).toInt
        bitBuf >>>= width
        bitCnt -= width
        if (code == clear) {
          next = eoi + 1
          width = minCode + 1
          prev = -1
        } else if (code == eoi) {
          finished = true
        } else if (prev < 0) {
          if (code >= clear) return null // first code must be a root
          if (outAt >= out.length) return null
          out(outAt) = code.toByte
          outAt += 1
          prev = code
        } else {
          if (code > next || (code == next && next >= maxTable)) return null
          val firstByte =
            if (code == next) {
              // KwKwK: entry being defined refers to itself
              val f = expand(prev)
              if (f < 0) return null
              if (outAt >= out.length) return null
              out(outAt) = f.toByte
              outAt += 1
              f
            } else {
              val f = expand(code)
              if (f < 0) return null
              f
            }
          if (next < maxTable) {
            prefix(next) = prev
            tail(next) = firstByte.toByte
            next += 1
            if (next == (1 << width) && width < 12) width += 1
          } // table full: codes keep flowing at 12 bits until clear
          prev = code
        }
        if (outAt == out.length && !finished) {
          // all pixels produced; tolerate a missing/trailing EOI
          finished = true
        }
      }
    }
    if (outAt != nPixels) return null
    DecodedGif(iw, ih, out, palette)
  }

  // ---- synthesizer (REAL LZW-compressed pixels) ------------------------

  /** Grayscale GIF89a with REAL pixels: value(x, y) = (seed + x + 2*y)
    * mod 256 through a 256-entry gray palette (r=g=b=index). The
    * stream is genuinely LZW-compressed by a spec-complete encoder
    * (dictionary growth, width changes, clear on table overflow), so
    * the decoder's table/width/KwKwK handling is actually exercised.
    */
  def gifPixelBytes(w: Int, h: Int, seed: Int): Array[Byte] =
    gifFromFn(w, h, (x, y) => (seed + x + 2 * y) & 0xff)

  /** 72×64 grayscale GIF rendering [[PixelDecode.cellLevels]] — the
    * same pixel grid as `PixelDecode.pngCellBytes` through the gray
    * palette (luma == index), so the dHash is BIT-IDENTICAL to the
    * PNG's: the third member of the cross-format duplicate fixture
    * (PNG/GIF lossless-equal, JPEG within quantization margin). */
  def gifCellBytes(seed: Int): Array[Byte] = {
    val lv = PixelDecode.cellLevels(seed)
    gifFromFn(72, 64, (x, y) => lv((y >> 3) * 9 + (x >> 3)))
  }

  /** Shared GIF89a writer: gray 256-entry palette, REAL LZW encode of
    * the caller's pixel accessor (dictionary growth, width changes,
    * clear on overflow — the decoder's table discipline is actually
    * exercised). */
  private def gifFromFn(w: Int, h: Int, px: (Int, Int) => Int): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 0xffff && h <= 0xffff, s"bad dims ${w}x$h")
    val out = new java.io.ByteArrayOutputStream(w * h / 2 + 800)
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    out.write("GIF89a".getBytes("US-ASCII"))
    w16(w); w16(h)
    out.write(0x80 | 0x07) // GCT present, 256 entries
    out.write(0) // bg color
    out.write(0) // aspect
    var i = 0
    while (i < 256) { out.write(i); out.write(i); out.write(i); i += 1 }
    out.write(0x2c) // image descriptor
    w16(0); w16(0); w16(w); w16(h)
    out.write(0) // no LCT, not interlaced

    // LZW encode the index stream
    val minCode = 8
    out.write(minCode)
    val clear = 1 << minCode
    val eoi = clear + 1
    val maxTable = 4096
    val dict = new java.util.HashMap[Integer, Integer](8192)
    def key(prefixCode: Int, b: Int): Integer =
      Integer.valueOf((prefixCode << 8) | b)
    var next = eoi + 1
    var width = minCode + 1

    val body = new java.io.ByteArrayOutputStream(w * h / 2 + 64)
    var bitBuf = 0L
    var bitCnt = 0
    def emit(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt
      bitCnt += width
      while (bitCnt >= 8) {
        body.write((bitBuf & 0xff).toInt)
        bitBuf >>>= 8
        bitCnt -= 8
      }
    }

    emit(clear)
    var cur = -1
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val pv = px(x, y)
        if (cur < 0) cur = pv
        else {
          val k = key(cur, pv)
          val hit = dict.get(k)
          if (hit != null) cur = hit.intValue()
          else {
            emit(cur)
            if (next < maxTable) {
              dict.put(k, Integer.valueOf(next))
              next += 1
              // one entry LATER than the decoder's (1<<width) trigger:
              // the decoder's table trails the encoder's by one entry
              // (it adds only on the following code), so the encoder
              // keeps emitting at the old width for exactly one more
              // code. Empirically pinned against ImageIO both ways in
              // GifDecodeSpec.
              if (next == (1 << width) + 1 && width < 12) width += 1
            } else {
              emit(clear)
              dict.clear()
              next = eoi + 1
              width = minCode + 1
            }
            cur = pv
          }
        }
        x += 1
      }
      y += 1
    }
    if (cur >= 0) emit(cur)
    emit(eoi)
    if (bitCnt > 0) body.write((bitBuf & 0xff).toInt)

    // wrap in ≤255-byte sub-blocks
    val z = body.toByteArray
    var o = 0
    while (o < z.length) {
      val len = math.min(255, z.length - o)
      out.write(len)
      out.write(z, o, len)
      o += len
    }
    out.write(0) // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  // ---- columns (StaticInvoke over the kernels above) --------------------

  /** seed → 72×64 cell-grid GIF bytes ([[gifCellBytes]]). */
  def synthGifCells(seed: Column): Column =
    staticCall(this, "gifCellBytes", BinaryType, nullable = false, seed)

  /** binary → RGB sample stats struct, null when not a decodable GIF. */
  def gifStats(bytes: Column): Column =
    staticCall(this, "gifPixelStats", GifStatsType, nullable = true, bytes)

  /** (w, h, seed) → real-pixel GIF bytes ([[gifPixelBytes]]). */
  def synthGifPixels(w: Column, h: Column, seed: Column): Column =
    staticCall(this, "gifPixelBytes", BinaryType, nullable = false, w, h, seed)
}
