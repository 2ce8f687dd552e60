package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, LongType}

import graft.functions.Expressions.staticCall

/** [EXT] REAL WebP-lossless (VP8L) decode: a spec-complete
  * implementation of the public "WebP Lossless Bitstream
  * Specification" — LSB-first bit reader, simple and normal
  * (code-length-coded) canonical prefix codes, meta prefix groups
  * (entropy image), color cache, LZ77 with the 2D distance mapping,
  * and all four inverse transforms (predictor ×14 modes, color,
  * subtract-green, color-indexing incl. sub-byte pixel bundling) —
  * feeding the SAME shared 9×8 integer dHash core and truncating luma
  * fold as PNG/GIF/JPEG ([[PixelDecode.dhashFromGray]]), so a WebP
  * re-save pairs with its PNG/GIF/JPEG original in one hash space.
  * Lossy WebP (VP8 chunk) genuinely needs a DCT codec and returns
  * null, never a faked value — the [[Mp4Demux]] honesty rule.
  *
  * Reference behavior anchor: /root/reference/lib carries no media
  * decode at all (deimos is a Kafka/schema pipeline library); this
  * file is builder-brief scope — multimodal near-dup for a 100 TB
  * training-data corpus, where WebP is a top-4 image format. Decode
  * work is embarrassingly parallel scan-side compute; nothing here
  * shuffles.
  */
object WebpDecode {

  /** Pixel-count cap: 14-bit dims bound w,h ≤ 16384 by format, this
    * bounds transient ARGB buffers (~64 MB) the way the PNG/GIF
    * decoders bound theirs — a corrupt-but-plausible header can't
    * allocate unbounded memory inside a scan task. */
  private val MaxPixels = 1 << 24

  // ---- bit reader (LSB-first within and across bytes) -------------------

  /** `endByte` bounds reads at the declared VP8L chunk boundary, not
    * the buffer length — trailing RIFF chunks after a truncated or
    * corrupt VP8L payload must set `bad`, never feed entropy decode. */
  private final class Br(b: Array[Byte], start: Int, endByte: Long) {
    private var pos = start.toLong * 8
    private val end = math.min(endByte, b.length.toLong) * 8
    var bad = false
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        if (pos >= end) { bad = true; return v }
        val bit = (b((pos >> 3).toInt) >> (pos & 7).toInt) & 1
        v |= bit << i
        pos += 1
        i += 1
      }
      v
    }
  }

  // ---- canonical prefix codes -------------------------------------------

  /** Decode tree as flat arrays: child(node)(bit) < 0 ⇒ leaf ~symbol.
    * `single` ≥ 0 marks the zero-bit single-symbol code. */
  private final class Tree(val left: Array[Int], val right: Array[Int],
      val single: Int)

  /** Build the canonical code (DEFLATE ordering: codes assigned in
    * increasing (length, symbol) order; bits read root-first = MSB of
    * the code first). Returns null for an invalid (over/under-full)
    * code — except the one-symbol case, which the spec defines as a
    * zero-bit code. */
  private def buildTree(lengths: Array[Int]): Tree = {
    val n = lengths.length
    var used = 0; var lastSym = -1
    var maxLen = 0
    var i = 0
    while (i < n) {
      if (lengths(i) > 0) { used += 1; lastSym = i
        if (lengths(i) > maxLen) maxLen = lengths(i) }
      i += 1
    }
    if (used == 0) return null
    if (used == 1) return new Tree(null, null, lastSym)
    if (maxLen > 15) return null
    // Kraft check + canonical next_code
    val count = new Array[Int](maxLen + 1)
    i = 0
    while (i < n) { if (lengths(i) > 0) count(lengths(i)) += 1; i += 1 }
    var code = 0
    val next = new Array[Int](maxLen + 1)
    var len = 1
    while (len <= maxLen) {
      code = (code + count(len - 1)) << 1
      next(len) = code
      len += 1
    }
    if (next(maxLen) + count(maxLen) != (1 << maxLen)) return null // not full
    val cap = 2 * used // internal nodes of a full binary tree with `used` leaves
    val left = Array.fill(cap)(0)
    val right = Array.fill(cap)(0)
    var nodes = 1
    i = 0
    while (i < n) {
      val l = lengths(i)
      if (l > 0) {
        val c = next(l); next(l) += 1
        var node = 0
        var bit = l - 1
        while (bit >= 0) {
          val goRight = ((c >> bit) & 1) == 1
          val arr = if (goRight) right else left
          if (bit == 0) arr(node) = ~i
          else {
            if (arr(node) == 0) { arr(node) = nodes; nodes += 1
              if (nodes > cap) return null }
            node = arr(node)
          }
          bit -= 1
        }
      }
      i += 1
    }
    new Tree(left, right, -1)
  }

  private def readSymbol(t: Tree, br: Br): Int = {
    if (t.single >= 0) return t.single
    var node = 0
    while (true) {
      val child = if (br.bits(1) == 1) t.right(node) else t.left(node)
      if (br.bad) return -1
      if (child < 0) return ~child
      if (child == 0) return -1 // walked into an unassigned branch
      node = child
    }
    -1
  }

  private val CodeLengthOrder = Array(
    17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  /** One prefix code: simple (1–2 symbols) or code-length-coded. */
  private def readCode(br: Br, alphabetSize: Int): Tree = {
    if (br.bits(1) == 1) { // simple
      val numSymbols = br.bits(1) + 1
      val first8 = br.bits(1) == 1
      val s0 = br.bits(if (first8) 8 else 1)
      if (s0 >= alphabetSize) return null
      if (numSymbols == 1) {
        if (br.bad) return null
        return new Tree(null, null, s0)
      }
      val s1 = br.bits(8)
      if (s1 >= alphabetSize || s1 == s0 || br.bad) return null
      // simple codes assign bit 0 to the FIRST listed symbol, bit 1 to
      // the second — listed order, NOT canonical symbol order
      new Tree(Array(~s0), Array(~s1), -1)
    } else {
      val numCl = 4 + br.bits(4)
      val clLengths = new Array[Int](19)
      var i = 0
      while (i < numCl) { clLengths(CodeLengthOrder(i)) = br.bits(3); i += 1 }
      if (br.bad) return null
      val clTree = buildTree(clLengths)
      if (clTree == null) return null
      val lengths = new Array[Int](alphabetSize)
      var maxSymbol =
        if (br.bits(1) == 1) {
          val nbits = 2 + 2 * br.bits(3)
          2 + br.bits(nbits)
        } else alphabetSize
      if (maxSymbol > alphabetSize) return null
      var symbol = 0
      var prevLen = 8
      while (symbol < alphabetSize && maxSymbol > 0) {
        maxSymbol -= 1
        val cl = readSymbol(clTree, br)
        if (cl < 0 || br.bad) return null
        if (cl < 16) {
          lengths(symbol) = cl; symbol += 1
          if (cl != 0) prevLen = cl
        } else {
          val (extra, offset, fill) = cl match {
            case 16 => (2, 3, prevLen)
            case 17 => (3, 3, 0)
            case _ => (7, 11, 0)
          }
          var repeat = br.bits(extra) + offset
          if (symbol + repeat > alphabetSize) return null
          while (repeat > 0) { lengths(symbol) = fill; symbol += 1; repeat -= 1 }
        }
      }
      if (br.bad) return null
      buildTree(lengths)
    }
  }

  // ---- LZ77 helpers ------------------------------------------------------

  /** Length/distance prefix decoding (shared by both): first 4 codes
    * literal 1..4; beyond that (2 + low bit) << extra + extra bits. */
  private def lz77Value(prefixCode: Int, br: Br): Int = {
    if (prefixCode < 4) prefixCode + 1
    else {
      val extraBits = (prefixCode - 2) >> 1
      val offset = (2 + (prefixCode & 1)) << extraBits
      offset + br.bits(extraBits) + 1
    }
  }

  /** The spec's 120-entry 2D distance map: byte v ⇒ (dy = v >> 4,
    * dx = 8 − (v & 15)); codes beyond 120 are linear. The table is
    * the near-neighborhood offsets ordered by closeness (pinned by
    * spec: it is a permutation of all (dy 0..7, dx −7..8) minus the
    * non-causal (0, dx ≤ 0) row, with non-decreasing dx²+dy² —
    * WebpDecodeSpec asserts both). */
  private val CodeToPlane: Array[Int] = Array(
    0x18, 0x07, 0x17, 0x19, 0x28, 0x06, 0x27, 0x29, 0x16, 0x1a,
    0x26, 0x2a, 0x38, 0x05, 0x37, 0x39, 0x15, 0x1b, 0x36, 0x3a,
    0x25, 0x2b, 0x48, 0x04, 0x47, 0x49, 0x14, 0x1c, 0x35, 0x3b,
    0x46, 0x4a, 0x24, 0x2c, 0x58, 0x45, 0x4b, 0x34, 0x3c, 0x03,
    0x57, 0x59, 0x13, 0x1d, 0x56, 0x5a, 0x23, 0x2d, 0x44, 0x4c,
    0x55, 0x5b, 0x33, 0x3d, 0x68, 0x02, 0x67, 0x69, 0x12, 0x1e,
    0x66, 0x6a, 0x22, 0x2e, 0x54, 0x5c, 0x43, 0x4d, 0x65, 0x6b,
    0x32, 0x3e, 0x78, 0x01, 0x77, 0x79, 0x53, 0x5d, 0x11, 0x1f,
    0x64, 0x6c, 0x42, 0x4e, 0x76, 0x7a, 0x21, 0x2f, 0x75, 0x7b,
    0x31, 0x3f, 0x63, 0x6d, 0x52, 0x5e, 0x00, 0x74, 0x7c, 0x41,
    0x4f, 0x10, 0x20, 0x62, 0x6e, 0x30, 0x73, 0x7d, 0x51, 0x5f,
    0x40, 0x72, 0x7e, 0x61, 0x6f, 0x50, 0x71, 0x7f, 0x60, 0x70)

  private[ext] def planeCodeToDistance(xsize: Int, planeCode: Int): Int =
    if (planeCode > 120) planeCode - 120
    else {
      val v = CodeToPlane(planeCode - 1)
      val dist = (v >> 4) * xsize + (8 - (v & 0xf))
      if (dist >= 1) dist else 1
    }

  // ---- transforms ---------------------------------------------------------

  private final case class Transform(kind: Int, sizeBits: Int,
      data: Array[Int], dataW: Int)

  private def avg2(a: Int, b: Int): Int = {
    // per-channel (a + b) / 2 without cross-channel carry
    (((a ^ b) & 0xfefefefe) >>> 1) + (a & b)
  }

  private def addPixels(a: Int, b: Int): Int = {
    // per-channel byte add, wrap mod 256
    val low = ((a & 0x00ff00ff) + (b & 0x00ff00ff)) & 0x00ff00ff
    val high = ((a & 0xff00ff00) >>> 8) + ((b & 0xff00ff00) >>> 8)
    ((high & 0x00ff00ff) << 8) | low
  }

  private def clip255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private def clampAddSubtractFull(l: Int, t: Int, tl: Int): Int = {
    var out = 0
    var shift = 0
    while (shift < 32) {
      val c = clip255(((l >>> shift) & 0xff) + ((t >>> shift) & 0xff) -
        ((tl >>> shift) & 0xff))
      out |= c << shift
      shift += 8
    }
    out
  }

  private def clampAddSubtractHalf(ave: Int, tl: Int): Int = {
    var out = 0
    var shift = 0
    while (shift < 32) {
      val a = (ave >>> shift) & 0xff
      val b = (tl >>> shift) & 0xff
      val c = clip255(a + (a - b) / 2) // truncation toward zero, per spec
      out |= c << shift
      shift += 8
    }
    out
  }

  private def select(top: Int, left: Int, topLeft: Int): Int = {
    var s = 0
    var shift = 0
    while (shift < 32) {
      val l = (left >>> shift) & 0xff
      val t = (top >>> shift) & 0xff
      val tl = (topLeft >>> shift) & 0xff
      s += math.abs(l - tl) - math.abs(t - tl)
      shift += 8
    }
    if (s <= 0) top else left
  }

  private def predict(mode: Int, l: Int, t: Int, tr: Int, tl: Int): Int =
    mode match {
      case 0 => 0xff000000
      case 1 => l
      case 2 => t
      case 3 => tr
      case 4 => tl
      case 5 => avg2(avg2(l, tr), t)
      case 6 => avg2(l, tl)
      case 7 => avg2(l, t)
      case 8 => avg2(tl, t)
      case 9 => avg2(t, tr)
      case 10 => avg2(avg2(l, tl), avg2(t, tr))
      case 11 => select(t, l, tl)
      case 12 => clampAddSubtractFull(l, t, tl)
      case 13 => clampAddSubtractHalf(avg2(l, t), tl)
      case _ => 0 // 14/15 invalid; caller rejects
    }

  /** Inverse predictor: residuals + prediction, per tile mode; border
    * rules per spec ((0,0) black, top row = L, left col = T, right
    * edge TR = leftmost pixel of the SAME row). */
  private def inversePredictor(px: Array[Int], w: Int, h: Int,
      tf: Transform): Boolean = {
    val bits = tf.sizeBits
    var y = 0
    var i = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val pred =
          if (x == 0 && y == 0) 0xff000000
          else if (y == 0) px(i - 1) // top row: L
          else if (x == 0) px(i - w) // left column: T
          else {
            val mode = (tf.data((y >> bits) * tf.dataW + (x >> bits)) >>> 8) & 0xff
            if (mode > 13) return false
            val l = px(i - 1)
            val t = px(i - w)
            val tl = px(i - w - 1)
            val tr = if (x + 1 < w) px(i - w + 1) else px(i - x) // row start
            predict(mode, l, t, tr, tl)
          }
        px(i) = addPixels(px(i), pred)
        x += 1; i += 1
      }
      y += 1
    }
    true
  }

  private def colorDelta(t: Int, c: Int): Int = {
    // both operands as signed int8, product >> 5 (arithmetic)
    (t.toByte.toInt * c.toByte.toInt) >> 5
  }

  private def inverseColorTransform(px: Array[Int], w: Int, h: Int,
      tf: Transform): Unit = {
    val bits = tf.sizeBits
    var y = 0
    var i = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val cte = tf.data((y >> bits) * tf.dataW + (x >> bits))
        val g2r = cte & 0xff          // blue channel of the tile pixel
        val g2b = (cte >>> 8) & 0xff  // green channel
        val r2b = (cte >>> 16) & 0xff // red channel
        val v = px(i)
        val g = (v >>> 8) & 0xff
        var r = (v >>> 16) & 0xff
        var b = v & 0xff
        r = (r + colorDelta(g2r, g)) & 0xff
        b = (b + colorDelta(g2b, g)) & 0xff
        b = (b + colorDelta(r2b, r)) & 0xff
        px(i) = (v & 0xff00ff00.toInt) | (r << 16) | b
        x += 1; i += 1
      }
      y += 1
    }
  }

  private def inverseSubtractGreen(px: Array[Int]): Unit = {
    var i = 0
    while (i < px.length) {
      val v = px(i)
      val g = (v >>> 8) & 0xff
      val r = (((v >>> 16) & 0xff) + g) & 0xff
      val b = ((v & 0xff) + g) & 0xff
      px(i) = (v & 0xff00ff00.toInt) | (r << 16) | b
      i += 1
    }
  }

  /** Color-indexing inverse: indices live in the GREEN channel,
    * possibly bundled sub-byte (palette ≤ 16); out-of-range index ⇒
    * transparent black per spec. Returns the w×h expanded plane. */
  private def inverseColorIndexing(px: Array[Int], packedW: Int, w: Int,
      h: Int, palette: Array[Int], widthBits: Int): Array[Int] = {
    val out = new Array[Int](w * h)
    val perByte = 1 << widthBits
    val idxBits = 8 >> widthBits
    val idxMask = (1 << idxBits) - 1
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val packed = px(y * packedW + (x >> widthBits))
        val green = (packed >>> 8) & 0xff
        val sub = if (widthBits == 0) green
          else (green >>> (idxBits * (x & (perByte - 1)))) & idxMask
        out(y * w + x) = if (sub < palette.length) palette(sub) else 0
        x += 1
      }
      y += 1
    }
    out
  }

  // ---- the image-stream decoder -------------------------------------------

  private[ext] final class Decoded(val px: Array[Int], val w: Int, val h: Int)

  /** One image stream (the main ARGB image at level 0; entropy/
    * predictor/color/palette images recurse at level > 0). Returns
    * null on any malformed construct. */
  private def decodeStream(br: Br, width: Int, height: Int,
      isLevel0: Boolean): Decoded = {
    if (width <= 0 || height <= 0 ||
      width.toLong * height > MaxPixels) return null
    var w = width
    val transforms = scala.collection.mutable.ArrayBuffer.empty[Transform]
    var palette: Array[Int] = null
    var paletteWidthBits = 0
    var fullW = width
    if (isLevel0) {
      var seen = 0
      while (br.bits(1) == 1) {
        if (br.bad) return null
        val kind = br.bits(2)
        if ((seen & (1 << kind)) != 0) return null // each at most once
        seen |= 1 << kind
        kind match {
          case 0 | 1 => // predictor / color: tile image
            val bits = br.bits(3) + 2
            val tw = (w + (1 << bits) - 1) >> bits
            val th = (height + (1 << bits) - 1) >> bits
            val sub = decodeStream(br, tw, th, isLevel0 = false)
            if (sub == null) return null
            transforms += Transform(kind, bits, sub.px, sub.w)
          case 2 => // subtract-green
            transforms += Transform(2, 0, null, 0)
          case _ => // color indexing
            val size = br.bits(8) + 1
            val sub = decodeStream(br, size, 1, isLevel0 = false)
            if (sub == null) return null
            // palette entries are per-channel deltas from the previous
            palette = new Array[Int](size)
            var prev = 0
            var i = 0
            while (i < size) {
              prev = addPixels(prev, sub.px(i)); palette(i) = prev; i += 1
            }
            paletteWidthBits =
              if (size <= 2) 3 else if (size <= 4) 2
              else if (size <= 16) 1 else 0
            fullW = w
            w = (w + (1 << paletteWidthBits) - 1) >> paletteWidthBits
            transforms += Transform(3, paletteWidthBits, null, 0)
        }
        if (br.bad) return null
      }
      if (br.bad) return null
    }
    // color cache
    var cacheBits = 0
    if (br.bits(1) == 1) {
      cacheBits = br.bits(4)
      if (cacheBits < 1 || cacheBits > 11) return null
    }
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null
    // meta prefix groups (level 0 only)
    var metaData: Array[Int] = null
    var metaW = 0
    var metaBits = 0
    var numGroups = 1
    if (isLevel0 && br.bits(1) == 1) {
      metaBits = br.bits(3) + 2
      val mw = (w + (1 << metaBits) - 1) >> metaBits
      val mh = (height + (1 << metaBits) - 1) >> metaBits
      val meta = decodeStream(br, mw, mh, isLevel0 = false)
      if (meta == null) return null
      metaData = meta.px
      metaW = meta.w
      var maxIdx = 0
      var i = 0
      while (i < metaData.length) {
        val idx = (metaData(i) >>> 8) & 0xffff
        if (idx > maxIdx) maxIdx = idx
        i += 1
      }
      numGroups = maxIdx + 1
      if (numGroups > (1 << 16)) return null
    }
    if (br.bad) return null
    // prefix code groups: 5 codes each
    val alphabets = Array(256 + 24 + cacheSize, 256, 256, 256, 40)
    val groups = new Array[Array[Tree]](numGroups)
    var gi = 0
    while (gi < numGroups) {
      val g = new Array[Tree](5)
      var ci = 0
      while (ci < 5) {
        g(ci) = readCode(br, alphabets(ci))
        if (g(ci) == null || br.bad) return null
        ci += 1
      }
      groups(gi) = g
      gi += 1
    }
    // pixels
    val n = w * height
    val px = new Array[Int](n)
    var pos = 0
    while (pos < n) {
      val x = pos % w
      val y = pos / w
      val g =
        if (metaData == null) groups(0)
        else {
          val idx = (metaData((y >> metaBits) * metaW + (x >> metaBits)) >>> 8) & 0xffff
          if (idx >= numGroups) return null
          groups(idx)
        }
      val s = readSymbol(g(0), br)
      if (s < 0 || br.bad) return null
      if (s < 256) {
        val red = readSymbol(g(1), br)
        val blue = readSymbol(g(2), br)
        val alpha = readSymbol(g(3), br)
        if (red < 0 || blue < 0 || alpha < 0 || br.bad) return null
        val argb = (alpha << 24) | (red << 16) | (s << 8) | blue
        px(pos) = argb
        if (cache != null)
          cache((0x1e35a7bd * argb) >>> (32 - cacheBits)) = argb
        pos += 1
      } else if (s < 256 + 24) {
        val length = lz77Value(s - 256, br)
        val distPrefix = readSymbol(g(4), br)
        if (distPrefix < 0 || br.bad) return null
        val distCode = lz77Value(distPrefix, br)
        val dist = planeCodeToDistance(w, distCode)
        if (dist > pos || pos + length > n) return null
        var k = 0
        while (k < length) {
          val v = px(pos - dist)
          px(pos) = v
          if (cache != null)
            cache((0x1e35a7bd * v) >>> (32 - cacheBits)) = v
          pos += 1
          k += 1
        }
      } else {
        val idx = s - 256 - 24
        if (cache == null || idx >= cacheSize) return null
        px(pos) = cache(idx)
        pos += 1
      }
    }
    if (br.bad) return null
    // inverse transforms, reverse reading order
    var cur = px
    var curW = w
    var ti = transforms.length - 1
    while (ti >= 0) {
      val tf = transforms(ti)
      tf.kind match {
        case 0 => if (!inversePredictor(cur, curW, height, tf)) return null
        case 1 => inverseColorTransform(cur, curW, height, tf)
        case 2 => inverseSubtractGreen(cur)
        case _ =>
          cur = inverseColorIndexing(cur, curW, fullW, height, palette,
            paletteWidthBits)
          curW = fullW
      }
      ti -= 1
    }
    new Decoded(cur, curW, height)
  }

  /** Full decode of a WebP-lossless payload: RIFF/WEBP/VP8L framing,
    * 0x2f signature, 14-bit dims, version 0. Null for lossy WebP
    * (VP8/VP8X) and anything malformed. */
  private[ext] def decodeVp8l(b: Array[Byte]): Decoded = {
    if (b == null || b.length < 26) return null
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P' &&
      b(12) == 'V' && b(13) == 'P' && b(14) == '8' && b(15) == 'L'))
      return null
    val chunkLen = (b(16) & 0xff) | ((b(17) & 0xff) << 8) |
      ((b(18) & 0xff) << 16) | ((b(19) & 0xff) << 24)
    if (chunkLen < 5 || 20L + chunkLen > b.length) return null
    if ((b(20) & 0xff) != 0x2f) return null
    val br = new Br(b, 21, 20L + chunkLen)
    val w = br.bits(14) + 1
    val h = br.bits(14) + 1
    br.bits(1) // alpha hint
    if (br.bits(3) != 0) return null // version must be 0
    if (br.bad) return null
    decodeStream(br, w, h, isLevel0 = true)
  }

  /** WebP-lossless perceptual dHash: the shared 9×8 core over decoded
    * ARGB with the same truncating luma fold as the PNG path — gray
    * content (r=g=b) hashes BIT-IDENTICALLY across PNG/GIF/WebP.
    * Null when not decodable VP8L or smaller than the grid. */
  def webpDHash64(b: Array[Byte]): java.lang.Long = {
    val d = decodeVp8l(b)
    if (d == null || d.w < 9 || d.h < 8) return null
    val px = d.px
    val w = d.w
    PixelDecode.dhashFromGray(w, d.h, (x, y) => {
      val v = px(y * w + x)
      val r = (v >>> 16) & 0xff
      val g = (v >>> 8) & 0xff
      val bl = v & 0xff
      (299L * r + 587L * g + 114L * bl) / 1000L
    })
  }

  // ---- fixture encoder -----------------------------------------------------

  private final class Bw {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nbits = 0
    def put(v: Int, n: Int): Unit = {
      var i = 0
      while (i < n) {
        cur |= ((v >> i) & 1) << nbits
        nbits += 1
        if (nbits == 8) { out.write(cur); cur = 0; nbits = 0 }
        i += 1
      }
    }
    /** Prefix-code bits go root-first (MSB of the code value first). */
    def putCode(code: Int, len: Int): Unit = {
      var bit = len - 1
      while (bit >= 0) { put((code >> bit) & 1, 1); bit -= 1 }
    }
    def toBytes: Array[Byte] = {
      if (nbits > 0) { out.write(cur); cur = 0; nbits = 0 }
      out.toByteArray
    }
  }

  /** 72×64 gray WebP-lossless rendering [[PixelDecode.cellLevels]] —
    * the cell-grid fixture in its fourth format. A REAL VP8L stream:
    * subtract-green transform (gray ⇒ red/blue residuals 0, coded as
    * one-symbol simple codes), one normal prefix code carrying the 8
    * gray levels at 3 bits each via the full code-length-code
    * machinery. Decodes in any spec-conforming reader; hashes
    * bit-identically to the PNG/GIF cell fixture (WebpDecodeSpec
    * probes all banded seeds). */
  def webpCellBytes(seed: Int): Array[Byte] = {
    val lv = PixelDecode.cellLevels(seed)
    val w = 72; val h = 64
    val bw = new Bw()
    bw.put(0x2f, 8) // signature
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1) // alpha hint
    bw.put(0, 3) // version
    // one transform: subtract-green
    bw.put(1, 1); bw.put(2, 2)
    bw.put(0, 1) // no more transforms
    bw.put(0, 1) // no color cache
    bw.put(0, 1) // no meta prefix
    // code 1 (green/length, 280 symbols): normal, levels 16+32k @ len 3
    bw.put(0, 1) // not simple
    bw.put(2, 4) // num_code_lengths = 6: order 17,18,0,1,2,3
    for (l <- Seq(0, 1, 2, 0, 0, 2)) bw.put(l, 3)
    bw.put(0, 1) // no max_symbol override
    // CL canonical codes: 18→"0", 0→"10", 3→"11"
    def cl18(repeat: Int): Unit = { bw.putCode(0, 1); bw.put(repeat - 11, 7) }
    def cl3(): Unit = bw.putCode(3, 2)
    cl18(16) // symbols 0..15 zero
    var k = 0
    while (k < 8) {
      cl3() // level 16+32k gets length 3
      if (k < 7) cl18(31) // gap to the next level
      k += 1
    }
    cl18(39) // 241..279 zero
    // codes 2,3 (red, blue): simple one-symbol 0 (1-bit form)
    for (_ <- 0 until 2) { bw.put(1, 1); bw.put(0, 1); bw.put(0, 1); bw.put(0, 1) }
    // code 4 (alpha): simple one-symbol 255 (8-bit form)
    bw.put(1, 1); bw.put(0, 1); bw.put(1, 1); bw.put(255, 8)
    // code 5 (distance): simple one-symbol 0
    bw.put(1, 1); bw.put(0, 1); bw.put(0, 1); bw.put(0, 1)
    // pixels: the 8 levels are canonical codes 0..7 (all length 3) in
    // symbol order; red/blue/alpha codes are zero-bit
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        bw.putCode((lv((y >> 3) * 9 + (x >> 3)) - 16) / 32, 3)
        x += 1
      }
      y += 1
    }
    val payload = bw.toBytes
    val out = new java.io.ByteArrayOutputStream(payload.length + 22)
    def w32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >>> 8) & 0xff)
      out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
    }
    out.write("RIFF".getBytes("US-ASCII"))
    val chunk = payload.length
    w32(4 + 8 + chunk + (chunk & 1))
    out.write("WEBP".getBytes("US-ASCII"))
    out.write("VP8L".getBytes("US-ASCII"))
    w32(chunk)
    out.write(payload, 0, payload.length)
    if ((chunk & 1) == 1) out.write(0)
    out.toByteArray
  }

  /** General gray VP8L writer: arbitrary dims, pixel = (seed + x) &
    * 0xff (the [[PixelDecode.pngPixelBytes]] gradient — integer-exact
    * for a SQL oracle). Stream shape: subtract-green + a FLAT 256-way
    * length-8 literal code declared through the max_symbol path (the
    * one code-length construct [[webpCellBytes]] doesn't exercise), so
    * between the two encoders every normal-code branch of the reader
    * is driven by a fixture. */
  def webpGrayBytes(w: Int, h: Int, seed: Int): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 4096 && h <= 4096, s"bad dims ${w}x$h")
    val bw = new Bw()
    bw.put(0x2f, 8)
    bw.put(w - 1, 14); bw.put(h - 1, 14); bw.put(0, 1); bw.put(0, 3)
    bw.put(1, 1); bw.put(2, 2) // subtract-green
    bw.put(0, 1) // no more transforms
    bw.put(0, 1); bw.put(0, 1) // no cache, no meta
    // green: flat 8-bit code over symbols 0..255 via max_symbol
    bw.put(0, 1) // normal
    bw.put(8, 4) // num_code_lengths = 12 (order index of CL symbol 8)
    for (i <- 0 until 12) bw.put(if (i == 11) 1 else 0, 3) // only CL 8 used
    bw.put(1, 1) // use max_symbol
    bw.put(3, 3) // length_nbits = 8
    bw.put(254, 8) // max_symbol = 256; the 256 zero-bit CL reads follow
    // red/blue residuals 0, alpha 255, distance unused
    bw.put(1, 1); bw.put(0, 1); bw.put(0, 1); bw.put(0, 1)
    bw.put(1, 1); bw.put(0, 1); bw.put(0, 1); bw.put(0, 1)
    bw.put(1, 1); bw.put(0, 1); bw.put(1, 1); bw.put(255, 8)
    bw.put(1, 1); bw.put(0, 1); bw.put(0, 1); bw.put(0, 1)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { bw.putCode((seed + x) & 0xff, 8); x += 1 }
      y += 1
    }
    val payload = bw.toBytes
    val out = new java.io.ByteArrayOutputStream(payload.length + 22)
    def w32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >>> 8) & 0xff)
      out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
    }
    out.write("RIFF".getBytes("US-ASCII"))
    w32(4 + 8 + payload.length + (payload.length & 1))
    out.write("WEBP".getBytes("US-ASCII"))
    out.write("VP8L".getBytes("US-ASCII"))
    w32(payload.length)
    out.write(payload, 0, payload.length)
    if ((payload.length & 1) == 1) out.write(0)
    out.toByteArray
  }

  /** Full-decode luma stats (width, height, n_samples, sum_val,
    * min_val, max_val) — the WebP member of the [[Multimodal]]
    * dispatching decoder; same truncating luma fold as the dHash. */
  def webpPixelStats(b: Array[Byte]): org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val d = decodeVp8l(b)
    if (d == null) return null
    var sum = 0L
    var mn = 255
    var mx = 0
    var i = 0
    while (i < d.px.length) {
      val v = d.px(i)
      val l = ((299L * ((v >>> 16) & 0xff) + 587L * ((v >>> 8) & 0xff) +
        114L * (v & 0xff)) / 1000L).toInt
      sum += l
      if (l < mn) mn = l
      if (l > mx) mx = l
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](d.w.toLong, d.h.toLong, d.px.length.toLong, sum, mn, mx))
  }

  // ---- expressions ----------------------------------------------------------

  private val WebpStatsType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("width", LongType),
    org.apache.spark.sql.types.StructField("height", LongType),
    org.apache.spark.sql.types.StructField("n_samples", LongType),
    org.apache.spark.sql.types.StructField("sum_val", LongType),
    org.apache.spark.sql.types.StructField("min_val",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("max_val",
      org.apache.spark.sql.types.IntegerType)))

  // ---- columns (StaticInvoke over the kernels above) --------------------

  /** binary → VP8L luma stats struct, null on anything else. */
  def webpStats(bytes: Column): Column =
    staticCall(this, "webpPixelStats", WebpStatsType, nullable = true, bytes)

  /** (w, h, seed) → gray gradient VP8L bytes ([[webpGrayBytes]]). */
  def synthWebpGray(w: Column, h: Column, seed: Column): Column =
    staticCall(this, "webpGrayBytes", BinaryType, nullable = false, w, h, seed)

  /** seed → WebP-lossless cell-grid bytes ([[webpCellBytes]]). */
  def synthWebpCells(seed: Column): Column =
    staticCall(this, "webpCellBytes", BinaryType, nullable = false, seed)

  /** binary → 64-bit perceptual dHash, null when not decodable VP8L
    * of at least 9×8. */
  def webpDHash(bytes: Column): Column =
    staticCall(this, "webpDHash64", LongType, nullable = true, bytes)
}
