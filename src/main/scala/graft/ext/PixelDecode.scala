package graft.ext

import java.util.zip.{CRC32, Deflater, Inflater}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

import graft.functions.Expressions.staticCall

/** Pure-JVM PIXEL/SAMPLE decode — the step beyond [[MediaProbe]]'s
  * header probes: PNG image data is actually decompressed (IDAT →
  * `java.util.zip.Inflater`) and de-filtered (all five PNG filter
  * types per the public spec §6), and WAV PCM sample frames are read
  * as 16-bit little-endian integers. Both emit channel statistics
  * rather than raw pixels (images: count / sum / min / max; audio
  * adds sum-of-squares so RMS needs no float column):
  * at 100 TB the useful shape is a scan-side reduction per blob, not a
  * multi-megabyte array column. Everything is integer math so the
  * DuckDB oracle can reproduce values exactly (no float hashing).
  *
  * JPEG decode lives in [[ImageIoDecode]] (the JDK's bundled imageio
  * reader) and joins this file's formats in [[imageDHash64]]'s
  * dispatch; compressed-video frame decode genuinely needs native
  * codecs — [[Multimodal]] keeps the mapPartitions plug shape there.
  *
  * Scale shape: one codegen'd expression per blob, embarrassingly
  * parallel, zero shuffle; decompression buffers are sized from the
  * declared dims with a hard cap so a corrupt header cannot allocate
  * unbounded memory on an executor.
  */
object PixelDecode {

  /** Decoded-image statistics over all channel samples (8-bit values
    * 0–255): null when the bytes are not a decodable PNG (bad
    * signature, unsupported depth/color, corrupt deflate stream,
    * wrong pixel count). */
  val ImageStatsType: StructType = StructType(Seq(
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("n_channels", IntegerType),
    StructField("n_samples", LongType),
    StructField("sum_val", LongType),
    StructField("min_val", IntegerType),
    StructField("max_val", IntegerType)))

  /** PCM sample statistics (16-bit signed values): null when not a
    * PCM-16 RIFF/WAVE stream. `sum_sq` enables RMS without emitting a
    * float: rms = sqrt(sum_sq / n). */
  val AudioStatsType: StructType = StructType(Seq(
    StructField("n_channels", IntegerType),
    StructField("sample_rate", LongType),
    StructField("n_samples", LongType),
    StructField("sum_val", LongType),
    StructField("sum_sq", LongType),
    StructField("min_val", IntegerType),
    StructField("max_val", IntegerType)))

  private val PngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
  /** Decompressed-size cap: 64 MiB of raw scanlines per blob. A PNG
    * whose declared dims exceed this decodes to null instead of
    * ballooning executor memory (zip-bomb guard). */
  private val MaxRawBytes = 64L << 20

  private def u32be(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)

  /** Fully decoded PNG: reconstructed (de-filtered) scanlines in
    * `raw`, pixel bytes at `y * stride + 1 + x` for x in
    * [0, w*channels). */
  private[ext] final case class DecodedPng(w: Long, h: Long,
      channels: Int, raw: Array[Byte], stride: Int)

  /** PNG → image stats. Supports bit depth 8, color types 0 (gray),
    * 2 (RGB), 4 (gray+alpha), 6 (RGBA), no interlace — the shapes a
    * training-data pipeline actually stores. Anything else → null. */
  def pngPixelStats(b: Array[Byte]): GenericInternalRow = {
    val d = decodePng(b)
    if (d == null) return null
    val rowBytes = (d.w * d.channels).toInt
    var sum = 0L
    var min = 255
    var max = 0
    var y = 0
    while (y < d.h) {
      val rowAt = y * d.stride + 1
      var x = 0
      while (x < rowBytes) {
        val v = d.raw(rowAt + x) & 0xff
        sum += v
        if (v < min) min = v
        if (v > max) max = v
        x += 1
      }
      y += 1
    }
    new GenericInternalRow(Array[Any](d.w, d.h, d.channels,
      rowBytes.toLong * d.h, sum, min, max))
  }

  /** Decode + NEAREST-NEIGHBOR resize + stats — the feature-extract /
    * thumbnail step after decode: the (tw × th) resample maps output
    * pixel (x', y') to source pixel (x'·w/tw, y'·h/th) (integer floor
    * — the standard nearest rule), and the emitted stats run over the
    * RESIZED samples, so a wrong mapping or a dropped row hash-fails
    * against an arithmetic oracle. Same scan-side scale shape as
    * [[pngPixelStats]]: stats out, never a pixel array column. */
  def pngResizeNearestStats(b: Array[Byte], tw: Int,
      th: Int): GenericInternalRow = {
    if (tw <= 0 || th <= 0) return null
    val d = decodePng(b)
    if (d == null) return null
    var sum = 0L
    var min = 255
    var max = 0
    var y = 0
    while (y < th) {
      val srcY = (y.toLong * d.h / th).toInt
      val rowAt = srcY * d.stride + 1
      var x = 0
      while (x < tw) {
        val srcX = (x.toLong * d.w / tw).toInt
        var c = 0
        while (c < d.channels) {
          val v = d.raw(rowAt + srcX * d.channels + c) & 0xff
          sum += v
          if (v < min) min = v
          if (v > max) max = v
          c += 1
        }
        x += 1
      }
      y += 1
    }
    new GenericInternalRow(Array[Any](tw.toLong, th.toLong, d.channels,
      tw.toLong * th * d.channels, sum, min, max))
  }

  private[ext] def decodePng(b: Array[Byte]): DecodedPng = {
    if (b == null || b.length < 45) return null
    var i = 0
    while (i < 8) { if (b(i) != PngSig(i)) return null; i += 1 }
    // IHDR must be first
    if (!(b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R'))
      return null
    val w = u32be(b, 16)
    val h = u32be(b, 20)
    val depth = b(24) & 0xff
    val colorType = b(25) & 0xff
    val interlace = b(28) & 0xff
    if (w <= 0 || h <= 0 || depth != 8 || interlace != 0) return null
    // dim pre-check BEFORE multiplying: u32 dims up to 2^32-1 would
    // overflow (rowBytes+1)*h past Long into a small/negative value
    // that slips under the byte cap — then allocate garbage
    if (w > MaxRawBytes || h > MaxRawBytes) return null
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4
      case _ => return null
    }
    val rowBytes = w * channels
    val rawLen = (rowBytes + 1) * h // dims ≤ 2^26 ⇒ no Long overflow
    if (rawLen > MaxRawBytes) return null

    // concatenate IDAT payloads (a writer may split the stream)
    val idat = new java.io.ByteArrayOutputStream(math.min(b.length, 1 << 16))
    var at = 8
    var sawEnd = false
    while (!sawEnd && at + 8 <= b.length) {
      val len = u32be(b, at)
      if (len < 0 || at + 12 + len > b.length) return null // truncated
      val typ = new String(b, at + 4, 4, "US-ASCII")
      if (typ == "IDAT") idat.write(b, at + 8, len.toInt)
      else if (typ == "IEND") sawEnd = true
      at += 12 + len.toInt
    }
    val deflated = idat.toByteArray
    if (deflated.isEmpty) return null

    // inflate to exactly rawLen bytes of filtered scanlines
    val raw = new Array[Byte](rawLen.toInt)
    val inf = new Inflater()
    try {
      inf.setInput(deflated)
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        // all input was provided up front and output space remains, so
        // zero progress means the stream is truncated OR demands a
        // preset dictionary (FDICT) — either way null, never a spin
        if (n == 0) return null
        off += n
      }
      if (off != raw.length) return null // pixel count mismatch
      // drain the zlib trailer so the Adler-32 check actually runs —
      // without this a corrupted stream that still decompresses to the
      // right length would pass silently; with it, inflate() throws on
      // a bad checksum. Any surplus decompressed bytes are corruption.
      if (!inf.finished() && inf.inflate(new Array[Byte](1)) > 0) return null
      if (!inf.finished()) return null
    } catch {
      case _: java.util.zip.DataFormatException => return null
    } finally inf.end()

    // de-filter in place per PNG spec §6: each scanline is
    // [filterByte, data…]; predictors use the RECONSTRUCTED left /
    // up / up-left bytes
    val bpp = channels // 8-bit: bytes per pixel == channels
    val stride = rowBytes.toInt + 1
    var y = 0
    while (y < h) {
      val rowAt = y * stride
      val filter = raw(rowAt) & 0xff
      var x = 0
      while (x < rowBytes) {
        val p = rowAt + 1 + x
        val a = if (x >= bpp) raw(p - bpp) & 0xff else 0 // left
        val up = if (y > 0) raw(p - stride) & 0xff else 0 // up
        val c = if (x >= bpp && y > 0) raw(p - stride - bpp) & 0xff else 0
        val cur = raw(p) & 0xff
        val recon = filter match {
          case 0 => cur
          case 1 => cur + a
          case 2 => cur + up
          case 3 => cur + ((a + up) >> 1)
          case 4 =>
            // Paeth predictor
            val pp = a + up - c
            val pa = math.abs(pp - a); val pb = math.abs(pp - up)
            val pc = math.abs(pp - c)
            cur + (if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c)
          case _ => return null // invalid filter byte
        }
        raw(p) = (recon & 0xff).toByte
        x += 1
      }
      y += 1
    }

    DecodedPng(w, h, channels, raw, stride)
  }

  /** WAV → PCM-16 sample stats over ALL interleaved samples. Reuses
    * the RIFF walk discipline of [[MediaProbe.probeWav]] (null on
    * garbage, Long cursor against corrupt lengths); only PCM format 1
    * at 16 bits is decoded — anything else → null. */
  def wavSampleStats(b: Array[Byte]): GenericInternalRow =
    wavStatsCore(b, 1)

  /** Decode + DECIMATE + stats — the audio transform step after
    * decode (sample-rate reduction / feature extraction): every
    * `stride`-th interleaved sample is kept and the stats run over
    * the KEPT samples, so a wrong step or phase hash-fails against an
    * arithmetic oracle. For multi-channel audio pass a stride that is
    * a multiple of the channel count to stay frame-aligned.
    * `n_samples` reports the DECIMATED count. */
  def wavDecimateStats(b: Array[Byte], stride: Int): GenericInternalRow =
    if (stride < 1) null else wavStatsCore(b, stride)

  /** Parsed PCM-16 WAV geometry — the RIFF chunk walk shared by the
    * stats and fingerprint paths (null for anything not PCM-16). */
  private[ext] final case class WavPcm(channels: Int, sampleRate: Long,
      dataAt: Long, dataLen: Long)

  private[ext] def wavPcmHeader(b: Array[Byte]): WavPcm = {
    if (b == null || b.length < 44) return null
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'))
      return null
    def u16le(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    def u32le(i: Int): Long =
      (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
        ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    var i = 12L
    var fmt = -1
    var channels = -1
    var sampleRate = -1L
    var bits = -1
    var dataAt = -1L
    var dataLen = -1L
    var corrupt = false
    while (!corrupt && i + 8 <= b.length && (channels < 0 || dataAt < 0)) {
      val at = i.toInt
      val id = new String(b, at, 4, "US-ASCII")
      val len = u32le(at + 4)
      if (id == "fmt " && i + 8 + 16 <= b.length) {
        fmt = u16le(at + 8)
        channels = u16le(at + 10)
        sampleRate = u32le(at + 12)
        bits = u16le(at + 22)
      } else if (id == "data") {
        dataAt = i + 8
        dataLen = len
      }
      val next = i + 8L + len + (len & 1L)
      if (next <= i) corrupt = true else i = next
    }
    if (corrupt || fmt != 1 || bits != 16 || channels <= 0 || sampleRate <= 0)
      return null
    if (dataAt < 0 || dataAt + dataLen > b.length) return null
    WavPcm(channels, sampleRate, dataAt, dataLen)
  }

  private def wavStatsCore(b: Array[Byte],
      stride: Int): GenericInternalRow = {
    val hdr = wavPcmHeader(b)
    if (hdr == null) return null
    val channels = hdr.channels
    val sampleRate = hdr.sampleRate
    val dataAt = hdr.dataAt
    val dataLen = hdr.dataLen
    val n = dataLen / 2
    var sum = 0L
    var sumSq = 0L
    var min = Int.MaxValue
    var max = Int.MinValue
    var taken = 0L
    var k = 0L
    while (k < n) {
      val at = (dataAt + k * 2).toInt
      // 16-bit signed little-endian
      val v = ((b(at) & 0xff) | (b(at + 1) << 8)).toShort.toInt
      sum += v
      sumSq += v.toLong * v
      if (v < min) min = v
      if (v > max) max = v
      taken += 1
      k += stride
    }
    if (taken == 0) { min = 0; max = 0 }
    new GenericInternalRow(Array[Any](channels, sampleRate, taken, sum,
      sumSq, min, max))
  }

  /** 64-bit audio energy fingerprint over the decoded PCM stream: the
    * interleaved samples split into 65 equal index blocks, each
    * block's |sample| mass summed in Long (exact), and bit i is set
    * iff block i+1 carries strictly more mass than block i — the
    * audio analog of [[pngDHash64]]'s brightness deltas (Haitsma-
    * Kalker-style sign-of-energy-delta, integer-exact so two engines
    * agree to the bit). Identical streams ⇒ identical fingerprint; a
    * local edit flips few bits. Null for non-PCM-16 input or streams
    * shorter than 65 samples (a block would be empty). */
  def wavFingerprint64(b: Array[Byte]): java.lang.Long = {
    val hdr = wavPcmHeader(b)
    if (hdr == null) return null
    val dataAt = hdr.dataAt
    val n = (hdr.dataLen / 2).toInt
    if (n < 65) return null
    val mass = new Array[Long](65)
    var blk = 0
    while (blk < 65) {
      val k0 = blk.toLong * n / 65
      val k1 = (blk + 1).toLong * n / 65
      var s = 0L
      var k = k0
      while (k < k1) {
        val at = (dataAt + k * 2).toInt
        val v = ((b(at) & 0xff) | (b(at + 1) << 8)).toShort.toInt
        s += math.abs(v)
        k += 1
      }
      mass(blk) = s
      blk += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (mass(j + 1) > mass(j)) out |= 1L << j
      j += 1
    }
    java.lang.Long.valueOf(out)
  }

  /** REAL integer-decimation resample: every `stride`-th FRAME of a
    * PCM-16 WAV rewritten as a new WAV at sampleRate/stride — the
    * canonical-rate normalization step of an audio ingest pipeline.
    * Null when the input isn't PCM-16 or the stride doesn't divide
    * the declared rate (the declared rate of the output must stay
    * exact). Frame-wise (all channels of a kept frame survive), so
    * the operation is channel-count-agnostic. */
  def wavResampleBytes(b: Array[Byte], stride: Int): Array[Byte] = {
    if (stride < 1) return null
    val hdr = wavPcmHeader(b)
    if (hdr == null || hdr.sampleRate % stride != 0) return null
    val ch = hdr.channels
    val frames = (hdr.dataLen / 2 / ch).toInt
    val outFrames = (frames + stride - 1) / stride
    val dataLen = outFrames * ch * 2
    val out = new java.io.ByteArrayOutputStream(44 + dataLen)
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
      out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
    }
    val rate = hdr.sampleRate / stride
    val blockAlign = ch * 2
    out.write("RIFF".getBytes("US-ASCII")); w32(36L + dataLen)
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); w32(16L)
    w16(1); w16(ch); w32(rate); w32(rate * blockAlign)
    w16(blockAlign); w16(16)
    out.write("data".getBytes("US-ASCII")); w32(dataLen.toLong)
    var f = 0
    while (f < outFrames) {
      val at = (hdr.dataAt + f.toLong * stride * blockAlign).toInt
      var c = 0
      while (c < ch * 2) { out.write(b(at + c) & 0xff); c += 1 }
      f += 1
    }
    out.toByteArray
  }

  /** [[wavFingerprint64]] normalized to a canonical sample rate: the
    * stream is frame-decimated to `canonicalRate` BEFORE the 65-block
    * energy-delta fingerprint, so an original and its integer-ratio
    * re-sample ([[wavResampleBytes]]) carry BIT-IDENTICAL fingerprints
    * — the audio analog of the JPEG/WebP cross-format dHash guarantee
    * (theorem: both sides decimate to the same frame sequence; probed
    * exhaustively over the banded seeds in WavResampleSpec). Null for
    * non-PCM-16 input, a rate the canonical rate doesn't divide
    * (a fractional-ratio resample genuinely needs interpolation — we
    * return null, never a nearby guess), or fewer than 65 decimated
    * samples. */
  def wavFingerprintAt64(b: Array[Byte], canonicalRate: Int): java.lang.Long = {
    if (canonicalRate < 1) return null
    val hdr = wavPcmHeader(b)
    if (hdr == null || hdr.sampleRate % canonicalRate != 0) return null
    val stride = (hdr.sampleRate / canonicalRate).toInt
    val ch = hdr.channels
    val frames = (hdr.dataLen / 2 / ch).toInt
    val outFrames = (frames + stride - 1) / stride
    val n = outFrames * ch
    if (n < 65) return null
    val blockAlign = ch * 2
    val mass = new Array[Long](65)
    var blk = 0
    while (blk < 65) {
      val k0 = blk.toLong * n / 65
      val k1 = (blk + 1).toLong * n / 65
      var s = 0L
      var k = k0
      while (k < k1) {
        val frame = (k / ch) * stride
        val chan = (k % ch).toInt
        val at = (hdr.dataAt + frame * blockAlign + chan * 2).toInt
        val v = ((b(at) & 0xff) | (b(at + 1) << 8)).toShort.toInt
        s += math.abs(v)
        k += 1
      }
      mass(blk) = s
      blk += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (mass(j + 1) > mass(j)) out |= 1L << j
      j += 1
    }
    java.lang.Long.valueOf(out)
  }

  // ---- synthesizers (fixtures with REAL pixel/sample payloads) ---------

  private def crc32(body: Array[Byte]): Long = {
    val c = new CRC32(); c.update(body, 0, body.length); c.getValue
  }

  /** Shared gray-PNG writer for the synth fixtures: pixels from the
    * caller's accessor, scanline filters CYCLING through all five
    * types (y mod 5) so a decoder must implement every unfilter
    * correctly, stream genuinely deflated. */
  private def grayPngFromFn(w: Int, h: Int, px: (Int, Int) => Int): Array[Byte] = {
    require(w > 0 && h > 0, s"bad dims ${w}x$h")
    val stride = w + 1
    val raw = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      val filter = y % 5
      raw(y * stride) = filter.toByte
      var x = 0
      while (x < w) {
        val recon = px(x, y)
        val a = if (x >= 1) px(x - 1, y) else 0
        val up = if (y > 0) px(x, y - 1) else 0
        val c = if (x >= 1 && y > 0) px(x - 1, y - 1) else 0
        val filtered = filter match {
          case 0 => recon
          case 1 => recon - a
          case 2 => recon - up
          case 3 => recon - ((a + up) >> 1)
          case 4 =>
            val pp = a + up - c
            val pa = math.abs(pp - a); val pb = math.abs(pp - up)
            val pc = math.abs(pp - c)
            recon - (if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c)
        }
        raw(y * stride + 1 + x) = (filtered & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val def_ = new Deflater()
    def_.setInput(raw); def_.finish()
    val zOut = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!def_.finished()) zOut.write(buf, 0, def_.deflate(buf))
    def_.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSig, 0, PngSig.length)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val len = data.length
      out.write((len >>> 24) & 0xff); out.write((len >>> 16) & 0xff)
      out.write((len >>> 8) & 0xff); out.write(len & 0xff)
      val body = typ.getBytes("US-ASCII") ++ data
      out.write(body, 0, body.length)
      val crc = crc32(body)
      out.write(((crc >>> 24) & 0xff).toInt); out.write(((crc >>> 16) & 0xff).toInt)
      out.write(((crc >>> 8) & 0xff).toInt); out.write((crc & 0xff).toInt)
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = ((w >>> 24) & 0xff).toByte; ihdr(1) = ((w >>> 16) & 0xff).toByte
    ihdr(2) = ((w >>> 8) & 0xff).toByte; ihdr(3) = (w & 0xff).toByte
    ihdr(4) = ((h >>> 24) & 0xff).toByte; ihdr(5) = ((h >>> 16) & 0xff).toByte
    ihdr(6) = ((h >>> 8) & 0xff).toByte; ihdr(7) = (h & 0xff).toByte
    ihdr(8) = 8 // bit depth
    ihdr(9) = 0 // color type: grayscale
    chunk("IHDR", ihdr)
    chunk("IDAT", zOut.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Grayscale 8-bit PNG with REAL pixels: value(x, y) = (seed + x)
    * mod 256 — y-independent so an oracle needs only a series over x.
    * Scanline filters CYCLE through all five types (y mod 5), so a
    * decoder must implement every unfilter correctly to recover the
    * pixels; the stream is genuinely deflated. */
  def pngPixelBytes(w: Int, h: Int, seed: Int): Array[Byte] =
    grayPngFromFn(w, h, (x, _) => (seed + x) & 0xff)

  /** Grayscale 8-bit PNG with seed-KEYED texture pixels: a
    * murmur-finalizer avalanche over (seed, x, y) (see px below). Unlike [[pngPixelBytes]]'s
    * smooth gradient — whose perceptual hash is nearly
    * seed-independent — two different seeds here give ~independent
    * textures, so perceptual-hash distances across seeds are large
    * while equal seeds are byte-identical: the fixture an image
    * near-dup operator needs. Same filter-cycling (y mod 5) + real
    * deflate discipline as [[pngPixelBytes]]. */
  def pngTextureBytes(w: Int, h: Int, seed: Int): Array[Byte] = {
    def px(x: Int, y: Int): Int = {
      // murmur-style finalizer: a bare golden-ratio multiply is LINEAR
      // in the seed (nearby seeds shift every product by a constant,
      // often below the kept top byte), which collapsed the
      // fingerprint space; xorshift+multiply avalanches constant
      // differences
      var z = seed * 0x9E3779B1.toInt + x * 0x85EBCA6B.toInt +
        y * 0xC2B2AE35.toInt
      z ^= z >>> 15; z *= 0x2545F491; z ^= z >>> 13
      (z >>> 24) & 0xff
    }
    grayPngFromFn(w, h, px)
  }

  /** Seed-keyed 9×8 CELL grid (one level per dHash cell): murmur-
    * finalized levels on a coarse 8-step scale {16, 48, …, 240},
    * adjacent cells in a row forced to DIFFER (≥ 32 apart). This is
    * the LOSSY-codec near-dup fixture: each dHash bit compares two
    * cell sums whose margin is ≥ 32·(cell area), so a high-quality
    * JPEG re-encode (per-pixel error a few counts) cannot flip any
    * bit — the cross-format PNG↔JPEG duplicate fixture [[pngTextureBytes]]
    * cannot be (its texture makes neighbor cell sums nearly equal, so
    * quantization noise flips bits). Returned row-major, 8 rows × 9
    * cols. */
  def cellLevels(seed: Int): Array[Int] = {
    val lv = new Array[Int](72)
    var i = 0
    while (i < 8) {
      var prev = -1
      var j = 0
      while (j < 9) {
        var z = seed * 0x9E3779B1.toInt + (i * 9 + j) * 0x85EBCA6B.toInt
        z ^= z >>> 15; z *= 0x2545F491; z ^= z >>> 13
        var v = (z >>> 24) & 7
        if (v == prev) v = (v + 1) & 7
        lv(i * 9 + j) = 16 + 32 * v
        prev = v
        j += 1
      }
      i += 1
    }
    lv
  }

  /** 72×64 grayscale PNG rendering [[cellLevels]]: each dHash cell is
    * exactly one constant 8×8 pixel block, aligned with JPEG's DCT
    * blocks (constant blocks survive quantization nearly losslessly
    * at high quality). */
  def pngCellBytes(seed: Int): Array[Byte] = {
    val lv = cellLevels(seed)
    grayPngFromFn(72, 64, (x, y) => lv((y >> 3) * 9 + (x >> 3)))
  }

  /** 64-bit difference hash (dHash) over the decoded pixel plane: the
    * image is area-averaged onto a 9-wide × 8-tall grid with INTEGER
    * block sums (exact — no float resampling), and bit i·8+j is set
    * iff cell (i, j) is strictly brighter than its right neighbor,
    * compared by cross-multiplied sums so no division or rounding
    * enters. Identical pixels ⇒ identical hash; a local edit flips
    * few bits (the standard perceptual-dedup contract). RGB(A) planes
    * fold to integer luma (299r + 587g + 114b) / 1000; gray(+alpha)
    * uses the gray channel. Null for undecodable input or images
    * smaller than 9×8 (a block would be empty). */
  def pngDHash64(b: Array[Byte]): java.lang.Long = {
    val d = decodePng(b)
    if (d == null || d.w < 9 || d.h < 8) return null
    val w = d.w.toInt; val h = d.h.toInt; val ch = d.channels
    dhashFromGray(w, h, (x, y) => {
      val base = y * d.stride + 1 + x * ch
      if (ch <= 2) (d.raw(base) & 0xff).toLong
      else {
        val r = d.raw(base) & 0xff; val g = d.raw(base + 1) & 0xff
        val bl = d.raw(base + 2) & 0xff
        (299L * r + 587L * g + 114L * bl) / 1000L
      }
    })
  }

  /** The dHash core shared by the PNG and GIF paths: integer 9×8
    * area-average over a caller-supplied gray accessor (specialized
    * Function2 — no boxing), cross-multiplied comparisons. Caller
    * guarantees w ≥ 9 and h ≥ 8. */
  private[ext] def dhashFromGray(w: Int, h: Int,
      gray: (Int, Int) => Long): java.lang.Long = {
    val sums = Array.ofDim[Long](8, 9)
    val cnts = Array.ofDim[Long](8, 9)
    var i = 0
    while (i < 8) {
      val y0 = i * h / 8; val y1 = (i + 1) * h / 8
      var j = 0
      while (j < 9) {
        val x0 = j * w / 9; val x1 = (j + 1) * w / 9
        var s = 0L
        var yy = y0
        while (yy < y1) {
          var xx = x0
          while (xx < x1) { s += gray(xx, yy); xx += 1 }
          yy += 1
        }
        sums(i)(j) = s
        cnts(i)(j) = (y1 - y0).toLong * (x1 - x0)
        j += 1
      }
      i += 1
    }
    var bits = 0L
    i = 0
    while (i < 8) {
      var j = 0
      while (j < 8) {
        if (sums(i)(j) * cnts(i)(j + 1) > sums(i)(j + 1) * cnts(i)(j))
          bits |= 1L << (i * 8 + j)
        j += 1
      }
      i += 1
    }
    java.lang.Long.valueOf(bits)
  }

  /** Format-dispatching perceptual hash: magic-sniff PNG vs GIF vs
    * JPEG vs WebP-lossless and run the matching decode+dHash — the
    * SAME 9×8 integer core with the SAME truncating luma fold, and
    * for gray palettes luma == index, so one pixel grid stored in any
    * of the four formats hashes identically up to codec loss:
    * PNG/GIF/VP8L are lossless (bit-equal hashes), a high-quality
    * JPEG re-save of the same pixels lands within a small hamming
    * ball (exactly 0 on block-margin fixtures like [[pngCellBytes]] —
    * margins dominate quantization noise). A JPEG/WebP-heavy real
    * corpus — most of them — thus pairs against PNG/GIF originals
    * through one hash space. Null for anything else (including lossy
    * VP8 WebP — a DCT codec we do not fake). */
  def imageDHash64(b: Array[Byte]): java.lang.Long = {
    if (b == null || b.length < 6) return null
    if (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
      pngDHash64(b)
    else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8')
      GifDecode.gifDHash64(b)
    else if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8)
      ImageIoDecode.jpegDHash64(b)
    else if (b.length >= 16 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == 'F' && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P')
      WebpDecode.webpDHash64(b) // null (never fake) for lossy VP8/VP8X
    else null
  }

  /** Mono-interleaved PCM-16 WAV with REAL samples: sample(i) =
    * ((seed + i * 7919) mod 2003) - 1001 over the GLOBAL interleaved
    * index i — integer-exact for a SQL oracle. */
  def wavToneBytes(channels: Int, sampleRate: Int, nFrames: Int,
      seed: Int): Array[Byte] = {
    val nSamples = nFrames * channels
    val dataLen = nSamples * 2
    val out = new java.io.ByteArrayOutputStream(44 + dataLen)
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
      out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
    }
    val blockAlign = channels * 2
    out.write("RIFF".getBytes("US-ASCII")); w32(36L + dataLen)
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); w32(16L)
    w16(1) // PCM
    w16(channels); w32(sampleRate.toLong)
    w32(sampleRate.toLong * blockAlign)
    w16(blockAlign); w16(16)
    out.write("data".getBytes("US-ASCII")); w32(dataLen.toLong)
    var i2 = 0
    while (i2 < nSamples) {
      // 64-bit arithmetic: i2*7919 overflows Int past ~271k samples,
      // silently diverging from the documented (64-bit SQL) formula
      w16((((seed + i2.toLong * 7919L) % 2003L).toInt - 1001) & 0xffff)
      i2 += 1
    }
    out.toByteArray
  }

  /** Mono-interleaved PCM-16 WAV with seed-KEYED noise samples
    * (murmur-finalizer avalanche over (seed, i) — two different seeds
    * give ~independent streams). [[wavToneBytes]]'s quasi-linear ramp
    * is the wrong fixture for [[wavFingerprint64]]: its block-mass
    * delta SIGNS are phase-stable, so every seed fingerprints alike;
    * this noise family decorrelates seeds, the property an audio
    * near-dup fixture needs. */
  def wavNoiseBytes(channels: Int, sampleRate: Int, nFrames: Int,
      seed: Int): Array[Byte] = {
    val nSamples = nFrames * channels
    val dataLen = nSamples * 2
    val out = new java.io.ByteArrayOutputStream(44 + dataLen)
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
      out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
    }
    val blockAlign = channels * 2
    out.write("RIFF".getBytes("US-ASCII")); w32(36L + dataLen)
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); w32(16L)
    w16(1) // PCM
    w16(channels); w32(sampleRate.toLong)
    w32(sampleRate.toLong * blockAlign)
    w16(blockAlign); w16(16)
    out.write("data".getBytes("US-ASCII")); w32(dataLen.toLong)
    var i = 0
    while (i < nSamples) {
      // same avalanche discipline as pngTextureBytes (linearity in the
      // seed collapses fingerprints)
      var z = seed * 0x9E3779B1.toInt + i * 0x85EBCA6B.toInt
      z ^= z >>> 15; z *= 0x2545F491; z ^= z >>> 13
      w16((z >> 20) & 0xffff)
      i += 1
    }
    out.toByteArray
  }

  // ---- columns (StaticInvoke over the kernels above) --------------------

  /** binary → image stats struct (full PNG decode), null on anything
    * not a supported PNG. */
  def pngStats(bytes: Column): Column =
    staticCall(this, "pngPixelStats", ImageStatsType, nullable = true, bytes)

  /** binary → stats of the nearest-neighbor (tw × th) resample, null
    * when not a decodable PNG. Target dims are plan-time constants —
    * a resize spec is pipeline config, not data. */
  def pngResizeStats(bytes: Column, tw: Int, th: Int): Column =
    staticCall(this, "pngResizeNearestStats", ImageStatsType, nullable = true,
      bytes, lit(tw), lit(th))

  /** binary → PCM sample stats struct, null when not PCM-16 WAV. */
  def wavStats(bytes: Column): Column =
    staticCall(this, "wavSampleStats", AudioStatsType, nullable = true, bytes)

  /** binary → stats of every stride-th PCM sample, null when not
    * PCM-16 WAV. Stride is a plan-time constant. */
  def wavDecimate(bytes: Column, stride: Int): Column =
    staticCall(this, "wavDecimateStats", AudioStatsType, nullable = true,
      bytes, lit(stride))

  /** (w, h, seed) → real-pixel PNG bytes. */
  def synthPngPixels(w: Column, h: Column, seed: Column): Column =
    staticCall(this, "pngPixelBytes", BinaryType, nullable = false, w, h, seed)

  /** (w, h, seed) → seed-keyed texture PNG bytes ([[pngTextureBytes]]). */
  def synthPngTexture(w: Column, h: Column, seed: Column): Column =
    staticCall(this, "pngTextureBytes", BinaryType, nullable = false, w, h, seed)

  /** seed → 72×64 cell-grid PNG bytes ([[pngCellBytes]]). */
  def synthPngCells(seed: Column): Column =
    staticCall(this, "pngCellBytes", BinaryType, nullable = false, seed)

  /** binary → 64-bit perceptual dHash, null when not a decodable PNG
    * of at least 9×8. */
  def pngDHash(bytes: Column): Column =
    staticCall(this, "pngDHash64", LongType, nullable = true, bytes)

  /** binary → 64-bit format-dispatched image dHash ([[imageDHash64]]),
    * null when no decoder accepts the bytes. */
  def imageDHashAny(bytes: Column): Column =
    staticCall(this, "imageDHash64", LongType, nullable = true, bytes)

  /** binary → 64-bit audio fingerprint, null when not PCM-16 WAV of
    * at least 65 samples. */
  def wavFingerprint(bytes: Column): Column =
    staticCall(this, "wavFingerprint64", LongType, nullable = true, bytes)

  /** binary → resampled WAV bytes ([[wavResampleBytes]]), null when
    * not PCM-16 or the stride doesn't divide the rate. */
  def wavResample(bytes: Column, stride: Int): Column =
    staticCall(this, "wavResampleBytes", BinaryType, nullable = true,
      bytes, lit(stride))

  /** binary → 64-bit canonical-rate audio fingerprint
    * ([[wavFingerprintAt64]]). */
  def wavFingerprintAt(bytes: Column, canonicalRate: Int): Column =
    staticCall(this, "wavFingerprintAt64", LongType, nullable = true,
      bytes, lit(canonicalRate))

  /** (channels, sampleRate, nFrames, seed) → seed-keyed noise WAV
    * bytes ([[wavNoiseBytes]]). */
  def synthWavNoise(channels: Column, sampleRate: Column, nFrames: Column,
      seed: Column): Column =
    staticCall(this, "wavNoiseBytes", BinaryType, nullable = false,
      channels, sampleRate, nFrames, seed)

  /** (channels, sampleRate, nFrames, seed) → real-sample WAV bytes. */
  def synthWavTone(channels: Column, sampleRate: Column, nFrames: Column,
      seed: Column): Column =
    staticCall(this, "wavToneBytes", BinaryType, nullable = false,
      channels, sampleRate, nFrames, seed)
}
