package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Expressions.staticCall

/** Pure-JVM media header probe: real width/height from PNG (IHDR),
  * JPEG (SOFn) and GIF (logical screen descriptor) byte streams — all
  * three are public, stable container formats parseable from the first
  * few hundred bytes. This replaces the round-1 length-derived stub:
  * the probe READS the bytes; no library, no codec, no full decode.
  *
  * At 100 TB this runs as a scan-side expression over parquet binary
  * columns — embarrassingly parallel, zero shuffle, and only the
  * header pages of each blob are touched per row.
  */
object MediaProbe {

  /** Probe result: [width: long, height: long, media_type: string],
    * or null when the bytes match no known signature / are truncated. */
  val MetaType: StructType = StructType(Seq(
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("media_type", StringType)))

  private def u16be(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def u16le(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def u32be(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)

  private val PngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  private def isPng(b: Array[Byte]): Boolean =
    b.length >= 24 && PngSig.indices.forall(i => b(i) == PngSig(i))

  private def isGif(b: Array[Byte]): Boolean =
    b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a'

  private def isJpeg(b: Array[Byte]): Boolean =
    b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8

  /** JPEG: walk the marker segments to the first SOFn (C0–CF except
    * C4 DHT / C8 JPG / CC DAC); height u16be at +3, width at +5. */
  private def jpegDims(b: Array[Byte]): GenericInternalRow = {
    var i = 2
    while (i + 4 <= b.length) {
      if ((b(i) & 0xff) != 0xff) return null // lost marker sync
      val marker = b(i + 1) & 0xff
      if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) {
        i += 2 // standalone markers have no length
      } else if (marker == 0x01) {
        i += 2
      } else if (marker == 0xff) {
        i += 1 // 0xFF fill byte before a marker — consume ONE byte so
               // the real marker (FF FF C0 …) still lands on FF-sync
      } else {
        val len = u16be(b, i + 2)
        if (len < 2) return null
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc
        if (isSof) {
          if (i + 9 > b.length) return null
          return meta(u16be(b, i + 7), u16be(b, i + 5), "image/jpeg")
        }
        i += 2 + len
      }
    }
    null
  }

  private def meta(w: Long, h: Long, mt: String): GenericInternalRow =
    new GenericInternalRow(Array[Any](w, h, UTF8String.fromString(mt)))

  /** Static probe kernel (shared by eval and generated code). Null for
    * unrecognized or truncated input. */
  def probe(b: Array[Byte]): GenericInternalRow = {
    if (b == null) null
    else if (isPng(b)) {
      // first chunk must be IHDR: length at 8, type at 12, data at 16
      if (b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
        meta(u32be(b, 16), u32be(b, 20), "image/png")
      else null
    } else if (isGif(b)) {
      meta(u16le(b, 6).toLong, u16le(b, 8).toLong, "image/gif")
    } else if (isJpeg(b)) {
      jpegDims(b)
    } else if (b.length >= 25 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' &&
        b(11) == 'P' && b(12) == 'V' && b(13) == 'P' && b(14) == '8' &&
        b(15) == 'L' && (b(20) & 0xff) == 0x2f) {
      // VP8L header: 14-bit (width-1) then 14-bit (height-1), LSB-first
      // from byte 21 — dims without any entropy decode
      val v = (b(21) & 0xffL) | ((b(22) & 0xffL) << 8) |
        ((b(23) & 0xffL) << 16) | ((b(24) & 0xffL) << 24)
      meta((v & 0x3fff) + 1, ((v >>> 14) & 0x3fff) + 1, "image/webp")
    } else null
  }

  // ---- synthesizers (tests + x12 fixture generation) -------------------

  private def crc32(b: Array[Byte], from: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(b, from, len)
    c.getValue
  }

  /** Minimal structurally-valid PNG: signature + IHDR (real CRC) +
    * empty IDAT + IEND. Probe-parseable AND accepted by strict header
    * readers. */
  def pngBytes(w: Int, h: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSig, 0, PngSig.length)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val len = data.length
      out.write((len >>> 24) & 0xff); out.write((len >>> 16) & 0xff)
      out.write((len >>> 8) & 0xff); out.write(len & 0xff)
      val body = typ.getBytes("US-ASCII") ++ data
      out.write(body, 0, body.length)
      val crc = crc32(body, 0, body.length)
      out.write(((crc >>> 24) & 0xff).toInt); out.write(((crc >>> 16) & 0xff).toInt)
      out.write(((crc >>> 8) & 0xff).toInt); out.write((crc & 0xff).toInt)
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = ((w >>> 24) & 0xff).toByte; ihdr(1) = ((w >>> 16) & 0xff).toByte
    ihdr(2) = ((w >>> 8) & 0xff).toByte; ihdr(3) = (w & 0xff).toByte
    ihdr(4) = ((h >>> 24) & 0xff).toByte; ihdr(5) = ((h >>> 16) & 0xff).toByte
    ihdr(6) = ((h >>> 8) & 0xff).toByte; ihdr(7) = (h & 0xff).toByte
    ihdr(8) = 8; ihdr(9) = 0; ihdr(10) = 0; ihdr(11) = 0; ihdr(12) = 0
    chunk("IHDR", ihdr)
    chunk("IDAT", Array.emptyByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Minimal GIF89a header: signature + logical screen descriptor. */
  def gifBytes(w: Int, h: Int): Array[Byte] =
    Array[Byte]('G', 'I', 'F', '8', '9', 'a',
      (w & 0xff).toByte, ((w >>> 8) & 0xff).toByte,
      (h & 0xff).toByte, ((h >>> 8) & 0xff).toByte,
      0, 0, 0, 0x3b)

  /** Minimal JPEG: SOI + APP0 (JFIF) + SOF0 + EOI — the probe must
    * walk past APP0 to find SOF0. */
  def jpegBytes(w: Int, h: Int): Array[Byte] = {
    val app0 = Array[Byte](0xff.toByte, 0xe0.toByte, 0, 16,
      'J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0)
    val sof0 = Array[Byte](0xff.toByte, 0xc0.toByte, 0, 11, 8,
      ((h >>> 8) & 0xff).toByte, (h & 0xff).toByte,
      ((w >>> 8) & 0xff).toByte, (w & 0xff).toByte,
      1, 1, 0x11, 0)
    Array[Byte](0xff.toByte, 0xd8.toByte) ++ app0 ++ sof0 ++
      Array[Byte](0xff.toByte, 0xd9.toByte)
  }

  // ---- audio (WAV/RIFF) ------------------------------------------------

  /** Audio probe result: channels, sample rate, bits per sample,
    * duration in ms (from the data chunk size), media type. */
  val AudioMetaType: StructType = StructType(Seq(
    StructField("n_channels", IntegerType),
    StructField("sample_rate", LongType),
    StructField("bits_per_sample", IntegerType),
    StructField("duration_ms", LongType),
    StructField("media_type", StringType)))

  private def u32le(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  /** WAV (RIFF/WAVE): walk chunks for `fmt ` (channels u16le @+2,
    * sample rate u32le @+4, byte rate @+8, bits @+14) and `data`
    * (size → duration = size / byteRate). Public container spec. */
  def probeWav(b: Array[Byte]): GenericInternalRow = {
    if (b == null || b.length < 44) return null
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'))
      return null
    var i = 12L
    var channels = -1
    var sampleRate = -1L
    var bits = -1
    var byteRate = -1L
    var dataLen = -1L
    var corrupt = false
    while (!corrupt && i + 8 <= b.length && (channels < 0 || dataLen < 0)) {
      val at = i.toInt
      val id = new String(b, at, 4, "US-ASCII")
      val len = u32le(b, at + 4) // u32 in a Long — never negative
      if (id == "fmt " && i + 8 + 16 <= b.length) {
        channels = u16le(b, at + 10)
        sampleRate = u32le(b, at + 12)
        byteRate = u32le(b, at + 16)
        bits = u16le(b, at + 22)
      } else if (id == "data") {
        dataLen = len
      }
      // chunks are word-aligned (odd sizes pad one byte); all cursor
      // arithmetic stays in Long so a corrupt >=2^31 chunk length
      // cannot overflow negative and walk out of bounds — the contract
      // is null-on-garbage, never a task-killing exception
      val next = i + 8L + len + (len & 1L)
      if (next <= i) corrupt = true else i = next
    }
    if (channels < 0 || sampleRate <= 0) null
    else {
      val durMs =
        if (dataLen < 0 || byteRate <= 0) 0L
        else dataLen * 1000L / byteRate
      new GenericInternalRow(Array[Any](channels, sampleRate, bits, durMs,
        UTF8String.fromString("audio/wav")))
    }
  }

  /** Minimal valid PCM WAV: RIFF/WAVE + fmt + data (silence). */
  def wavBytes(channels: Int, sampleRate: Int, bitsPerSample: Int,
      nSamples: Int): Array[Byte] = {
    val blockAlign = channels * bitsPerSample / 8
    val byteRate = sampleRate * blockAlign
    val dataLen = nSamples * blockAlign
    val out = new java.io.ByteArrayOutputStream(44 + dataLen)
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
      out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
    }
    out.write("RIFF".getBytes("US-ASCII")); w32(36L + dataLen)
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); w32(16L)
    w16(1) // PCM
    w16(channels); w32(sampleRate.toLong); w32(byteRate.toLong)
    w16(blockAlign); w16(bitsPerSample)
    out.write("data".getBytes("US-ASCII")); w32(dataLen.toLong)
    out.write(new Array[Byte](dataLen), 0, dataLen)
    out.toByteArray
  }

  /** binary → audio meta struct, null when not a RIFF/WAVE stream. */
  def probeAudio(bytes: Column): Column =
    staticCall(this, "probeWav", AudioMetaType, nullable = true, bytes)

  /** (channels, sampleRate, bits, nSamples) → PCM WAV bytes — fixture
    * generator usable inside a plan. */
  def synthWav(channels: Column, sampleRate: Column, bits: Column,
      nSamples: Column): Column =
    staticCall(this, "wavBytes", BinaryType, nullable = false,
      channels, sampleRate, bits, nSamples)

  // ---- video (MP4/ISO-BMFF) --------------------------------------------

  /** Video probe result: display width/height (from tkhd, 16.16
    * fixed-point), duration in ms (mvhd duration / timescale), media
    * type. */
  val VideoMetaType: StructType = StructType(Seq(
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("duration_ms", LongType),
    StructField("media_type", StringType)))

  /** MP4 / ISO base-media: walk top-level boxes to `moov`, then its
    * children for `mvhd` (version 0: timescale u32be @+12, duration
    * u32be @+16 of the box payload) and the first `trak`'s `tkhd`
    * (width/height as 16.16 fixed-point in the last 8 bytes). Public
    * container spec; no codec work — header-only, like the image and
    * audio probes. */
  def probeMp4(b: Array[Byte]): GenericInternalRow = {
    if (b == null || b.length < 16) return null
    // first box must be ftyp for a well-formed file
    if (!(b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p'))
      return null
    var timescale = -1L
    var duration = -1L
    var width = -1L
    var height = -1L
    def boxes(from: Int, to: Int)(f: (String, Int, Int) => Unit): Unit = {
      var i = from
      while (i + 8 <= to) {
        val size = u32be(b, i)
        if (size < 8 || i + size > to) return // size64/truncated: stop
        f(new String(b, i + 4, 4, "US-ASCII"), i + 8, i + size.toInt)
        i += size.toInt
      }
    }
    boxes(0, b.length) {
      case ("moov", from, to) =>
        boxes(from, to) {
          case ("mvhd", f2, t2) =>
            // version byte: v0 = u32 fields, v1 = u64 (skip v1 here)
            if (t2 - f2 >= 20 && b(f2) == 0) {
              timescale = u32be(b, f2 + 12)
              duration = u32be(b, f2 + 16)
            }
          case ("trak", f2, t2) =>
            boxes(f2, t2) {
              case ("tkhd", f3, t3) if width < 0 && t3 - f3 >= 80 =>
                // v0 tkhd payload is 84 bytes; width/height are the
                // final two 16.16 fixed-point u32s
                width = u32be(b, t3 - 8) >> 16
                height = u32be(b, t3 - 4) >> 16
              case _ => ()
            }
          case _ => ()
        }
      case _ => ()
    }
    if (timescale <= 0 && width < 0) null
    else {
      val durMs =
        if (timescale <= 0 || duration < 0) 0L
        else duration * 1000L / timescale
      new GenericInternalRow(Array[Any](
        math.max(width, 0L), math.max(height, 0L), durMs,
        UTF8String.fromString("video/mp4")))
    }
  }

  /** Minimal structurally-valid MP4: ftyp + moov(mvhd + trak(tkhd)). */
  def mp4Bytes(width: Int, height: Int, durationMs: Long,
      timescale: Int = 1000): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      out.write(((v >>> 24) & 0xff).toInt); out.write(((v >>> 16) & 0xff).toInt)
      out.write(((v >>> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
    def box(typ: String)(body: => Unit): Unit = {
      val mark = out.size()
      w32(0) // size placeholder
      out.write(typ.getBytes("US-ASCII"), 0, 4)
      body
      val bytes = out.toByteArray
      val size = bytes.length - mark
      bytes(mark) = ((size >>> 24) & 0xff).toByte
      bytes(mark + 1) = ((size >>> 16) & 0xff).toByte
      bytes(mark + 2) = ((size >>> 8) & 0xff).toByte
      bytes(mark + 3) = (size & 0xff).toByte
      out.reset(); out.write(bytes, 0, bytes.length)
    }
    box("ftyp") {
      out.write("isom".getBytes("US-ASCII"), 0, 4); w32(512L)
      out.write("isomiso2".getBytes("US-ASCII"), 0, 8)
    }
    val duration = durationMs * timescale / 1000L
    box("moov") {
      box("mvhd") {
        w32(0L) // version 0 + flags
        w32(0L); w32(0L) // creation, modification
        w32(timescale.toLong); w32(duration)
        w32(0x00010000L); out.write(0x01); out.write(0)
        out.write(new Array[Byte](10), 0, 10) // reserved
        // identity matrix (9 × u32)
        Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L, 0x40000000L)
          .foreach(w32)
        out.write(new Array[Byte](24), 0, 24) // pre_defined
        w32(2L) // next track id
      }
      box("trak") {
        box("tkhd") {
          w32(0x00000007L) // version 0 + enabled flags
          w32(0L); w32(0L) // creation, modification
          w32(1L) // track id
          w32(0L) // reserved
          w32(duration)
          out.write(new Array[Byte](8), 0, 8) // reserved
          out.write(new Array[Byte](8), 0, 8) // layer/group/volume/reserved
          Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L, 0x40000000L)
            .foreach(w32)
          w32(width.toLong << 16); w32(height.toLong << 16)
        }
      }
    }
    out.toByteArray
  }

  /** binary → video meta struct, null when not an ISO-BMFF stream. */
  def probeVideo(bytes: Column): Column =
    staticCall(this, "probeMp4", VideoMetaType, nullable = true, bytes)

  /** (width, height, durationMs) → minimal MP4 bytes (timescale 1000). */
  def synthMp4(width: Column, height: Column, durationMs: Column): Column =
    staticCall(this, "mp4Bytes", BinaryType, nullable = false,
      width, height, durationMs, lit(1000))

  // ---- image header probe ----------------------------------------------

  /** binary → struct(width, height, media_type), null when
    * unrecognized. */
  def probeMedia(bytes: Column): Column =
    staticCall(this, "probe", MetaType, nullable = true, bytes)

  /** (width int, height int) → structurally-valid PNG bytes — fixture
    * generator usable inside a plan (x12 synthesizes per-row PNGs). */
  def synthPng(width: Column, height: Column): Column =
    staticCall(this, "pngBytes", BinaryType, nullable = false, width, height)
}
