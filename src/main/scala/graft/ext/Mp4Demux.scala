package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import graft.functions.Expressions.staticCall

/** REAL MP4 frame extraction, pure JVM — the sample-table walk every
  * demuxer does, over the ISO base-media layout (public spec,
  * ISO/IEC 14496-12): `moov/trak/mdia/minf/stbl`, where
  * `stsd` declares the codec, `stsz` the per-sample byte sizes,
  * `stsc` the samples-per-chunk runs, and `stco` the absolute chunk
  * offsets into `mdat`. From those four tables the demuxer computes
  * every sample's `(offset, size)` and slices frames directly out of
  * the blob.
  *
  * The decodable sample format is uncompressed 8-bit luma (`stsd`
  * fourcc `"raw "`, depth 8) — a real ISO-BMFF layout (uncompressed
  * video in MP4 is standardized; ISO/IEC 23001-17 generalizes it).
  * Compressed codecs (H.264 etc.) genuinely need a native decoder and
  * return null here, the same honesty rule as the rest of the decode
  * surface: parse what is parseable pure-JVM, never fake the rest.
  *
  * At 100 TB this is a scan-side expression over a parquet binary
  * column: embarrassingly parallel, zero shuffle, and frame sampling
  * (`stride`) bounds the bytes touched per row — the demuxer seeks
  * straight to each sampled frame's offset and never materializes the
  * skipped ones.
  *
  * Reference capability: deimos treats payloads as opaque bytes end to
  * end (lib/deimos/schema_backends/plain.rb); frame-level media access
  * is part of this library's [EXT] training-pipeline surface.
  */
object Mp4Demux {

  /** Aggregate over the sampled frames of one video. `n_frames` is the
    * container's total; `n_sampled`/`n_pixels`/`sum_val`/`min_val`/
    * `max_val` cover every `stride`-th frame starting at frame 0. */
  val FrameStatsType: StructType = StructType(Seq(
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("n_frames", LongType),
    StructField("n_sampled", LongType),
    StructField("n_pixels", LongType),
    StructField("sum_val", LongType),
    StructField("min_val", IntegerType),
    StructField("max_val", IntegerType)))

  private def u16be(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def u32be(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  private def u64be(b: Array[Byte], i: Int): Long =
    (u32be(b, i) << 32) | u32be(b, i + 4)

  // ---- demux -----------------------------------------------------------

  /** One track's demuxed geometry: raw-luma dims plus every sample's
    * absolute (offset, size) in file order. */
  final case class Samples(width: Int, height: Int,
      offsets: Array[Long], sizes: Array[Int])

  /** Walk the box tree and resolve the sample tables of the first
    * video track whose sample entry is uncompressed 8-bit luma.
    * Returns null for anything else: no ftyp, no stbl (header-only
    * files like [[MediaProbe.mp4Bytes]]), compressed codecs, or
    * tables that disagree with each other / the file length. */
  def demux(b: Array[Byte]): Samples = {
    if (b == null || b.length < 16) return null
    if (!(b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p')) return null

    var width = -1
    var height = -1
    var stsz: Array[Int] = null
    var stcoOff: Array[Long] = null
    var stscRuns: Array[(Long, Long)] = null // (first_chunk, samples_per_chunk)

    def boxes(from: Int, to: Int)(f: (String, Int, Int) => Unit): Unit = {
      var i = from
      while (i + 8 <= to) {
        val size = u32be(b, i)
        if (size < 8 || i + size > to) return // size64/truncated: stop
        f(new String(b, i + 4, 4, "US-ASCII"), i + 8, i + size.toInt)
        i += size.toInt
      }
    }

    // Parse ONE stbl into locals and commit atomically only when all
    // four tables are present — a multi-track file can never pair one
    // trak's stsd with another trak's sample tables (an incomplete
    // raw-luma stbl after a complete compressed-codec stbl used to
    // inherit the earlier trak's stsz/stsc/stco and produce
    // plausible-but-wrong stats instead of null).
    def parseStbl(from: Int, to: Int): Unit = {
      var w = -1
      var h = -1
      var lStsz: Array[Int] = null
      var lStco: Array[Long] = null
      var lStsc: Array[(Long, Long)] = null
      boxes(from, to) {
        case ("stsd", f, t) if t - f >= 8 =>
          // full box: version/flags u32, entry_count u32, then entries
          val n = u32be(b, f + 4)
          if (n >= 1 && t - f >= 16) {
            val es = f + 8 // first sample entry: size u32, format fourcc
            val fmt = new String(b, es + 4, 4, "US-ASCII")
            val esEnd = es + u32be(b, es).toInt
            // VisualSampleEntry: 8 header + 6 reserved + 2 dref index +
            // 16 pre_defined/reserved, then width/height u16, ... then
            // frame_count(2) + compressorname(32) + depth(2) @ +78
            if (fmt == "raw " && esEnd <= t && esEnd - es >= 84 &&
                u16be(b, es + 82) == 8) {
              w = u16be(b, es + 32)
              h = u16be(b, es + 34)
            }
          }
        case ("stsz", f, t) if t - f >= 12 =>
          val fixed = u32be(b, f + 4)
          val n = u32be(b, f + 8).toInt
          if (n >= 0 && n <= (1 << 22)) {
            if (fixed != 0L) lStsz = Array.fill(n)(fixed.toInt)
            else if (t - f >= 12 + 4L * n)
              lStsz = Array.tabulate(n)(i => u32be(b, f + 12 + 4 * i).toInt)
          }
        case ("stsc", f, t) if t - f >= 8 =>
          val n = u32be(b, f + 4).toInt
          if (n >= 0 && n <= (1 << 20) && t - f >= 8 + 12L * n)
            lStsc = Array.tabulate(n) { i =>
              (u32be(b, f + 8 + 12 * i), u32be(b, f + 12 + 12 * i))
            }
        case ("stco", f, t) if t - f >= 8 =>
          val n = u32be(b, f + 4).toInt
          if (n >= 0 && n <= (1 << 20) && t - f >= 8 + 4L * n)
            lStco = Array.tabulate(n)(i => u32be(b, f + 8 + 4 * i))
        case ("co64", f, t) if t - f >= 8 =>
          val n = u32be(b, f + 4).toInt
          if (n >= 0 && n <= (1 << 20) && t - f >= 8 + 8L * n)
            lStco = Array.tabulate(n)(i => u64be(b, f + 8 + 8 * i))
        case _ => ()
      }
      if (w > 0 && h > 0 && lStsz != null && lStco != null &&
          lStsc != null && lStsc.nonEmpty && width < 0) {
        width = w; height = h
        stsz = lStsz; stcoOff = lStco; stscRuns = lStsc
      }
    }

    boxes(0, b.length) {
      case ("moov", f0, t0) => boxes(f0, t0) {
        case ("trak", f1, t1) if width < 0 => boxes(f1, t1) {
          case ("mdia", f2, t2) => boxes(f2, t2) {
            case ("minf", f3, t3) => boxes(f3, t3) {
              case ("stbl", f4, t4) => parseStbl(f4, t4)
              case _ => ()
            }
            case _ => ()
          }
          case _ => ()
        }
        case _ => ()
      }
      case _ => ()
    }

    if (width <= 0 || height <= 0 || stsz == null || stcoOff == null ||
        stscRuns == null || stscRuns.isEmpty) return null
    val nSamples = stsz.length

    // Expand stsc runs to per-sample chunk assignment, then lay samples
    // contiguously within each chunk at its stco offset.
    val offsets = new Array[Long](nSamples)
    var sample = 0
    var run = 0
    var chunk = stscRuns(0)._1.toInt // 1-based
    if (chunk != 1) return null
    while (sample < nSamples) {
      if (chunk > stcoOff.length) return null // tables disagree
      val perChunk: Long =
        if (run + 1 < stscRuns.length && chunk >= stscRuns(run + 1)._1) {
          run += 1; stscRuns(run)._2
        } else stscRuns(run)._2
      if (perChunk <= 0) return null
      var off = stcoOff(chunk - 1)
      var k = 0L
      while (k < perChunk && sample < nSamples) {
        val sz = stsz(sample)
        // `off <= b.length` BEFORE the sum: a co64 offset near
        // Long.MaxValue wraps `off + sz` negative, slipping past the
        // length check with an out-of-file offset that downstream
        // reads after an Int truncation — in-bounds garbage, not a
        // crash (round-15 review). With off bounded first the sum
        // cannot overflow (both terms ≤ 2³¹).
        if (sz < 0 || off < 0 || off > b.length || off + sz > b.length)
          return null
        offsets(sample) = off
        off += sz
        sample += 1
        k += 1
      }
      chunk += 1
    }
    Samples(width, height, offsets, stsz)
  }

  /** Frame-sample + decode: every `stride`-th raw-luma frame,
    * aggregated to (dims, counts, sum/min/max of the 8-bit values).
    * Null for undemuxable input or when a sampled frame's size does
    * not match width×height (not actually raw luma). */
  def mp4FrameStats(b: Array[Byte], stride: Int): GenericInternalRow = {
    if (stride <= 0) return null
    val s = demux(b)
    if (s == null) return null
    val frameLen = s.width * s.height
    val n = s.sizes.length
    var sum = 0L
    var mn = Int.MaxValue
    var mx = Int.MinValue
    var nSampled = 0L
    var f = 0
    while (f < n) {
      if (s.sizes(f) != frameLen) return null
      val base = s.offsets(f).toInt
      var i = 0
      while (i < frameLen) {
        val v = b(base + i) & 0xff
        sum += v
        if (v < mn) mn = v
        if (v > mx) mx = v
        i += 1
      }
      nSampled += 1
      f += stride
    }
    if (nSampled == 0) return null
    new GenericInternalRow(Array[Any](
      s.width.toLong, s.height.toLong, n.toLong, nSampled,
      nSampled * frameLen, sum, mn, mx))
  }

  /** Per-frame pixel sums over ALL frames, in frame order — the
    * integer series temporal analyses (scene-change detection) build
    * on. Emitting exact integer sums (not floats) keeps every derived
    * mean/diff a declared IEEE expression both an oracle and the
    * engine compute identically. Null when not a demuxable raw-luma
    * MP4 or any sample size disagrees with width×height. */
  def mp4FrameSums(b: Array[Byte]): GenericArrayData = {
    val s = demux(b)
    if (s == null) return null
    val frameLen = s.width * s.height
    val n = s.sizes.length
    val sums = new Array[Any](n)
    var f = 0
    while (f < n) {
      if (s.sizes(f) != frameLen) return null
      val base = s.offsets(f).toInt
      var sum = 0L
      var i = 0
      while (i < frameLen) {
        sum += b(base + i) & 0xff
        i += 1
      }
      sums(f) = sum
      f += 1
    }
    new GenericArrayData(sums)
  }

  /** 64-bit video fingerprint over the REAL demuxed frame-mass
    * series: per-frame luma sums (exact integers, same walk as
    * [[mp4FrameSums]]), folded into 65 equal frame blocks, bit i set
    * iff block i+1 carries strictly more mass than block i — the
    * temporal analog of the image dHash / audio fingerprint (scene
    * brightness dynamics survive re-encode-ish edits; identical
    * streams are bit-identical). Null for non-demuxable input or
    * videos shorter than 65 frames. */
  def mp4Fingerprint64(b: Array[Byte]): java.lang.Long = {
    val s = demux(b)
    if (s == null) return null
    val frameLen = s.width * s.height
    val n = s.sizes.length
    if (n < 65) return null
    val frameSum = new Array[Long](n)
    var f = 0
    while (f < n) {
      if (s.sizes(f) != frameLen) return null
      val base = s.offsets(f).toInt
      var sum = 0L
      var i = 0
      while (i < frameLen) { sum += b(base + i) & 0xff; i += 1 }
      frameSum(f) = sum
      f += 1
    }
    val mass = new Array[Long](65)
    var blk = 0
    while (blk < 65) {
      val f0 = blk.toLong * n / 65
      val f1 = (blk + 1).toLong * n / 65
      var s2 = 0L
      var k = f0
      while (k < f1) { s2 += frameSum(k.toInt); k += 1 }
      mass(blk) = s2
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

  /** Frame extraction proper: the sampled frames' raw bytes, in frame
    * order — the real replacement for byte-window "frame" stubs. */
  def mp4SampleFrames(b: Array[Byte], stride: Int): GenericArrayData = {
    if (stride <= 0) return null
    val s = demux(b)
    if (s == null) return null
    val out = Array.newBuilder[Any]
    var f = 0
    while (f < s.sizes.length) {
      out += java.util.Arrays.copyOfRange(
        b, s.offsets(f).toInt, s.offsets(f).toInt + s.sizes(f))
      f += stride
    }
    new GenericArrayData(out.result())
  }

  // ---- mux (synthesizer) -----------------------------------------------

  /** Structurally-complete MP4 with REAL sample tables and payload:
    * ftyp + mdat (raw 8-bit luma frames) + moov(mvhd, trak(tkhd,
    * mdia(mdhd, hdlr, minf(vmhd, dinf/dref, stbl(stsd "raw ", stts,
    * stsc, stsz, stco))))). Frames are chunked 4-per-chunk with a
    * partial last chunk, so the demuxer's stsc run expansion is
    * genuinely exercised. Pixel (f, x, y) = (seed + f*31 + x) % 256 —
    * y-independent so an oracle can recompute stats as a series.
    */
  def mp4FramesBytes(width: Int, height: Int, nFrames: Int,
      seed: Int): Array[Byte] =
    mp4FramesBytesOf(width, height, nFrames,
      (f, x, _) => (seed + f * 31 + x) % 256)

  /** [[mp4FramesBytes]] with seed-KEYED noise pixels
    * (murmur-finalizer avalanche over (seed, f, x, y)) — the video member of the
    * noise-fixture family ([[PixelDecode.pngTextureBytes]] /
    * `wavNoiseBytes`): the gradient synth's frame sums are
    * quasi-linear in f with a seed phase shift, so frame-mass delta
    * SIGNS are seed-stable — the wrong fixture for
    * [[mp4Fingerprint64]]; noise frames decorrelate seeds. */
  def mp4NoiseFramesBytes(width: Int, height: Int, nFrames: Int,
      seed: Int): Array[Byte] =
    mp4FramesBytesOf(width, height, nFrames,
      (f, x, y) => {
        // murmur-style finalizer — see PixelDecode.pngTextureBytes
        var z = seed * 0x9E3779B1.toInt + f * 0x27D4EB2F +
          x * 0x85EBCA6B.toInt + y * 0xC2B2AE35.toInt
        z ^= z >>> 15; z *= 0x2545F491; z ^= z >>> 13
        (z >>> 24) & 0xff
      })

  private def mp4FramesBytesOf(width: Int, height: Int, nFrames: Int,
      px: (Int, Int, Int) => Int): Array[Byte] = {
    require(width > 0 && height > 0 && nFrames > 0,
      s"bad mp4 synth dims ${width}x${height}x$nFrames")
    val frameLen = width * height
    val perChunk = 4
    val nChunks = (nFrames + perChunk - 1) / perChunk

    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = {
      out.write((v >>> 8) & 0xff); out.write(v & 0xff)
    }
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
    val mdatPayload = out.size() + 8 // first sample's absolute offset
    box("mdat") {
      var f = 0
      while (f < nFrames) {
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            out.write(px(f, x, y))
            x += 1
          }
          y += 1
        }
        f += 1
      }
    }

    val timescale = 25 // 1 tick per frame at 25 fps
    box("moov") {
      box("mvhd") {
        w32(0L) // version 0 + flags
        w32(0L); w32(0L) // creation, modification
        w32(timescale.toLong); w32(nFrames.toLong)
        w32(0x00010000L); out.write(0x01); out.write(0)
        out.write(new Array[Byte](10), 0, 10) // reserved
        Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L, 0x40000000L)
          .foreach(w32)
        out.write(new Array[Byte](24), 0, 24) // pre_defined
        w32(2L) // next track id
      }
      box("trak") {
        box("tkhd") {
          w32(0x00000007L) // version 0 + enabled flags
          w32(0L); w32(0L)
          w32(1L) // track id
          w32(0L) // reserved
          w32(nFrames.toLong)
          out.write(new Array[Byte](16), 0, 16)
          Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L, 0x40000000L)
            .foreach(w32)
          w32(width.toLong << 16); w32(height.toLong << 16)
        }
        box("mdia") {
          box("mdhd") {
            w32(0L); w32(0L); w32(0L)
            w32(timescale.toLong); w32(nFrames.toLong)
            w16(0x55c4) // language "und"
            w16(0)
          }
          box("hdlr") {
            w32(0L); w32(0L)
            out.write("vide".getBytes("US-ASCII"), 0, 4)
            w32(0L); w32(0L); w32(0L)
            out.write("GraftRawVideo".getBytes("US-ASCII"))
            out.write(0)
          }
          box("minf") {
            box("vmhd") { w32(1L); w32(0L); w16(0); w16(0) }
            box("dinf") {
              box("dref") {
                w32(0L); w32(1L)
                box("url ") { w32(1L) } // flag 1: data in this file
              }
            }
            box("stbl") {
              box("stsd") {
                w32(0L); w32(1L)
                box("raw ") { // VisualSampleEntry, uncompressed luma
                  out.write(new Array[Byte](6), 0, 6) // reserved
                  w16(1) // data_reference_index
                  out.write(new Array[Byte](16), 0, 16) // pre_defined/reserved
                  w16(width); w16(height)
                  w32(0x00480000L); w32(0x00480000L) // 72 dpi
                  w32(0L) // reserved
                  w16(1) // frame_count
                  out.write(new Array[Byte](32), 0, 32) // compressorname
                  w16(8) // depth: 8-bit grayscale
                  w16(0xffff) // pre_defined = -1
                }
              }
              box("stts") { w32(0L); w32(1L); w32(nFrames.toLong); w32(1L) }
              box("stsc") {
                val full = nFrames / perChunk
                val rem = nFrames % perChunk
                if (full == 0) { // fewer frames than one full chunk
                  w32(0L); w32(1L)
                  w32(1L); w32(nFrames.toLong); w32(1L)
                } else if (rem == 0) {
                  w32(0L); w32(1L)
                  w32(1L); w32(perChunk.toLong); w32(1L)
                } else { // partial last chunk: second run
                  w32(0L); w32(2L)
                  w32(1L); w32(perChunk.toLong); w32(1L)
                  w32(full + 1L); w32(rem.toLong); w32(1L)
                }
              }
              box("stsz") { // per-sample table (the general path)
                w32(0L); w32(0L); w32(nFrames.toLong)
                var i = 0
                while (i < nFrames) { w32(frameLen.toLong); i += 1 }
              }
              box("stco") {
                w32(0L); w32(nChunks.toLong)
                var c = 0
                while (c < nChunks) {
                  w32(mdatPayload + c.toLong * perChunk * frameLen)
                  c += 1
                }
              }
            }
          }
        }
      }
    }
    out.toByteArray
  }

  // ---- columns (StaticInvoke over the kernels above) --------------------

  /** (bytes, stride) → frame-sample stats struct, null when not a
    * demuxable raw-luma MP4. */
  def frameStats(bytes: Column, stride: Column): Column =
    staticCall(this, "mp4FrameStats", FrameStatsType, nullable = true,
      bytes, stride)

  /** (bytes, stride) → array of raw frame payloads. */
  def sampleFrames(bytes: Column, stride: Column): Column =
    staticCall(this, "mp4SampleFrames", ArrayType(BinaryType), nullable = true,
      bytes, stride)

  /** bytes → array of per-frame pixel sums (exact longs). */
  def frameSums(bytes: Column): Column =
    staticCall(this, "mp4FrameSums", ArrayType(LongType), nullable = true,
      bytes)

  /** (w, h, nFrames, seed) → full raw-luma MP4 bytes. */
  def synthMp4Frames(w: Column, h: Column, nFrames: Column,
      seed: Column): Column =
    staticCall(this, "mp4FramesBytes", BinaryType, nullable = false,
      w, h, nFrames, seed)

  /** (w, h, nFrames, seed) → noise-frame MP4 bytes
    * ([[mp4NoiseFramesBytes]]). */
  def synthMp4Noise(w: Column, h: Column, nFrames: Column,
      seed: Column): Column =
    staticCall(this, "mp4NoiseFramesBytes", BinaryType, nullable = false,
      w, h, nFrames, seed)

  /** binary → 64-bit video fingerprint, null when not a demuxable
    * raw-luma MP4 of at least 65 frames. */
  def mp4Fingerprint(bytes: Column): Column =
    staticCall(this, "mp4Fingerprint64", LongType, nullable = true, bytes)
}
