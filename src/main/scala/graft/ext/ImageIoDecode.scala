package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

import graft.functions.Expressions.staticCall

/** JPEG pixel decode via the JDK's bundled `javax.imageio` reader — a
  * JDK-standard API present in every JVM, so "no native codec libs in
  * the container" does not apply: the JPEG entropy decode ships with
  * the platform. This closes the last image-decode gap honestly; only
  * MP4 FRAME extraction (genuinely codec-library territory) stays on
  * the [[Multimodal]] stub path.
  *
  * JPEG is LOSSY, so unlike PNG/GIF/WAV the decoded sample values are
  * not a pure function a SQL oracle can reproduce — the oracle-checked
  * query (x36) pins the EXACT fields (dims, sample count) while the
  * value statistics are validated in specs with an error budget
  * against the encoder input.
  *
  * Scale shape: same as the other decoders — per-blob scan-side work,
  * zero shuffle. `ImageIO.read` costs an ImageReader allocation per
  * call; a per-partition reader would save it, but the expression
  * keeps plan shape uniform and the allocation is dwarfed by entropy
  * decode itself.
  */
object ImageIoDecode {

  /** Gray-converted pixel statistics of a decoded JPEG: null when the
    * bytes are not a decodable JPEG. */
  val JpegStatsType: StructType = StructType(Seq(
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("n_samples", LongType),
    StructField("sum_val", LongType),
    StructField("min_val", IntegerType),
    StructField("max_val", IntegerType)))

  private val MaxPixels = 64L << 20

  def jpegPixelStats(b: Array[Byte]): GenericInternalRow = {
    if (b == null || b.length < 4) return null
    // JPEG SOI magic; reject early so foreign formats don't pay an
    // ImageIO probe
    if ((b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return null
    val img =
      try ImageIoHolder.readBounded(b, MaxPixels)
      catch { case _: Exception => null }
    if (img == null) return null
    val w = img.getWidth
    val h = img.getHeight
    if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) return null
    // reduce to gray (luma) samples: stats are over one channel per
    // pixel regardless of source color model
    var sum = 0L
    var min = 255
    var max = 0
    val row = new Array[Int](w)
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, row, 0, w)
      var x = 0
      while (x < w) {
        val rgb = row(x)
        val r = (rgb >> 16) & 0xff
        val g = (rgb >> 8) & 0xff
        val bl = rgb & 0xff
        // integer ITU-R 601 luma
        val v = (299 * r + 587 * g + 114 * bl + 500) / 1000
        sum += v
        if (v < min) min = v
        if (v > max) max = v
        x += 1
      }
      y += 1
    }
    new GenericInternalRow(Array[Any](w.toLong, h.toLong, w.toLong * h,
      sum, min, max))
  }

  /** Gray JPEG with pixels from the SMOOTH formula
    * clamp(((x + y) * 255) / (w + h - 2)): gradients survive lossy
    * DCT quantization with small error, so spec-side value checks can
    * use a tight budget; dims/sample-count are exact. quality in
    * [0,100]. */
  def jpegBytes(w: Int, h: Int, quality: Int): Array[Byte] = {
    require(w > 0 && h > 0, s"bad dims ${w}x$h")
    // sRGB with r=g=b — NOT TYPE_BYTE_GRAY: the JDK's gray type is a
    // LINEAR color space and getRGB gamma-converts it to sRGB, which
    // would shift every value systematically (~54/255 mid-scale)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val denom = math.max(1, w + h - 2)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (x + y) * 255 / denom
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    encodeJpeg(img, quality)
  }

  /** The reference pixel value the synthesizer wrote at (x, y). */
  def expectedSample(x: Int, y: Int, w: Int, h: Int): Int =
    (x + y) * 255 / math.max(1, w + h - 2)

  /** 64-bit perceptual dHash of a JPEG — the JPEG member of
    * [[PixelDecode.imageDHash64]]'s format dispatch: decode through
    * the JDK reader, fold to the SAME truncating integer luma as the
    * PNG path ((299r + 587g + 114b) / 1000 — on the r=g=b planes the
    * gray formats produce, luma == the gray value on both paths), and
    * run the SAME shared 9×8 integer area-average core
    * ([[PixelDecode.dhashFromGray]]). A high-quality JPEG re-save of
    * a PNG/GIF original therefore lands within a small hamming ball
    * of the original's hash — the cross-format duplicate case a real
    * (mostly-JPEG) corpus hits constantly. Null when not a decodable
    * JPEG of at least 9×8, or past the pixel cap. */
  def jpegDHash64(b: Array[Byte]): java.lang.Long = {
    if (b == null || b.length < 4) return null
    if ((b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return null
    val img =
      try ImageIoHolder.readBounded(b, MaxPixels)
      catch { case _: Exception => null }
    if (img == null) return null
    val w = img.getWidth
    val h = img.getHeight
    if (w < 9 || h < 8 || w.toLong * h > MaxPixels) return null
    // one luma byte per pixel (not an int plane): the cap bounds this
    // at 64 MiB per blob
    val luma = new Array[Byte](w * h)
    val row = new Array[Int](w)
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, row, 0, w)
      var x = 0
      while (x < w) {
        val rgb = row(x)
        val r = (rgb >> 16) & 0xff
        val g = (rgb >> 8) & 0xff
        val bl = rgb & 0xff
        luma(y * w + x) = ((299 * r + 587 * g + 114 * bl) / 1000).toByte
        x += 1
      }
      y += 1
    }
    PixelDecode.dhashFromGray(w, h, (x, yy) => (luma(yy * w + x) & 0xff).toLong)
  }

  /** 72×64 gray JPEG rendering [[PixelDecode.cellLevels]] — the same
    * pixel grid as [[PixelDecode.pngCellBytes]], re-saved lossy: each
    * dHash cell is one constant 8×8 block aligned with JPEG's DCT
    * grid, so at high quality the decoded block stays within a few
    * counts of the level while adjacent cells differ by ≥ 32 — the
    * dHash survives the re-encode bit-exactly (probed over all 251
    * fixture seeds in JpegDHashSpec). r=g=b sRGB, not TYPE_BYTE_GRAY
    * (see [[jpegBytes]] on the gamma trap). */
  def jpegCellBytes(seed: Int, quality: Int): Array[Byte] = {
    val lv = PixelDecode.cellLevels(seed)
    val img = new java.awt.image.BufferedImage(72, 64,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < 64) {
      var x = 0
      while (x < 72) {
        val v = lv((y >> 3) * 9 + (x >> 3))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    encodeJpeg(img, quality)
  }

  private def encodeJpeg(img: java.awt.image.BufferedImage,
      quality: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(
      img.getWidth * img.getHeight / 4 + 512)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val ios = ImageIoHolder.outputStream(out)
    try {
      writer.setOutput(ios)
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(math.max(0, math.min(100, quality)) / 100f)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    } finally { writer.dispose(); ios.close() }
    out.toByteArray
  }

  // ---- columns (StaticInvoke over the kernels above) --------------------

  /** binary → decoded luma stats struct, null when ImageIO cannot
    * read the bytes as a JPEG. */
  def jpegStats(bytes: Column): Column =
    staticCall(this, "jpegPixelStats", JpegStatsType, nullable = true, bytes)

  /** (seed, quality) → cell-grid JPEG bytes ([[jpegCellBytes]]). */
  def synthJpegCells(seed: Column, quality: Column): Column =
    staticCall(this, "jpegCellBytes", BinaryType, nullable = false,
      seed, quality)

  /** (w, h, quality) → gradient JPEG bytes ([[jpegBytes]]). */
  def synthJpeg(w: Column, h: Column, quality: Column): Column =
    staticCall(this, "jpegBytes", BinaryType, nullable = false, w, h, quality)
}

/** ImageIO.read with the scanner disabled-dirs caches warm; kept in a
  * holder so executor-side class init stays cheap.
  *
  * setUseCache(false) is load-bearing: ImageIO's default stream cache
  * is FILE-backed — with it on, every per-row decode (and encode)
  * writes a temp file under java.io.tmpdir. In-memory payloads never
  * need it, and the temp-file churn both costs and varies with
  * filesystem pressure (observed as x36 swinging 2-4 s run-to-run). */
private[ext] object ImageIoHolder {
  javax.imageio.ImageIO.setUseCache(false)

  /** Decode with the pixel cap enforced BEFORE the raster exists:
    * `ImageIO.read` allocates the full BufferedImage from the header's
    * declared dimensions before any caller-side check can run, so a
    * dimension-lie JPEG (SOF declaring 65500×65500 → a multi-GiB
    * raster) would balloon executor memory inside the JDK (round-16
    * fuzz campaign). `ImageReader.getWidth/getHeight` parse header
    * metadata only — cap there, then decode. Null when undecodable or
    * past the cap. */
  def readBounded(b: Array[Byte], maxPixels: Long): java.awt.image.BufferedImage = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(b))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return null
      val reader = readers.next()
      try {
        reader.setInput(iis, true, true)
        val w = reader.getWidth(0)
        val h = reader.getHeight(0)
        if (w <= 0 || h <= 0 || w.toLong * h > maxPixels) return null
        reader.read(0)
      } finally reader.dispose()
    } finally iis.close()
  }
  /** Route encode-side stream creation here so the holder's
    * setUseCache init is guaranteed to have run first. */
  def outputStream(out: java.io.OutputStream): javax.imageio.stream.ImageOutputStream =
    javax.imageio.ImageIO.createImageOutputStream(out)
}
