package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Expressions.staticCall

/** EXIF (APP1/TIFF) metadata for JPEG blobs — the camera-orientation /
  * capture-time / device fields a multimodal curation pipeline reads
  * before decoding any pixels (rotate-before-resize needs Orientation;
  * dataset dedup and provenance use DateTime/Make).
  *
  * Pure byte parsing of PUBLIC specs (JPEG segment walk → APP1
  * `Exif\0\0` → TIFF header → IFD0 entries), both byte orders (II/MM)
  * supported; header-only like every [[MediaProbe]] decoder — a
  * scan-side codegen expression, zero shuffle, no image library.
  *
  * Reference scope: deimos has no media handling; extends the engine's
  * multimodal surface (SURVEY.md §2.9).
  */
object ExifProbe {

  val ExifMetaType: StructType = StructType(Seq(
    StructField("orientation", IntegerType),
    StructField("make", StringType),
    StructField("datetime", StringType)))

  // ---- synth: JPEG with a real APP1/TIFF IFD ---------------------------

  /** Minimal JPEG carrying a genuine little-endian TIFF IFD0 with
    * Orientation (0x0112 SHORT inline), Make (0x010F ASCII via value
    * offset) and DateTime (0x0132 ASCII 20 bytes via value offset):
    * SOI + APP1(Exif) + SOF0(16×8) + EOI. Deterministic fixture:
    * make = "Cam<makeId>", datetime = "2024:01:01 00:<mm>:<ss>". */
  def exifJpegBytes(orientation: Int, makeId: Int, mm: Int, ss: Int): Array[Byte] = {
    // ASCII values are NUL-terminated per TIFF; DateTime is the spec's
    // exact 20 bytes (19 chars + NUL)
    val mBytes = s"Cam$makeId".getBytes("US-ASCII") :+ 0.toByte
    val dtBytes =
      f"2024:01:01 00:$mm%02d:$ss%02d".getBytes("US-ASCII") :+ 0.toByte
    // IFD0 @8: count(2) + 3*12 + next(4) = 42 -> value area @50
    val makeOff = 50
    val dtOff = makeOff + mBytes.length
    val tiff = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { tiff.write(v & 0xff); tiff.write((v >>> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
    tiff.write('I'); tiff.write('I'); w16(42); w32(8)
    w16(3) // entry count
    // entries must be tag-ascending per spec: 0x010F, 0x0112, 0x0132
    w16(0x010f); w16(2); w32(mBytes.length); w32(makeOff)
    w16(0x0112); w16(3); w32(1); w16(orientation); w16(0)
    w16(0x0132); w16(2); w32(dtBytes.length); w32(dtOff)
    w32(0) // next IFD
    tiff.write(mBytes, 0, mBytes.length)
    tiff.write(dtBytes, 0, dtBytes.length)
    val payload = "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++
      tiff.toByteArray
    val app1Len = payload.length + 2
    val app1 = Array[Byte](0xff.toByte, 0xe1.toByte,
      ((app1Len >>> 8) & 0xff).toByte, (app1Len & 0xff).toByte) ++ payload
    val sof0 = Array[Byte](0xff.toByte, 0xc0.toByte, 0, 11, 8,
      0, 8, 0, 16, 1, 1, 0x11, 0) // 16 wide, 8 high
    Array[Byte](0xff.toByte, 0xd8.toByte) ++ app1 ++ sof0 ++
      Array[Byte](0xff.toByte, 0xd9.toByte)
  }

  // ---- parse -----------------------------------------------------------

  /** Walk JPEG segments to the first APP1 whose payload starts
    * `Exif\0\0`, then parse the TIFF IFD0. Null on any malformed or
    * absent structure (not a JPEG, no APP1, truncated IFD) — loud
    * nulls over wrong values, the MediaProbe contract. */
  def parseExif(b: Array[Byte]): GenericInternalRow = {
    if (b == null || b.length < 4) return null
    if ((b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return null
    var i = 2
    while (i + 2 <= b.length && (b(i) & 0xff) == 0xff) {
      // real-world JPEGs pad with extra 0xFF fill bytes before markers
      var j = i
      while (j + 2 <= b.length && (b(j + 1) & 0xff) == 0xff) j += 1
      if (j + 2 > b.length) return null
      val marker = b(j + 1) & 0xff
      if (marker == 0xd9 || marker == 0xda) return null // EOI/SOS: none found
      if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
        i = j + 2 // TEM / RSTn are standalone: no length word follows
      } else {
        if (j + 4 > b.length) return null
        val segLen = ((b(j + 2) & 0xff) << 8) | (b(j + 3) & 0xff)
        if (segLen < 2 || j + 2 + segLen > b.length) return null
        if (marker == 0xe1 && segLen >= 2 + 6 + 8 &&
            b(j + 4) == 'E' && b(j + 5) == 'x' && b(j + 6) == 'i' &&
            b(j + 7) == 'f' && b(j + 8) == 0 && b(j + 9) == 0)
          return parseTiff(b, j + 10, j + 2 + segLen)
        i = j + 2 + segLen
      }
    }
    null
  }

  private def parseTiff(b: Array[Byte], tiffStart: Int,
      end: Int): GenericInternalRow = {
    if (tiffStart + 8 > end) return null
    val little = b(tiffStart) == 'I' && b(tiffStart + 1) == 'I'
    val big = b(tiffStart) == 'M' && b(tiffStart + 1) == 'M'
    if (!little && !big) return null
    def u16(i: Int): Int =
      if (little) (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
      else ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
    def u32(i: Int): Long =
      if (little) (u16(i) & 0xffffL) | ((u16(i + 2) & 0xffffL) << 16)
      else ((u16(i) & 0xffffL) << 16) | (u16(i + 2) & 0xffffL)
    if (u16(tiffStart + 2) != 42) return null
    // offsets are UNSIGNED 32-bit: keep them Long until bounds-checked —
    // a hostile 0xFFFFFFFF .toInt'd to -1 (or a value near 2^31 whose
    // +len overflows int) would slip past a naive `> end` check and
    // throw out of the array/String reads, violating the null-never-
    // throw media contract (EXIF was outside the round-16 fuzz net)
    val ifdOff = u32(tiffStart + 4)
    if (ifdOff < 8L || tiffStart + ifdOff + 2L > end) return null
    val ifd = tiffStart + ifdOff.toInt
    val n = u16(ifd)
    var orientation: Integer = null
    var make: UTF8String = null
    var datetime: UTF8String = null
    var e = ifd + 2
    var k = 0
    while (k < n && e + 12 <= end) {
      val tag = u16(e)
      val typ = u16(e + 2)
      val cnt = u32(e + 4)
      def ascii(): UTF8String = {
        // ASCII values: inline when <= 4 bytes, else offset from the
        // TIFF header; strip the trailing NUL
        // cnt and the value offset are unsigned 32-bit — bounds-check
        // in Long BEFORE narrowing (see the IFD-offset note above)
        if (cnt <= 0L || cnt > end.toLong) return null
        val len = cnt.toInt
        val offL =
          if (len <= 4) (e + 8).toLong else tiffStart + u32(e + 8)
        if (offL < 0L || offL + len > end) null
        else {
          val raw = new String(b, offL.toInt, len, "US-ASCII")
          UTF8String.fromString(raw.takeWhile(_ != '\u0000'))
        }
      }
      tag match {
        case 0x0112 if typ == 3 && cnt == 1L =>
          orientation = Integer.valueOf(u16(e + 8))
        case 0x010f if typ == 2 => make = ascii()
        case 0x0132 if typ == 2 => datetime = ascii()
        case _ => ()
      }
      e += 12
      k += 1
    }
    if (orientation == null && make == null && datetime == null) null
    else new GenericInternalRow(Array[Any](
      if (orientation == null) null else orientation.intValue(),
      make, datetime))
  }

  // ---- columns (StaticInvoke over the kernels above) --------------------

  /** (orientation, makeId, mm, ss) → JPEG bytes carrying an EXIF
    * APP1 segment ([[exifJpegBytes]]). */
  def synthExifJpeg(orientation: Column, makeId: Column, mm: Column,
      ss: Column): Column =
    staticCall(this, "exifJpegBytes", BinaryType, nullable = false,
      orientation, makeId, mm, ss)

  /** binary → EXIF meta struct, null when the bytes carry no EXIF
    * orientation, make or datetime. */
  def exifMeta(bytes: Column): Column =
    staticCall(this, "parseExif", ExifMetaType, nullable = true, bytes)
}
