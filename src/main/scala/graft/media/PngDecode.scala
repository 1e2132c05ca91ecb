package graft.media

import java.util.zip.{CRC32, DataFormatException}

/** Direct PNG decode into row-major 8-bit RGB with PIL `convert("RGB")`
  * semantics: every legal PNG (colour types 0/2/3/4/6, bit depths
  * 1/2/4/8/16, Adam7 interlace, IDAT split over any number of chunks).
  *
  *  - gray is replicated into R, G and B with no gamma curve; 1/2/4-bit gray
  *    is scaled ×255/×85/×17;
  *  - 16-bit samples keep their high byte;
  *  - alpha is dropped with no compositing; tRNS, gAMA, iCCP and sRGB are
  *    ignored;
  *  - palette indices past the end of PLTE read as black.
  *
  * Work is bounded by the header: the [[ImageDecode.MaxPixels]] check runs on
  * IHDR before any byte is inflated, rows are inflated a batch at a time
  * into buffers sized from IHDR, and IDAT data past the declared raster is
  * rejected after inflating at most one byte of it. The IDAT payloads are
  * inflated in place by [[Inflate]] (zlib's accept/reject rules; a stream
  * that simply ends once the raster is complete, with no Adler-32 trailer,
  * is accepted). All chunk CRCs are checked. Malformed input only ever
  * throws `IllegalArgumentException`.
  */
private[media] object PngDecode {

  private val Signature = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Adam7 passes: (x0, y0, dx, dy). */
  private val Adam7 = Array((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  def isPng(b: Array[Byte]): Boolean =
    b.length >= 8 && java.util.Arrays.equals(b, 0, 8, Signature, 0, 8)

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(s"malformed PNG: $msg")

  private def u32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) | ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  private def chunkType(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) | ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)

  /** Inflate batch target: whole rows, at least one. */
  private val BatchBytes = 1 << 16

  private val IHDR = 0x49484452
  private val PLTE = 0x504c5445
  private val IDAT = 0x49444154
  private val IEND = 0x49454e44

  private final class Header(val width: Int, val height: Int, val depth: Int,
                             val colorType: Int, val interlaced: Boolean) {
    val channels: Int = colorType match {
      case 0 | 3 => 1
      case 2 => 3
      case 4 => 2
      case _ => 4
    }
    /** Filter unit: bytes per complete pixel, at least 1. */
    val bpp: Int = math.max(1, channels * depth / 8)
    def rowBytes(w: Int): Int = ((w.toLong * channels * depth + 7) / 8).toInt
  }

  private def parseHeader(b: Array[Byte], o: Int, len: Long): Header = {
    if (len != 13) fail(s"IHDR length $len")
    val (w, h) = (u32(b, o), u32(b, o + 4))
    if (w == 0 || h == 0 || w > Int.MaxValue || h > Int.MaxValue) fail(s"IHDR size ${w}x$h")
    require(w * h <= ImageDecode.MaxPixels,
      s"decompression bomb: ${w}x$h = ${w * h} px exceeds ${ImageDecode.MaxPixels}")
    val depth = b(o + 8) & 0xff
    val ct = b(o + 9) & 0xff
    val legal = ct match {
      case 0 => depth == 1 || depth == 2 || depth == 4 || depth == 8 || depth == 16
      case 3 => depth == 1 || depth == 2 || depth == 4 || depth == 8
      case 2 | 4 | 6 => depth == 8 || depth == 16
      case _ => false
    }
    if (!legal) fail(s"colour type $ct with bit depth $depth")
    if (b(o + 10) != 0 || b(o + 11) != 0) fail("unknown compression or filter method")
    val interlace = b(o + 12) & 0xff
    if (interlace > 1) fail(s"interlace method $interlace")
    new Header(w.toInt, h.toInt, depth, ct, interlace == 1)
  }

  def decode(b: Array[Byte]): ImageDecode.Decoded = {
    if (!isPng(b)) fail("no signature")
    // chunk walk: lengths, CRCs and order; IDAT payloads are only located here
    val crc = new CRC32
    var hdr: Header = null
    var palette: Array[Byte] = null
    val idatFrom, idatUntil = Array.newBuilder[Int]
    var seenIdat, idatDone = false
    var pos = 8
    var end = false
    while (!end && pos < b.length) {
      if (b.length - pos < 12) fail(s"truncated chunk at byte $pos")
      val len = u32(b, pos)
      if (len > b.length - pos - 12L) fail(s"chunk length $len overruns the input at byte $pos")
      val typ = chunkType(b, pos + 4)
      val data = pos + 8
      val n = len.toInt
      crc.reset()
      crc.update(b, pos + 4, n + 4)
      if (crc.getValue != u32(b, data + n)) fail(s"CRC mismatch in chunk at byte $pos")
      if (hdr == null && typ != IHDR) fail("first chunk is not IHDR")
      typ match {
        case IHDR =>
          if (hdr != null) fail("second IHDR")
          hdr = parseHeader(b, data, len)
        case PLTE =>
          if (n % 3 != 0 || n == 0 || n > 768) fail(s"PLTE length $n")
          palette = new Array[Byte](768) // entries past the chunk stay black
          System.arraycopy(b, data, palette, 0, n)
        case IDAT =>
          if (idatDone) fail("IDAT chunks are not consecutive")
          idatFrom += data
          idatUntil += data + n
          seenIdat = true
        case IEND => end = true
        case _ =>
      }
      if (seenIdat && typ != IDAT) idatDone = true
      pos = data + n + 4
    }
    if (hdr == null) fail("no IHDR")
    if (!seenIdat) fail("no IDAT")
    if (hdr.colorType == 3 && palette == null) fail("palette image without PLTE")
    inflateRaster(hdr, palette, new Inflate(b, idatFrom.result(), idatUntil.result()))
  }

  private def inflateRaster(hdr: Header, palette: Array[Byte], inf: Inflate): ImageDecode.Decoded = {
    val (w, h) = (hdr.width, hdr.height)
    val out = new Array[Byte](w * h * 3)
    try {
      def inflateFully(buf: Array[Byte], n: Int): Unit =
        if (inf.read(buf, 0, n) < n) {
          if (inf.finished) fail(s"IDAT ends after ${inf.totalOut} bytes, before the raster")
          fail(s"IDAT truncated after ${inf.totalOut} bytes")
        }
      val passes = if (hdr.interlaced) Adam7 else Array((0, 0, 1, 1))
      var expected = 0L
      passes.foreach { case (x0, y0, dx, dy) =>
        val pw = if (w > x0) (w - x0 + dx - 1) / dx else 0
        val ph = if (h > y0) (h - y0 + dy - 1) / dy else 0
        if (pw > 0 && ph > 0) {
          // rows are inflated a batch at a time (few read calls, bounded
          // buffer); `above` holds the row before the batch, zeros at the top
          val rowLen = hdr.rowBytes(pw) + 1
          val batch = math.max(1, math.min(ph, BatchBytes / rowLen))
          val buf = new Array[Byte](batch * rowLen)
          val above = new Array[Byte](rowLen)
          var r = 0
          while (r < ph) {
            val m = math.min(batch, ph - r)
            inflateFully(buf, m * rowLen)
            var i = 0
            while (i < m) {
              val o = i * rowLen
              if (i == 0) unfilter(buf, o, above, 0, rowLen, hdr.bpp)
              else unfilter(buf, o, buf, o - rowLen, rowLen, hdr.bpp)
              emit(buf, o, hdr, palette, out, ((y0 + (r + i) * dy) * w + x0) * 3, dx * 3, pw)
              i += 1
            }
            System.arraycopy(buf, (m - 1) * rowLen, above, 0, rowLen)
            r += m
          }
          expected += ph.toLong * rowLen
        }
      }
      // the raster is complete: any further inflated byte is past what IHDR
      // declared, so stop at the first one instead of inflating the rest
      if (inf.read(new Array[Byte](1), 0, 1) > 0)
        fail(s"IDAT inflates past the $expected-byte raster (inflated ${inf.totalOut} bytes)")
      ImageDecode.Decoded(w, h, out)
    } catch {
      case e: DataFormatException => fail(s"IDAT inflate: ${e.getMessage}")
    }
  }

  /** Undo the row filter in place: the row is `len` bytes at `o` (filter
    * type first), the unfiltered row above it `len` bytes at `po`.
    */
  private def unfilter(row: Array[Byte], o: Int, prev: Array[Byte], po: Int, len: Int, bpp: Int): Unit = {
    val end = o + len
    ((row(o) & 0xff): @annotation.switch) match {
      case 0 =>
      case 1 =>
        var i = o + 1 + bpp
        while (i < end) { row(i) = (row(i) + row(i - bpp)).toByte; i += 1 }
      case 2 =>
        var i = 1
        while (i < len) { row(o + i) = (row(o + i) + prev(po + i)).toByte; i += 1 }
      case 3 =>
        var i = 1
        while (i < len) {
          val a = if (i > bpp) row(o + i - bpp) & 0xff else 0
          row(o + i) = (row(o + i) + ((a + (prev(po + i) & 0xff)) >> 1)).toByte
          i += 1
        }
      case 4 =>
        var i = 1
        while (i < len) {
          val b = prev(po + i) & 0xff
          val a = if (i > bpp) row(o + i - bpp) & 0xff else 0
          val c = if (i > bpp) prev(po + i - bpp) & 0xff else 0
          val pa = math.abs(b - c)
          val pb = math.abs(a - c)
          val pc = math.abs(a + b - 2 * c)
          val p = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
          row(o + i) = (row(o + i) + p).toByte
          i += 1
        }
      case f => fail(s"row filter type $f")
    }
  }

  /** Write the `pw` pixels of the unfiltered row at `ro` (filter byte
    * first) as RGB, starting at `o` and `step` output bytes apart.
    */
  private def emit(row: Array[Byte], ro: Int, hdr: Header, palette: Array[Byte],
                   out: Array[Byte], o: Int, step: Int, pw: Int): Unit = {
    val depth = hdr.depth
    if (depth < 8) {
      // 1/2/4-bit gray or palette index, packed from the high bit down
      val mask = (1 << depth) - 1
      val scale = 255 / mask
      var i = 0
      var d = o
      while (i < pw) {
        val bit = i * depth
        val s = ((row(ro + 1 + (bit >> 3)) & 0xff) >> (8 - depth - (bit & 7))) & mask
        if (hdr.colorType == 3) {
          out(d) = palette(3 * s); out(d + 1) = palette(3 * s + 1); out(d + 2) = palette(3 * s + 2)
        } else {
          val g = (s * scale).toByte
          out(d) = g; out(d + 1) = g; out(d + 2) = g
        }
        i += 1
        d += step
      }
    } else if (hdr.colorType == 2 && depth == 8 && step == 3) {
      System.arraycopy(row, ro + 1, out, o, pw * 3)
    } else {
      // whole-byte samples: the high byte of each 16-bit sample is its first
      val sample = depth / 8
      val px = hdr.channels * sample
      var s = ro + 1
      var d = o
      var i = 0
      while (i < pw) {
        if (hdr.colorType == 3) {
          val k = 3 * (row(s) & 0xff)
          out(d) = palette(k); out(d + 1) = palette(k + 1); out(d + 2) = palette(k + 2)
        } else if (hdr.colorType == 2 || hdr.colorType == 6) {
          out(d) = row(s); out(d + 1) = row(s + sample); out(d + 2) = row(s + 2 * sample)
        } else {
          val g = row(s)
          out(d) = g; out(d + 1) = g; out(d + 2) = g
        }
        s += px
        d += step
        i += 1
      }
    }
  }
}
