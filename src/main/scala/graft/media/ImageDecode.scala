package graft.media

import java.io.ByteArrayInputStream

/** Real media decode for the binary-column path — the formerly-stubbed half
  * of `load_image` (`/root/reference/src/churro_ocr/_internal/image.py:20-29`:
  * open + `ImageOps.exif_transpose`), on a bare JVM:
  *
  *  - native PNG decode ([[PngDecode]]: PIL `convert("RGB")` semantics);
  *    JPEG/BMP/GIF via `javax.imageio`; both into row-major RGB bytes
  *    (differentially verified against PNGs and pixel digests produced by an
  *    independent pure-Python encoder, tools/gen_media_fixture.py);
  *  - EXIF orientation parse (JPEG APP1 → TIFF IFD0 tag 0x0112, both byte
  *    orders) + the eight PIL `exif_transpose` pixel transforms.
  */
object ImageDecode {

  final case class Decoded(width: Int, height: Int, rgb: Array[Byte])

  /** Decompression-bomb ceiling, PIL parity: `Image.MAX_IMAGE_PIXELS` is
    * 89,478,485 and PIL raises `DecompressionBombError` at 2× that. A web
    * crawl WILL contain 100000×100000 PNGs whose header is 100 bytes but
    * whose raster is 30 GB — the dims are checked from the header BEFORE
    * any pixel is inflated.
    */
  val MaxPixels: Long = 2L * 89478485L

  /** Decode to 8-bit RGB, row-major [r,g,b]* (alpha dropped, like the
    * reference's `ensure_rgb`). PNG goes through [[PngDecode]]; every other
    * format through `javax.imageio`, read from memory (a stream-backed
    * ImageInputStream would spool each payload to a temp file).
    *
    * Hostile-input contract: malformed payloads only ever throw
    * `IllegalArgumentException`. The JDK codecs escape with IIOException
    * on truncation and with unchecked index/size errors on some corrupt
    * streams — all are caught at this boundary and rethrown typed, so a
    * bad image fails one ROW loudly instead of killing the task with an
    * untyped error no caller can distinguish from an engine bug.
    */
  def decode(bytes: Array[Byte]): Decoded =
    if (PngDecode.isPng(bytes)) PngDecode.decode(bytes) else decodeImageIO(bytes)

  private def decodeImageIO(bytes: Array[Byte]): Decoded = {
    val img =
      try {
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          require(readers.hasNext, "undecodable image payload")
          val reader = readers.next()
          try {
            reader.setInput(iis)
            // header-only dimension read: the bomb check must precede decode
            val (w, h) = (reader.getWidth(0), reader.getHeight(0))
            require(w > 0 && h > 0, s"undecodable image payload: ${w}x$h")
            require(w.toLong * h <= MaxPixels,
              s"decompression bomb: ${w}x$h = ${w.toLong * h} px exceeds $MaxPixels")
            reader.read(0)
          } finally reader.dispose()
        } finally iis.close()
      } catch {
        case e: IllegalArgumentException => throw e
        case scala.util.control.NonFatal(e) =>
          throw new IllegalArgumentException(
            s"undecodable image payload: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    require(img != null, "undecodable image payload")
    val w = img.getWidth
    val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    val out = new Array[Byte](w * h * 3)
    var i = 0
    var j = 0
    while (i < px.length) {
      val p = px(i)
      out(j) = ((p >> 16) & 0xFF).toByte
      out(j + 1) = ((p >> 8) & 0xFF).toByte
      out(j + 2) = (p & 0xFF).toByte
      i += 1
      j += 3
    }
    Decoded(w, h, out)
  }

  def sha256Hex(bytes: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
    d.map(b => f"${b & 0xFF}%02x").mkString
  }

  private def isJpeg(b: Array[Byte]): Boolean =
    b.length > 3 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8

  /** EXIF orientation (1–8) from a JPEG's APP1 segment; 1 when absent or
    * malformed (the reference's PIL behaves the same: no tag → no transpose).
    */
  def exifOrientation(jpeg: Array[Byte]): Int = {
    if (!isJpeg(jpeg)) return 1
    var pos = 2
    while (pos + 4 <= jpeg.length) {
      if ((jpeg(pos) & 0xFF) != 0xFF) return 1
      val marker = jpeg(pos + 1) & 0xFF
      if (marker == 0xDA || marker == 0xD9) return 1 // SOS / EOI: no APP1 seen
      val len = ((jpeg(pos + 2) & 0xFF) << 8) | (jpeg(pos + 3) & 0xFF)
      // a segment length < 2 is malformed framing (the length field counts
      // itself): treat as no-orientation — and without this, len=0 would
      // hand copyOfRange a from > to below
      if (len < 2) return 1
      if (marker == 0xE1 && pos + 4 + len - 2 <= jpeg.length) {
        val seg = java.util.Arrays.copyOfRange(jpeg, pos + 4, pos + 2 + len)
        val o = orientationFromExifPayload(seg)
        if (o != 0) return o
      }
      pos += 2 + len
    }
    1
  }

  /** Parse an `Exif\0\0` + TIFF payload for IFD0 tag 0x0112 (SHORT). */
  def orientationFromExifPayload(seg: Array[Byte]): Int = {
    if (seg.length < 14 || !(seg(0) == 'E' && seg(1) == 'x' && seg(2) == 'i' && seg(3) == 'f')) return 0
    val t = 6 // TIFF header offset
    val little = seg(t) == 'I' && seg(t + 1) == 'I'
    val big = seg(t) == 'M' && seg(t + 1) == 'M'
    if (!little && !big) return 0
    def u16(off: Int): Int =
      if (little) (seg(off) & 0xFF) | ((seg(off + 1) & 0xFF) << 8)
      else ((seg(off) & 0xFF) << 8) | (seg(off + 1) & 0xFF)
    def u32(off: Int): Long =
      if (little) (u16(off) & 0xFFFFL) | ((u16(off + 2) & 0xFFFFL) << 16)
      else ((u16(off) & 0xFFFFL) << 16) | (u16(off + 2) & 0xFFFFL)
    if (u16(t + 2) != 0x2A) return 0
    // bounds-check the IFD offset in Long space: a hostile u32 ≥ 2^31 would
    // truncate NEGATIVE through .toInt, pass an `ifd + 2 > length` check,
    // and index seg(negative) — malformed EXIF must mean "no orientation",
    // not an array fault
    val ifdL = t + u32(t + 4)
    if (ifdL + 2 > seg.length) return 0
    val ifd = ifdL.toInt
    val n = u16(ifd)
    var e = 0
    while (e < n) {
      val off = ifd + 2 + e * 12
      if (off + 12 > seg.length) return 0
      if (u16(off) == 0x0112) {
        val v = u16(off + 8) // SHORT value lives in the first 2 value bytes
        return if (v >= 1 && v <= 8) v else 0
      }
      e += 1
    }
    0
  }

  /** PIL `exif_transpose` pixel transforms (orientation 2–8; 1 = identity). */
  def applyOrientation(d: Decoded, orientation: Int): Decoded = {
    if (orientation <= 1 || orientation > 8) return d
    val (w, h) = (d.width, d.height)
    val swap = orientation >= 5
    val (nw, nh) = if (swap) (h, w) else (w, h)
    val out = new Array[Byte](d.rgb.length)
    var y = 0
    while (y < nh) {
      var x = 0
      while (x < nw) {
        // source pixel for destination (x, y)
        val (sx, sy) = orientation match {
          case 2 => (w - 1 - x, y) // flip left-right
          case 3 => (w - 1 - x, h - 1 - y) // rotate 180
          case 4 => (x, h - 1 - y) // flip top-bottom
          case 5 => (y, x) // transpose (main diagonal)
          case 6 => (y, h - 1 - x) // PIL ROTATE_270 (90 deg clockwise)
          case 7 => (w - 1 - y, h - 1 - x) // transverse (anti-diagonal)
          case _ => (w - 1 - y, x) // 8: PIL ROTATE_90 (90 deg counterclockwise)
        }
        val si = (sy * w + sx) * 3
        val di = (y * nw + x) * 3
        out(di) = d.rgb(si)
        out(di + 1) = d.rgb(si + 1)
        out(di + 2) = d.rgb(si + 2)
        x += 1
      }
      y += 1
    }
    Decoded(nw, nh, out)
  }

  /** `load_image` parity: decode + EXIF orientation normalize. */
  def loadImage(bytes: Array[Byte]): Decoded =
    applyOrientation(decode(bytes), exifOrientation(bytes))

  /** Exact pixel crop (left, top, right, bottom), clamped like PIL. */
  def crop(d: Decoded, left: Int, top: Int, right: Int, bottom: Int): Decoded = {
    val l = math.max(0, left); val t = math.max(0, top)
    val r = math.min(d.width, right); val b = math.min(d.height, bottom)
    val (w, h) = (math.max(0, r - l), math.max(0, b - t))
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      System.arraycopy(d.rgb, ((t + y) * d.width + l) * 3, out, y * w * 3, w * 3)
      y += 1
    }
    Decoded(w, h, out)
  }

  /** Bicubic resize — Pillow-exact via [[PilResample]] (the fixed-point
    * Resample.c pipeline, Keys a = −0.5, differentially golden-verified
    * against the independent twin in tools/gen_resample_fixture.py). The
    * round-3 Graphics2D implementation was "real but PIL-bit-inexact";
    * this one reproduces Pillow's bytes.
    */
  def resizeBicubic(d: Decoded, tw: Int, th: Int): Decoded =
    PilResample.resize(d, tw, th)

  /** Exact integer per-channel pixel sums (feature extraction primitive —
    * channel means follow as one double division, reproducible everywhere).
    */
  def channelSums(d: Decoded): (Long, Long, Long) = {
    var (r, g, b) = (0L, 0L, 0L)
    var i = 0
    while (i < d.rgb.length) {
      r += d.rgb(i) & 0xFF
      g += d.rgb(i + 1) & 0xFF
      b += d.rgb(i + 2) & 0xFF
      i += 3
    }
    (r, g, b)
  }

  /** RGB byte triples → BufferedImage — the ONE pixel-packing definition
    * every ImageIO encode goes through (PNG sink here, JPEG data URI in
    * TableMask); a layout fix applied to one copy must not miss the other.
    */
  def toBufferedImage(d: Decoded): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(d.width, d.height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](d.width * d.height)
    var i = 0
    while (i < px.length) {
      px(i) = ((d.rgb(i * 3) & 0xFF) << 16) | ((d.rgb(i * 3 + 1) & 0xFF) << 8) | (d.rgb(i * 3 + 2) & 0xFF)
      i += 1
    }
    img.setRGB(0, 0, d.width, d.height, px, 0, d.width)
    img
  }

  /** Encode RGB pixels with the named ImageIO writer ("png", "jpg") — the
    * writer `ImageIO.write` picks, but through a memory-cached output
    * stream: `ImageIO.write` to an `OutputStream` spools through a temp
    * file per call. Empty when no writer handles `format`, like `ImageIO.write`.
    */
  def encode(d: Decoded, format: String): Array[Byte] = {
    val img = toBufferedImage(d)
    val writers = javax.imageio.ImageIO.getImageWriters(
      javax.imageio.ImageTypeSpecifier.createFromRenderedImage(img), format)
    val bos = new java.io.ByteArrayOutputStream()
    if (writers.hasNext) {
      val writer = writers.next()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.write(img)
      } finally {
        writer.dispose()
        ios.close()
      }
    }
    bos.toByteArray
  }

  /** Encode RGB pixels as PNG bytes (the `page_%04d.png` sink,
    * `cli.py:247-250`, now real).
    */
  def encodePng(d: Decoded): Array[Byte] = encode(d, "png")

  /** `_rotate_image_by_angle` (`_mineru25.py:294-299`): PIL rotate(angle,
    * expand=True) is COUNTERclockwise; non-{90,180,270} angles are identity.
    * CCW90 ≡ EXIF orientation 8, 180 ≡ 3, CCW270 ≡ 6.
    */
  def rotateByAngle(d: Decoded, angle: Int): Decoded = angle match {
    case 90 => applyOrientation(d, 8)
    case 180 => applyOrientation(d, 3)
    case 270 => applyOrientation(d, 6)
    case _ => d
  }

  /** `_get_average_color` (`_mineru25.py:318-361`): integer mean of the 8
    * clamped border samples (pad 2) around a box.
    */
  def averageColor(d: Decoded, box: (Int, Int, Int, Int)): (Int, Int, Int) = {
    val (left, upper, right, lower) = box
    val pad = 2
    val midX = Math.floorDiv(left + right, 2)
    val midY = Math.floorDiv(upper + lower, 2)
    val points = Seq(
      (left - pad, upper - pad), (midX, upper - pad), (right + pad, upper - pad),
      (right + pad, midY), (right + pad, lower + pad), (midX, lower + pad),
      (left - pad, lower + pad), (left - pad, midY))
    var (r, g, b) = (0, 0, 0)
    points.foreach { case (px0, py0) =>
      val px = math.max(0, math.min(px0, d.width - 1))
      val py = math.max(0, math.min(py0, d.height - 1))
      val i = (py * d.width + px) * 3
      r += d.rgb(i) & 0xFF; g += d.rgb(i + 1) & 0xFF; b += d.rgb(i + 2) & 0xFF
    }
    (r / points.length, g / points.length, b / points.length)
  }

  /** Integer luma of the pixel starting at byte offset `o` — the shared
    * deterministic (299·r + 587·g + 114·b) / 1000 truncating formula both
    * Python twins pin ([[PHash]] grayscale, [[graft.layout.PageSegment]]
    * ink mask); ONE copy so a rounding tweak cannot desynchronize the two
    * cross-language contracts. The ink mask tests `lumaInt < 128` in its
    * division-free form (`… < 128000`); PageSegmentSpec checks it against
    * this function pixel by pixel.
    */
  @inline def lumaInt(rgb: Array[Byte], o: Int): Int =
    (299 * (rgb(o) & 0xff) + 587 * (rgb(o + 1) & 0xff) +
      114 * (rgb(o + 2) & 0xff)) / 1000

  /** `_get_contrast_text_color` (`_mineru25.py:364-367`). */
  def contrastTextColor(bg: (Int, Int, Int)): (Int, Int, Int) = {
    val luminance = 0.299 * bg._1 + 0.587 * bg._2 + 0.114 * bg._3
    if (luminance < 128) (255, 255, 255) else (0, 0, 0)
  }

  /** Fill a clamped rectangle with a solid color — the pixel half of
    * `_mask_and_encode_table_image`'s cover step (`_mineru25.py:486-576`).
    * The token-label TEXT on top of the fill renders through the built-in
    * bitmap font ([[GlyphFont.drawCenteredLabel]]).
    */
  def fillRect(d: Decoded, box: (Int, Int, Int, Int), color: (Int, Int, Int)): Decoded = {
    val out = d.rgb.clone()
    val l = math.max(0, box._1); val t = math.max(0, box._2)
    val r = math.min(d.width, box._3); val b = math.min(d.height, box._4)
    var y = t
    while (y < b) {
      var x = l
      while (x < r) {
        val i = (y * d.width + x) * 3
        out(i) = color._1.toByte; out(i + 1) = color._2.toByte; out(i + 2) = color._3.toByte
        x += 1
      }
      y += 1
    }
    Decoded(d.width, d.height, out)
  }

  /** `_crop_bbox` (`page_detection.py:376-387`): trim-margin expansion with
    * int() truncation, clamped to the image.
    */
  def cropBBox(d: Decoded, bbox: (Double, Double, Double, Double), trimMargin: Int): Decoded = {
    val l = math.max((bbox._1 - trimMargin).toInt, 0)
    val t = math.max((bbox._2 - trimMargin).toInt, 0)
    val r = math.min((bbox._3 + trimMargin).toInt, d.width)
    val b = math.min((bbox._4 + trimMargin).toInt, d.height)
    crop(d, l, t, r, b)
  }

  /** `_crop_polygon` (`page_detection.py:390-409`): bbox crop, then pixels
    * outside the polygon go white. The polygon fill is an even-odd scanline
    * rasterizer with boundary inclusion (PIL's ImageDraw.polygon is the
    * model; its exact edge AA rules are implementation-defined and PIL is
    * unavailable here — interior/exterior semantics are property-tested,
    * rectangle polygons are exact).
    */
  def cropPolygon(d: Decoded, polygon: Seq[(Double, Double)], trimMargin: Int): Decoded = {
    val xs = polygon.map(_._1); val ys = polygon.map(_._2)
    val bbox = (xs.min, ys.min, xs.max, ys.max)
    val cropped = cropBBox(d, bbox, trimMargin)
    val left = math.max((bbox._1 - trimMargin).toInt, 0)
    val top = math.max((bbox._2 - trimMargin).toInt, 0)
    val rel = polygon.map { case (x, y) => (x - left, y - top) }
    val out = cropped.rgb.clone()
    var y = 0
    while (y < cropped.height) {
      var x = 0
      while (x < cropped.width) {
        if (!pointInPolygon(x + 0.5, y + 0.5, rel) && !onPolygonBoundary(x, y, rel)) {
          val i = (y * cropped.width + x) * 3
          out(i) = -1; out(i + 1) = -1; out(i + 2) = -1 // 0xFF white
        }
        x += 1
      }
      y += 1
    }
    Decoded(cropped.width, cropped.height, out)
  }

  private def pointInPolygon(px: Double, py: Double, poly: Seq[(Double, Double)]): Boolean = {
    var inside = false
    var j = poly.length - 1
    var i = 0
    while (i < poly.length) {
      val (xi, yi) = poly(i); val (xj, yj) = poly(j)
      if ((yi > py) != (yj > py) && px < (xj - xi) * (py - yi) / (yj - yi) + xi) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  private def onPolygonBoundary(x: Int, y: Int, poly: Seq[(Double, Double)]): Boolean = {
    var j = poly.length - 1
    var i = 0
    while (i < poly.length) {
      val (xi, yi) = poly(i); val (xj, yj) = poly(j)
      val minX = math.min(xi, xj); val maxX = math.max(xi, xj)
      val minY = math.min(yi, yj); val maxY = math.max(yi, yj)
      if (x >= minX - 0.5 && x <= maxX + 0.5 && y >= minY - 0.5 && y <= maxY + 0.5) {
        val dx = xj - xi; val dy = yj - yi
        val dist =
          if (dx == 0 && dy == 0) math.hypot(x - xi, y - yi)
          else {
            val t = math.max(0.0, math.min(1.0, ((x - xi) * dx + (y - yi) * dy) / (dx * dx + dy * dy)))
            math.hypot(x - (xi + t * dx), y - (yi + t * dy))
          }
        if (dist <= 0.5) return true
      }
      j = i
      i += 1
    }
    false
  }

  /** `_qianfan_dynamic_preprocess` + `_qianfan_load_pixel_values`
    * (`hf.py:179-245`): resize to the tile grid, crop the 448-px tiles,
    * optionally append the thumbnail, normalize each tile to a CHW float32
    * tensor. The batch shape is (nImages, 3, 448, 448).
    */
  def qianfanPixelValues(d: Decoded): Seq[Array[Float]] = {
    val plan = ImagePrep.qianfanTiles(d.width, d.height)
    val resized = resizeBicubic(d, plan.targetW, plan.targetH)
    val tiles = plan.boxes.map { case (l, t, r, b) => crop(resized, l, t, r, b) }
    val all = if (plan.thumbnail)
      tiles :+ resizeBicubic(d, ImagePrep.QianfanImageSize, ImagePrep.QianfanImageSize)
    else tiles
    all.map(t => ImagePrep.qianfanNormalizeChw(t.rgb, t.width, t.height))
  }

  /** Build a minimal APP1 EXIF segment carrying only the orientation tag —
    * used to splice EXIF into ImageIO-encoded JPEGs in tests (ImageIO cannot
    * write EXIF itself).
    */
  def exifSegment(orientation: Int, littleEndian: Boolean): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(32)
      .order(if (littleEndian) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
    b.put("Exif".getBytes); b.put(0.toByte); b.put(0.toByte)
    b.put((if (littleEndian) "II" else "MM").getBytes)
    b.putShort(0x2A.toShort)
    b.putInt(8) // IFD0 right after header
    b.putShort(1.toShort) // one entry
    b.putShort(0x0112.toShort)
    b.putShort(3.toShort) // SHORT
    b.putInt(1)
    b.putShort(orientation.toShort)
    b.putShort(0.toShort)
    b.putInt(0) // next-IFD pointer: none
    b.array()
  }

  /** Splice an APP1 segment right after SOI in a JPEG byte stream. */
  def spliceApp1(jpeg: Array[Byte], payload: Array[Byte]): Array[Byte] = {
    require(isJpeg(jpeg))
    val len = payload.length + 2
    val out = new java.io.ByteArrayOutputStream()
    out.write(jpeg, 0, 2)
    out.write(0xFF); out.write(0xE1)
    out.write((len >> 8) & 0xFF); out.write(len & 0xFF)
    out.write(payload)
    out.write(jpeg, 2, jpeg.length - 2)
    out.toByteArray
  }
}
