package graft

import graft.media.ImageDecode
import org.scalatest.funsuite.AnyFunSuite

/** Real decode path: PNG pixels vs the independent Python fixture digests
  * (every colour type, bit depth and layout, PIL `convert("RGB")` rules),
  * EXIF orientation parse (both TIFF byte orders) and all eight PIL
  * `exif_transpose` transforms, verified end-to-end on a real ImageIO JPEG
  * with a spliced APP1 segment.
  */
class ImageDecodeSpec extends AnyFunSuite {

  private val mediaDir = "src/test/resources/media"

  private def pngBytes(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$mediaDir/$name"))

  /** Same deterministic pattern as tools/gen_media_fixture.py. */
  private def pattern(w: Int, h: Int, seed: Int): Array[Byte] = {
    val out = new Array[Byte](w * h * 3)
    var i = 0
    for (y <- 0 until h; x <- 0 until w) {
      out(i) = ((x * 7 + y * 13 + seed * 31) % 256).toByte
      out(i + 1) = ((x * 3 + y * 5 + seed * 17) % 256).toByte
      out(i + 2) = ((x * 11 + y * 2 + seed * 53) % 256).toByte
      i += 3
    }
    out
  }

  test("PNG decode matches the pure-Python encoder's raw pixels exactly") {
    val sizes = Seq((16, 9), (33, 17), (64, 64), (1, 1), (255, 3))
    sizes.zipWithIndex.foreach { case ((w, h), i) =>
      val d = ImageDecode.loadImage(pngBytes(f"img_$i%02d.png"))
      assert(d.width == w && d.height == h)
      assert(d.rgb.toSeq == pattern(w, h, i).toSeq, s"pixel mismatch for img_$i")
    }
  }

  test("EXIF orientation parses from APP1 in both byte orders; absent means 1") {
    for (o <- 1 to 8; le <- Seq(true, false)) {
      val seg = ImageDecode.exifSegment(o, le)
      assert(ImageDecode.orientationFromExifPayload(seg) == o, s"o=$o le=$le")
    }
    assert(ImageDecode.exifOrientation(pngBytes("img_00.png")) == 1) // not a JPEG
    // hostile-EXIF regression pins: an IFD offset >= 2^31 truncates negative
    // through .toInt (pre-fix: seg(-10) -> ArrayIndexOutOfBounds), and an
    // APP1 with segment length < 2 handed copyOfRange a from > to
    val negIfd = "Exif  II".getBytes("ISO-8859-1") ++
      Array[Byte](0x2a, 0x00) ++ Array(0xf0, 0xff, 0xff, 0xff).map(_.toByte) ++
      new Array[Byte](8)
    assert(ImageDecode.orientationFromExifPayload(negIfd) == 0)
    val shortSeg = Array(0xff, 0xd8, 0xff, 0xe1, 0x00, 0x00).map(_.toByte) ++
      new Array[Byte](16)
    assert(ImageDecode.exifOrientation(shortSeg) == 1)
    assert(ImageDecode.orientationFromExifPayload("Exif\u0000\u0000XX".getBytes) == 0)
  }

  test("the eight transposes invert correctly (rotate/flip algebra)") {
    val d = ImageDecode.Decoded(3, 2, pattern(3, 2, 0))
    def px(img: ImageDecode.Decoded, x: Int, y: Int): Seq[Byte] = {
      val i = (y * img.width + x) * 3
      img.rgb.slice(i, i + 3).toSeq
    }
    // o=3 (180) twice = identity
    val r180 = ImageDecode.applyOrientation(ImageDecode.applyOrientation(d, 3), 3)
    assert(r180.rgb.toSeq == d.rgb.toSeq)
    // o=6 is 90 deg clockwise: top-left goes to top-right
    val cw = ImageDecode.applyOrientation(d, 6)
    assert(cw.width == 2 && cw.height == 3)
    assert(px(cw, cw.width - 1, 0) == px(d, 0, 0))
    // o=8 is 90 deg counterclockwise: top-left goes to bottom-left
    val ccw = ImageDecode.applyOrientation(d, 8)
    assert(px(ccw, 0, ccw.height - 1) == px(d, 0, 0))
    // o=2 flip-lr mirrors x
    val lr = ImageDecode.applyOrientation(d, 2)
    assert(px(lr, 0, 0) == px(d, d.width - 1, 0))
    // o=5 transpose: (x,y) <- (y,x)
    val tr = ImageDecode.applyOrientation(d, 5)
    assert(px(tr, 0, 1) == px(d, 1, 0))
  }

  test("rotate_image_by_angle: PIL counterclockwise semantics, expand, identity off-angles") {
    val d = ImageDecode.Decoded(3, 2, pattern(3, 2, 1))
    def px(img: ImageDecode.Decoded, x: Int, y: Int): Seq[Byte] =
      img.rgb.slice((y * img.width + x) * 3, (y * img.width + x) * 3 + 3).toSeq
    val ccw = ImageDecode.rotateByAngle(d, 90) // PIL rotate(90): CCW
    assert(ccw.width == 2 && ccw.height == 3)
    // CCW: the right edge becomes the top: src (2,0) -> dst (0,0)
    assert(px(ccw, 0, 0) == px(d, 2, 0))
    val r180 = ImageDecode.rotateByAngle(d, 180)
    assert(px(r180, 0, 0) == px(d, 2, 1))
    val cw = ImageDecode.rotateByAngle(d, 270) // CCW 270 = CW 90: src (0,0) -> dst (1,0)
    assert(px(cw, 1, 0) == px(d, 0, 0))
    assert(ImageDecode.rotateByAngle(d, 45) eq d)
    assert(ImageDecode.rotateByAngle(d, 0) eq d)
  }

  test("average color: 8 clamped border samples, integer mean; contrast color") {
    // 6x6 image: all gray 100 except a white interior box
    val base = Array.fill(6 * 6 * 3)(100.toByte)
    val d0 = ImageDecode.Decoded(6, 6, base)
    val d = ImageDecode.fillRect(d0, (2, 2, 4, 4), (255, 255, 255))
    // box (2,2,4,4) with pad 2: all 8 sample points clamp onto gray pixels
    assert(ImageDecode.averageColor(d, (2, 2, 4, 4)) == ((100, 100, 100)))
    // mixed samples: a 1x1 box at the corner samples clamped corner pixels
    val mixed = ImageDecode.fillRect(d0, (0, 0, 3, 3), (10, 20, 30))
    val avg = ImageDecode.averageColor(mixed, (0, 0, 2, 2))
    // points clamp to (0..5): (0,0)x3? -> hand-compute via the same clamping
    val pts = Seq((-2, -2), (1, -2), (4, -2), (4, 1), (4, 4), (1, 4), (-2, 4), (-2, 1))
      .map { case (x, y) => (math.max(0, math.min(x, 5)), math.max(0, math.min(y, 5))) }
    val samples = pts.map { case (x, y) =>
      val i = (y * 6 + x) * 3
      (mixed.rgb(i) & 0xFF, mixed.rgb(i + 1) & 0xFF, mixed.rgb(i + 2) & 0xFF)
    }
    val exp = (samples.map(_._1).sum / 8, samples.map(_._2).sum / 8, samples.map(_._3).sum / 8)
    assert(avg == exp)
    assert(ImageDecode.contrastTextColor((0, 0, 0)) == ((255, 255, 255)))
    assert(ImageDecode.contrastTextColor((200, 200, 200)) == ((0, 0, 0)))
    assert(ImageDecode.contrastTextColor((255, 0, 0)) == ((255, 255, 255))) // lum 76.2
  }

  test("crop_bbox trim-margin expansion and crop_polygon white mask") {
    val d = ImageDecode.Decoded(10, 10, pattern(10, 10, 2))
    val c = ImageDecode.cropBBox(d, (3.0, 3.0, 7.0, 7.0), trimMargin = 1)
    assert(c.width == 6 && c.height == 6) // (2,2)..(8,8)
    // rectangle polygon: mask is exact — inside kept, outside white
    val poly = Seq((3.0, 3.0), (7.0, 3.0), (7.0, 7.0), (3.0, 7.0))
    val m = ImageDecode.cropPolygon(d, poly, trimMargin = 1)
    assert(m.width == 6 && m.height == 6)
    def px(img: ImageDecode.Decoded, x: Int, y: Int): Seq[Int] =
      img.rgb.slice((y * img.width + x) * 3, (y * img.width + x) * 3 + 3).map(_ & 0xFF).toSeq
    // (0,0) of the crop = source (2,2): outside the polygon -> white
    assert(px(m, 0, 0) == Seq(255, 255, 255))
    // center of the crop = source (5,5): inside -> original pixel
    assert(px(m, 3, 3) == px(ImageDecode.crop(d, 2, 2, 8, 8), 3, 3))
    // triangle polygon: far corner is white, centroid keeps pixels
    val tri = Seq((3.0, 3.0), (7.0, 3.0), (3.0, 7.0))
    val t = ImageDecode.cropPolygon(d, tri, trimMargin = 0)
    assert(px(t, t.width - 1, t.height - 1) == Seq(255, 255, 255))
    assert(px(t, 1, 1) != Seq(255, 255, 255))
  }

  test("decompression bomb: huge declared dims are rejected from the header, before decode") {
    // a syntactically valid PNG signature + IHDR declaring 100000×100000
    // (30 GB of RGB) in ~60 bytes — the guard must fire off the header
    // dims without ever inflating pixel data
    val bomb = PngBytes.Signature ++ PngBytes.ihdr(100000, 100000, 8, 2) ++
      PngBytes.chunk("IDAT", Array[Byte](0x78, 0x9c.toByte)) ++ PngBytes.chunk("IEND", Array.empty)
    val e = intercept[IllegalArgumentException](ImageDecode.decode(bomb))
    assert(e.getMessage.contains("decompression bomb"))
    // the check runs on IHDR itself: a corrupt chunk after it is never reached
    val tail = PngBytes.chunk("IDAT", Array[Byte](1, 2, 3))
    tail(tail.length - 1) = (tail(tail.length - 1) ^ 1).toByte
    val e2 = intercept[IllegalArgumentException](
      ImageDecode.decode(PngBytes.Signature ++ PngBytes.ihdr(100000, 100000, 8, 2) ++ tail))
    assert(e2.getMessage.contains("decompression bomb"))
  }

  /** (name, width, height, sha256 of the expected RGB) from tools/gen_media_fixture.py. */
  private lazy val pngTypes: Seq[(String, Int, Int, String)] =
    scala.io.Source.fromFile(s"$mediaDir/pngtypes/expected.tsv").getLines().map { l =>
      val f = l.split('\t'); (f(0), f(1).toInt, f(2).toInt, f(3))
    }.toVector

  private def imageIoRgb(bytes: Array[Byte]): Seq[Byte] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth).toSeq
      .flatMap(p => Seq((p >> 16).toByte, (p >> 8).toByte, p.toByte))
  }

  test("every PNG colour type, bit depth, interlace, IDAT split and filter decodes to PIL RGB") {
    assert(pngTypes.size == 25)
    pngTypes.foreach { case (name, w, h, sha) =>
      val d = ImageDecode.decode(pngBytes(s"pngtypes/$name.png"))
      assert((d.width, d.height) == ((w, h)), name)
      assert(ImageDecode.sha256Hex(d.rgb) == sha, s"$name: RGB differs from the PIL rule")
    }
  }

  test("RGB8, RGBA8 and palette PNGs decode byte-identical to ImageIO") {
    val unchanged = Seq("pal1", "pal4_short", "pal8", "pal8_trns", "rgba8", "adam7_rgb8", "multi_idat", "filters_rgb8", "large_rgb8")
      .map(n => s"pngtypes/$n.png") ++ (0 to 4).map(i => f"img_$i%02d.png") ++
      Seq("base", "bright", "checker", "moved", "noise", "vgrad").map(n => s"phash/ph_$n.png")
    unchanged.foreach { n =>
      val b = pngBytes(n)
      assert(ImageDecode.decode(b).rgb.toSeq == imageIoRgb(b), n)
    }
  }

  test("gray and 16-bit PNGs decode to PIL values, not ImageIO's gamma-mapped ones") {
    // one row of 8-bit gray 0, 1, 128, 255 (filter byte 0 first)
    val gray = PngBytes.png(4, 1, 8, 0, Array[Byte](0, 0, 1, 128.toByte, 255.toByte))
    assert(ImageDecode.decode(gray).rgb.map(_ & 0xff).toSeq ==
      Seq(0, 0, 0, 1, 1, 1, 128, 128, 128, 255, 255, 255))
    assert(imageIoRgb(gray) != ImageDecode.decode(gray).rgb.toSeq) // ImageIO: 1 -> 13, 128 -> 188
    // one 16-bit RGB pixel 0xB533 0x00FF 0xFF80: each sample keeps its high byte
    val rgb16 = PngBytes.png(1, 1, 16, 2,
      Array(0, 0xb5, 0x33, 0x00, 0xff, 0xff, 0x80).map(_.toByte))
    assert(ImageDecode.decode(rgb16).rgb.map(_ & 0xff).toSeq == Seq(0xb5, 0x00, 0xff))
    // 16-bit gray keeps the high byte too
    val gray16 = PngBytes.png(2, 1, 16, 0, Array(0, 0xb5, 0x33, 0x01, 0xff).map(_.toByte))
    assert(ImageDecode.decode(gray16).rgb.map(_ & 0xff).toSeq == Seq(0xb5, 0xb5, 0xb5, 1, 1, 1))
  }

  test("malformed PNG structure is rejected with a typed reason") {
    val ok = PngBytes.png(2, 2, 8, 0, Array[Byte](0, 1, 2, 0, 3, 4))
    assert(ImageDecode.decode(ok).rgb.length == 12)
    def reason(b: Array[Byte]): String = intercept[IllegalArgumentException](ImageDecode.decode(b)).getMessage
    val badCrc = ok.clone(); badCrc(29) = (badCrc(29) ^ 1).toByte // last IHDR CRC byte
    assert(reason(badCrc).contains("CRC mismatch"))
    assert(reason(PngBytes.png(2, 2, 8, 0, Array[Byte](0, 1, 2, 5, 3, 4))).contains("row filter type 5"))
    assert(reason(PngBytes.png(2, 2, 8, 0, Array[Byte](0, 1, 2, 0))).contains("IDAT"))
    assert(reason(PngBytes.png(2, 2, 8, 0, new Array[Byte](7))).contains("past the 6-byte raster"))
    assert(reason(PngBytes.png(2, 2, 3, 0, new Array[Byte](6))).contains("bit depth 3"))
    assert(reason(PngBytes.png(2, 2, 8, 3, new Array[Byte](6))).contains("without PLTE"))
    assert(reason(ok.take(40)).contains("truncated chunk"))
    // the IDAT's Adler-32 trailer is checked when present (chunk CRCs fixed)
    val badAdler = ok.clone(); badAdler(ok.length - 12 - 5) = (badAdler(ok.length - 12 - 5) ^ 1).toByte
    assert(reason(PngBytes.fixCrcs(badAdler)).contains("incorrect data check"))
  }

  test("PNG round-trip: encodePng output decodes back to identical pixels") {
    val d = ImageDecode.Decoded(7, 5, pattern(7, 5, 3))
    val back = ImageDecode.loadImage(ImageDecode.encodePng(d))
    assert(back.width == 7 && back.height == 5 && back.rgb.toSeq == d.rgb.toSeq)
  }

  test("encode writes the same bytes as ImageIO.write, for PNG and JPEG") {
    def viaImageIO(d: ImageDecode.Decoded, format: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(ImageDecode.toBufferedImage(d), format, bos)
      bos.toByteArray
    }
    val images = ((0 to 4).map(i => f"img_$i%02d.png") ++ pngTypes.map(t => s"pngtypes/${t._1}.png") ++
      Seq("base", "noise", "vgrad").map(n => s"phash/ph_$n.png")).map(n => ImageDecode.decode(pngBytes(n))) :+
      graft.jobs.OcrScaleBench.synthPage(7)
    for (d <- images; format <- Seq("png", "jpg")) {
      val got = ImageDecode.encode(d, format)
      assert(got.nonEmpty && java.util.Arrays.equals(got, viaImageIO(d, format)), s"${d.width}x${d.height} $format")
    }
    assert(ImageDecode.encode(images.head, "no-such-format").isEmpty)
  }

  test("load_image on a real JPEG with spliced EXIF applies the transpose") {
    // encode a deterministic image as real JPEG via ImageIO
    val (w, h) = (12, 8)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 20) << 16) | ((y * 25) << 8) | ((x + y) * 9))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val plain = bos.toByteArray
    val base = ImageDecode.loadImage(plain) // orientation 1
    for (o <- Seq(3, 6, 8); le <- Seq(true, false)) {
      val withExif = ImageDecode.spliceApp1(plain, ImageDecode.exifSegment(o, le))
      assert(ImageDecode.exifOrientation(withExif) == o)
      val got = ImageDecode.loadImage(withExif)
      val expect = ImageDecode.applyOrientation(base, o)
      assert(got.width == expect.width && got.height == expect.height)
      assert(got.rgb.toSeq == expect.rgb.toSeq, s"o=$o le=$le pixel mismatch")
    }
  }
}
