package graft

import graft.layout.PageSegment
import graft.layout.PageSegment.Box
import graft.media.ImageDecode.Decoded
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Classical layout segmentation: unit contracts on constructed bitmaps,
  * the reading-order/dominance topology property, and the differential
  * against the Python twin's expected table (FIXTURES.md — the twin
  * segments pixel-identical renders with an independent implementation).
  */
class PageSegmentSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Build a white w×h page with the given ink pixels painted black. */
  private def page(w: Int, h: Int, inkPx: Seq[(Int, Int)]): Decoded = {
    val rgb = Array.fill[Byte](w * h * 3)(0xFF.toByte)
    inkPx.foreach { case (x, y) =>
      val o = (y * w + x) * 3
      rgb(o) = 0; rgb(o + 1) = 0; rgb(o + 2) = 0
    }
    Decoded(w, h, rgb)
  }

  private def bar(x0: Int, y0: Int, x1: Int, y1: Int): Seq[(Int, Int)] =
    for (y <- y0 until y1; x <- x0 until x1) yield (x, y)

  test("connected components: 8-connectivity merges diagonals, counts blobs") {
    val img = page(20, 20,
      // an L shape, a diagonal chain touching it only diagonally, an isolated dot
      bar(2, 2, 6, 3) ++ bar(2, 3, 3, 6) ++
        Seq((7, 4), (8, 5), (9, 6)) ++ // diagonal chain, corner-touches (6,3)? no: (6,3) not ink
        Seq((15, 15)))
    val ink = PageSegment.inkMask(img)
    // L + chain are separate ((5,2)..(7,4) is a diagonal touch: (5,2) and
    // (6,3)? (6,3) is blank; (7,4) touches (6,3) only — so chain is its own)
    assert(PageSegment.componentCount(ink, 20, Box(0, 0, 20, 20)) == 3)
    // widen the box to a sub-region: only what's inside counts
    assert(PageSegment.componentCount(ink, 20, Box(14, 14, 20, 20)) == 1)
    // make them touch diagonally: one fewer component
    val img2 = page(20, 20,
      bar(2, 2, 6, 3) ++ bar(2, 3, 3, 6) ++ Seq((6, 3), (7, 4), (8, 5)) ++ Seq((15, 15)))
    assert(PageSegment.componentCount(PageSegment.inkMask(img2), 20, Box(0, 0, 20, 20)) == 2)
  }

  test("xy-cut: gap thresholds, recursion, DFS reading order, trim") {
    // two row bands 30 apart, the lower band split into two columns 40 apart
    val img = page(200, 120,
      bar(10, 10, 150, 20) ++ bar(10, 50, 60, 60) ++ bar(100, 50, 160, 60))
    val ink = PageSegment.inkMask(img)
    val blocks = PageSegment.xyCut(ink, 200, Box(0, 0, 200, 120))
    assert(blocks == Vector(
      Box(10, 10, 150, 20), Box(10, 50, 60, 60), Box(100, 50, 160, 60)))
    // below both thresholds: a single trimmed leaf
    val close = page(200, 120, bar(10, 10, 50, 20) ++ bar(10, 25, 50, 35))
    assert(PageSegment.xyCut(PageSegment.inkMask(close), 200, Box(0, 0, 200, 120))
      == Vector(Box(10, 10, 50, 35)))
    // blank page: no blocks
    assert(PageSegment.xyCut(PageSegment.inkMask(page(50, 50, Nil)), 50,
      Box(0, 0, 50, 50)).isEmpty)
  }

  test("xy-cut: a wider gutter must not beat a row cut when the sides are disjoint") {
    // lower-LEFT block and upper-RIGHT block: the column gap (120) dwarfs
    // the row gap (30), but the sides are vertically disjoint — the right
    // block lies ENTIRELY ABOVE the left one, so reading order demands it
    // first. A gap-size-only rule would cut the gutter and emit the
    // lower-left block first, violating the dominance topology.
    val img = page(200, 120, bar(10, 70, 40, 110) ++ bar(160, 5, 190, 40))
    val ink = PageSegment.inkMask(img)
    val blocks = PageSegment.xyCut(ink, 200, Box(0, 0, 200, 120))
    assert(blocks == Vector(Box(160, 5, 190, 40), Box(10, 70, 40, 110)))
    for (i <- blocks.indices; j <- i + 1 until blocks.size)
      assert(!PageSegment.dominates(blocks(j), blocks(i)))
    // control: sides that vertically INTERLEAVE keep the column cut —
    // same gutter, left column read fully before the right column even
    // though the right column starts higher
    val cols = page(200, 120,
      bar(10, 30, 40, 60) ++ bar(10, 90, 40, 115) ++ bar(160, 5, 190, 100))
    val got = PageSegment.xyCut(PageSegment.inkMask(cols), 200, Box(0, 0, 200, 120))
    assert(got == Vector(
      Box(10, 30, 40, 60), Box(10, 90, 40, 115), Box(160, 5, 190, 100)))
  }

  test("xy-cut: a column cut with NO valid row gap still emits the upper side first") {
    // upper-RIGHT block and lower-LEFT block with a SUB-threshold row gap
    // (10 < MinGapY=16): no row cut exists, so the gutter (60 >= MinGapX)
    // column cut runs — and must emit the right side first because it lies
    // entirely above the left (every right block dominates every left one).
    // Pre-fix this emitted the lower-left block first (bottom-up reading).
    val img = page(200, 120, bar(120, 5, 190, 40) ++ bar(10, 50, 60, 110))
    val blocks = PageSegment.xyCut(PageSegment.inkMask(img), 200, Box(0, 0, 200, 120))
    assert(blocks == Vector(Box(120, 5, 190, 40), Box(10, 50, 60, 110)))
    for (i <- blocks.indices; j <- i + 1 until blocks.size)
      assert(!PageSegment.dominates(blocks(j), blocks(i)))
    // mirror image (upper-LEFT / lower-RIGHT): left-first is already the
    // dominance order — unchanged
    val m = page(200, 120, bar(10, 5, 60, 40) ++ bar(120, 50, 190, 110))
    assert(PageSegment.xyCut(PageSegment.inkMask(m), 200, Box(0, 0, 200, 120))
      == Vector(Box(10, 5, 60, 40), Box(120, 50, 190, 110)))
  }

  test("projection-profile lines and stroke regularity") {
    val img = page(100, 60, bar(5, 5, 90, 12) ++ bar(5, 20, 90, 27) ++ bar(5, 40, 90, 47))
    val ink = PageSegment.inkMask(img)
    assert(PageSegment.lineCount(ink, 100, Box(0, 0, 100, 60)) == 3)
    // solid bars: every ink pixel is on a long run
    val (inkN, straightN) = PageSegment.strokeStats(ink, 100, Box(0, 0, 100, 60))
    assert(inkN == 85L * 7 * 3 && straightN == inkN)
    // scattered isolated pixels: none straight
    val dots = page(60, 60, (0 until 20).map(i => (3 * i, (7 * i) % 60)))
    val (dn, ds) = PageSegment.strokeStats(PageSegment.inkMask(dots), 60, Box(0, 0, 60, 60))
    assert(dn == 20L && ds == 0L)
  }

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  test("ink mask equals the per-pixel luma oracle: 127/128 edges, mixed high bits, odd widths") {
    // pixels: exact luma-128000 boundaries (just ink / just paper), mixed
    // high bits within a pixel, runs of all-high and all-low bytes (the
    // 8-pixel fast paths) and noise
    def pixel(r: Long): (Int, Int, Int) = ((r >>> 8) % 6).toInt match {
      case 0 | 1 =>
        val (rr, gg) = (((r >>> 16) & 0xff).toInt, ((r >>> 24) & 0xff).toInt)
        val b = Math.floorDiv(128000 - 299 * rr - 587 * gg, 114) + (if ((r & 1) == 0) 0 else 1)
        if (b >= 0 && b <= 255) (rr, gg, b) else (rr, gg, ((r >>> 32) & 0xff).toInt)
      case 2 => (128 + ((r >>> 16) & 0x7f).toInt, 128 + ((r >>> 24) & 0x7f).toInt, 128 + ((r >>> 32) & 0x7f).toInt)
      case 3 => (((r >>> 16) & 0x7f).toInt, ((r >>> 24) & 0x7f).toInt, ((r >>> 32) & 0x7f).toInt)
      case 4 => (255, ((r >>> 24) & 0x7f).toInt, 0)
      case _ => (((r >>> 16) & 0xff).toInt, ((r >>> 24) & 0xff).toInt, ((r >>> 32) & 0xff).toInt)
    }
    var edges = 0
    for (w <- Seq(1, 3, 7, 8, 9, 21, 63, 64, 65, 100, 129); h <- Seq(1, 2, 5, 13)) {
      val rgb = new Array[Byte](w * h * 3)
      // stretches of one kind, so whole 8-pixel groups take each fast path
      for (i <- 0 until w * h) {
        val (r, g, b) = pixel(mix(w * 7919L + h * 104729L + i / 11) ^ i % 11)
        rgb(3 * i) = r.toByte; rgb(3 * i + 1) = g.toByte; rgb(3 * i + 2) = b.toByte
        val l = 299 * r + 587 * g + 114 * b
        if (l == 128000 || l == 127999 || l / 1000 == 127) edges += 1
      }
      val ink = PageSegment.inkMask(Decoded(w, h, rgb))
      assert(ink.words.length == (w * h + 63) / 64)
      for (i <- 0 until w * h)
        assert(ink(i) == (graft.media.ImageDecode.lumaInt(rgb, 3 * i) < 128), s"${w}x$h pixel $i")
      for (i <- w * h until ink.words.length * 64) assert(!ink(i), s"${w}x$h padding bit $i")
    }
    assert(edges > 100, s"only $edges pixels at the threshold")
    // luma 127 and 128 exactly: gray 127 is ink, gray 128 is not
    val grays = PageSegment.inkMask(Decoded(2, 1, Array[Byte](127, 127, 127, -128, -128, -128)))
    assert(grays(0) && !grays(1))
  }

  /** The per-bit column scans `xyCut` and `lineBoxes` used before the
    * column profile: the oracle for the profile-based versions.
    */
  private object PerBit {
    import PageSegment.{Mask, MinGapX, MinGapY}
    private def rowInk(ink: Mask, w: Int, b: Box, y: Int): Boolean = (b.x0 until b.x1).exists(x => ink(y * w + x))
    private def colInk(ink: Mask, w: Int, b: Box, x: Int): Boolean = (b.y0 until b.y1).exists(y => ink(y * w + x))
    private def trim(ink: Mask, w: Int, b: Box): Option[Box] = {
      val ys = (b.y0 until b.y1).filter(rowInk(ink, w, b, _))
      if (ys.isEmpty) None
      else {
        val vb = Box(b.x0, ys.head, b.x1, ys.last + 1)
        val xs = (b.x0 until b.x1).filter(colInk(ink, w, vb, _))
        Some(Box(xs.head, ys.head, xs.last + 1, ys.last + 1))
      }
    }
    private def gap(blank: Int => Boolean, lo: Int, hi: Int): (Int, Int) = {
      var best = (0, 0)
      var i = lo
      while (i < hi) {
        if (blank(i)) {
          val s = i
          while (i < hi && blank(i)) i += 1
          if (i - s > best._2 - best._1) best = (s, i)
        } else i += 1
      }
      best
    }
    def xyCut(ink: Mask, w: Int, region: Box): Vector[Box] = trim(ink, w, region) match {
      case None => Vector.empty
      case Some(b) =>
        val (ry0, ry1) = gap(y => !rowInk(ink, w, b, y), b.y0, b.y1)
        val (cx0, cx1) = gap(x => !colInk(ink, w, b, x), b.x0, b.x1)
        val rowGap = if (ry1 - ry0 >= MinGapY) ry1 - ry0 else 0
        val colGap = if (cx1 - cx0 >= MinGapX) cx1 - cx0 else 0
        if (rowGap == 0 && colGap == 0) Vector(b)
        else {
          val sides = (trim(ink, w, Box(b.x0, b.y0, cx0, b.y1)), trim(ink, w, Box(cx1, b.y0, b.x1, b.y1)))
          val useRow = rowGap >= colGap || (rowGap > 0 && (sides match {
            case (Some(l), Some(r)) => l.y1 <= r.y0 || r.y1 <= l.y0
            case _ => true
          }))
          if (useRow) xyCut(ink, w, Box(b.x0, b.y0, b.x1, ry0)) ++ xyCut(ink, w, Box(b.x0, ry1, b.x1, b.y1))
          else {
            val left = xyCut(ink, w, Box(b.x0, b.y0, cx0, b.y1))
            val right = xyCut(ink, w, Box(cx1, b.y0, b.x1, b.y1))
            sides match {
              case (Some(l), Some(r)) if r.y1 <= l.y0 => right ++ left
              case _ => left ++ right
            }
          }
        }
    }
    def lineBoxes(ink: Mask, w: Int, b: Box): Vector[Box] = {
      val rows = (b.y0 until b.y1).map(rowInk(ink, w, b, _))
      val out = Vector.newBuilder[Box]
      var y = b.y0
      while (y < b.y1) {
        if (rows(y - b.y0)) {
          val s = y
          while (y < b.y1 && rows(y - b.y0)) y += 1
          out ++= trim(ink, w, Box(b.x0, s, b.x1, y))
        } else y += 1
      }
      out.result()
    }
  }

  test("xy-cut and line boxes equal the per-bit column-scan oracle on random masks") {
    var cuts = 0
    for (k <- 0 until 60) {
      val w = Seq(37, 64, 65, 130, 200, 257)(k % 6)
      val h = 40 + (k * 13) % 90
      // random bars (blocks with gutters) plus scattered single-pixel specks
      val bars = (0 until 1 + k % 7).flatMap { j =>
        val r = mix(k * 1000L + j)
        val x0 = ((r >>> 1) % w).toInt; val y0 = ((r >>> 20) % h).toInt
        bar(x0, y0, math.min(w, x0 + 1 + ((r >>> 40) % 50).toInt), math.min(h, y0 + 1 + ((r >>> 50) % 20).toInt))
      }
      val specks = (0 until k % 5).map { j => val r = mix(k * 77L + j); (((r >>> 3) % w).toInt, ((r >>> 30) % h).toInt) }
      val ink = PageSegment.inkMask(page(w, h, bars ++ specks))
      for (region <- Seq(Box(0, 0, w, h), Box(w / 5, h / 7, w - w / 6, h - 1), Box(1, 0, w / 2 + 1, h))) {
        val got = PageSegment.xyCut(ink, w, region)
        assert(got == PerBit.xyCut(ink, w, region), s"xyCut $k $region")
        if (got.size > 1) cuts += 1
        for (b <- got :+ region) assert(PageSegment.lineBoxes(ink, w, b) == PerBit.lineBoxes(ink, w, b), s"lines $k $b")
      }
    }
    assert(cuts > 20, s"only $cuts regions were cut")
  }

  test("document page: reading order is a topological order of dominance") {
    val pdf = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/media/rasterpdf/raster_01.pdf"))
    val img = graft.media.PdfRaster.rasterize(pdf, 144).head.image
    val blocks = PageSegment.segment(img)
    assert(blocks.size == 6)
    // no later block dominates an earlier one
    for (i <- blocks.indices; j <- i + 1 until blocks.size)
      assert(!PageSegment.dominates(blocks(j).box, blocks(i).box),
        s"block $j precedes block $i in the dominance order but follows in reading order")
    // the two text columns: 10 projection-profile lines each, printed
    val cols = blocks.filter(b => b.nLines == 10)
    assert(cols.size == 2 && cols.forall(_.script == "printed"))
    assert(cols(0).box.x1 <= cols(1).box.x0, "left column must read first")
    // the jittered scrawl band classifies handwritten with zero straight ink
    val hand = blocks.filter(_.script == "handwritten")
    assert(hand.size == 1 && hand.head.straightPx == 0L && hand.head.inkPx == 320L)
  }

  test("glyph OCR: an all-short-glyph line recovers its true scale") {
    // '-----' at scale 3: the ink bbox is ONE bit-row tall (h = 3), so
    // height/GlyphH-derived candidates (0 and 1) never include the true
    // scale — divisor candidates must. The separator's text and scale
    // both round-trip.
    val blank = page(260, 40, Nil)
    val img = graft.media.GlyphFont.drawText(blank, "-----", 10, 8, 3, (0, 0, 0))
    val ink = PageSegment.inkMask(img)
    val line = PageSegment.lineBoxes(ink, 260, Box(0, 0, 260, 40)).head
    assert(line.height == 3, s"dash ink band should be one scaled bit-row, got $line")
    assert(graft.layout.GlyphOcr.recognizeLine(ink, 260, line) == Some(("-----", 3)))
    // full-height text is untouched: true scale is still the FIRST candidate
    val img2 = graft.media.GlyphFont.drawText(blank, "AB12", 10, 8, 2, (0, 0, 0))
    val ink2 = PageSegment.inkMask(img2)
    val line2 = PageSegment.lineBoxes(ink2, 260, Box(0, 0, 260, 40)).head
    assert(graft.layout.GlyphOcr.recognizeLine(ink2, 260, line2) == Some(("AB12", 2)))
  }

  test("glyph OCR: every planted line recovered verbatim, impostors rejected") {
    val pdf = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/media/rasterpdf/raster_01.pdf"))
    val img = graft.media.PdfRaster.rasterize(pdf, 144).head.image
    val got = graft.layout.GlyphOcr.recognizePage(img)
    // CONSTRUCTION truth: the recognized text is exactly what the PDF
    // planted, in reading order (title split at the wide word gap)
    val texts = got.collect { case (_, _, l) if l.kind == "text" => l.text }
    assert(texts.take(4) == Vector("ANNUAL REPORT", "1925", "THE QUICK BROWN", "FOX JUMPS OVER"))
    assert(texts.contains("GRAIN 14 SACKS,") && texts.last == "PAGE 1 OF 1")
    assert(texts.size == 23) // 2 title + 10 + 10 + footer
    // the scrawl band refuses recognition instead of guessing
    val un = got.filter(_._3.kind == "unrecognized")
    assert(un.size == 1 && un.head._3.iscale == -1)
    // rect fills (raster_00 page 0) never pass the re-render test either
    val pdf0 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/media/rasterpdf/raster_00.pdf"))
    val rectScene = graft.media.PdfRaster.rasterize(pdf0, 144).head.image
    assert(graft.layout.GlyphOcr.recognizePage(rectScene).forall(_._3.kind == "unrecognized"))
  }

  test("glyph OCR: a filled rectangle that defeats the ink-count gate still rejects") {
    // 200×100 solid fill: ink = 20000 and h = 100, so the isc² divisibility
    // gate passes for isc ∈ {20, 25, 50, 100} and the full phase search
    // runs at each — the worst-case block for the phase loop (the round-5
    // review's allocation-churn scenario; measured 2.03 s → 29 ms/call
    // after the epoch-stamped reuse + deferred painting)
    val img = page(220, 120, bar(10, 10, 210, 110))
    val ink = PageSegment.inkMask(img)
    assert(graft.layout.GlyphOcr.recognizeLine(ink, 220, Box(10, 10, 210, 110)).isEmpty)
  }

  test("differential: OCR spans match the Python twin's expected table") {
    val got = ops.Queries.pageOcr(spark, "").collect().map(_.toSeq).toVector
    val exp = spark.read
      .parquet("src/test/resources/expected/page_ocr.parquet")
      .orderBy("name", "page_index", "block_idx", "line_idx")
      .collect().map(_.toSeq).toVector
    assert(exp.size >= 30)
    assert(got == exp)
  }

  test("differential: segmentation matches the Python twin's expected table") {
    val got = ops.Queries.pageSegment(spark, "").collect().map(_.toSeq).toVector
    val exp = spark.read
      .parquet("src/test/resources/expected/page_segment.parquet")
      .orderBy("name", "page_index", "block_idx").collect().map(_.toSeq).toVector
    assert(exp.size >= 14, s"unexpectedly small expected table (${exp.size})")
    assert(got == exp)
  }
}
