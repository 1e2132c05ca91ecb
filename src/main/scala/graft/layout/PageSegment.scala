package graft.layout

import graft.media.ImageDecode.Decoded

/** Classical page-layout segmentation over rasterized page pixels — the
  * north-star's named pipeline: connected-component labeling + projection
  * -profile line segmentation + recursive XY-cut layout analysis with a
  * reading order that is a topological order of the block dominance
  * relation, plus a printed/handwritten region classification from stroke
  * regularity. The reference replaces all of this with model-driven OCR
  * (its page detection providers return boxes); this module is the
  * deterministic classical counterpart that runs WITHOUT a model, which is
  * what makes it distributable as a pure per-page `flatMap` at 10^12-page
  * scale — no inference service in the loop, no shuffle, byte-reproducible.
  *
  * Everything here is integer arithmetic over the page bitmap, pinned by a
  * pure-Python twin (tools/gen_pdfraster_fixture.py) that renders the SAME
  * pixels (pixel_sha-asserted) and segments them with an independent
  * implementation — the q_page_segment oracle.
  *
  * Deterministic contracts (mirrored verbatim in the twin):
  *  - ink mask: integer luma (299·r + 587·g + 114·b) / 1000 < 128;
  *  - XY-cut: trim to the ink bbox, find the LARGEST all-blank gap
  *    strictly inside the trimmed box (row gaps must be ≥ minGapY, column
  *    gaps ≥ minGapX; the larger gap wins, a tie prefers the row cut —
  *    EXCEPT that a valid row cut beats a wider column cut whose two
  *    sides are vertically disjoint, because left-before-right is only
  *    reading order for sides that vertically interleave; and when NO
  *    valid row cut exists, a column cut whose right side lies entirely
  *    above its left side emits the upper (right) side first), recurse
  *    top-then-bottom / upper-side-then-lower — the DFS leaf order IS
  *    the reading order (Manhattan-layout XY-cut ordering);
  *  - lines: maximal ink-row runs of the block's horizontal projection
  *    profile;
  *  - components: 8-connected ink components within the block;
  *  - stroke regularity: ink pixels lying on a horizontal OR vertical run
  *    of ≥ 3 consecutive ink pixels; `printed` iff 2·straight ≥ ink
  *    (machine glyphs and rules are axis-aligned runs; handwriting's
  *    jittered strokes are not).
  */
object PageSegment {

  /** Half-open pixel box: columns [x0,x1), rows [y0,y1). */
  final case class Box(x0: Int, y0: Int, x1: Int, y1: Int) {
    def width: Int = x1 - x0
    def height: Int = y1 - y0
  }

  final case class Block(
      box: Box, nLines: Int, nComponents: Int,
      inkPx: Long, straightPx: Long, script: String)

  val MinGapX = 24
  val MinGapY = 16
  val StraightRun = 3

  /** Packed row-major bit mask (bit i = pixel y·w+x). 8× denser than a
    * Boolean array — the mask is re-scanned by every stage (trim, gap
    * search, line boxes, glyph sampling, re-render equality), and at
    * executor density the segmentation+OCR chain is MEMORY-BANDWIDTH
    * bound (BENCH.md §12: the Boolean-mask build lost 31% N→4N
    * efficiency; bit-packing with word-level row scans recovered it).
    * Column questions are word-level too: one pass ORs a box's row
    * slices into a column-occupancy profile (`columnProfile`).
    */
  final class Mask(val words: Array[Long]) {
    @inline def apply(i: Int): Boolean =
      (words(i >>> 6) & (1L << i)) != 0 // JVM masks the shift to i & 63
    /** Any bit set in [from, until)? Word-at-a-time — a blank gap row
      * costs w/64 reads, not w.
      */
    def anySet(from: Int, until: Int): Boolean = {
      if (from >= until) return false
      var wi = from >>> 6
      val wLast = (until - 1) >>> 6
      val lo = -1L << from // shift auto-masked to & 63
      val hi = -1L >>> ((64 - (until & 63)) & 63)
      if (wi == wLast) return (words(wi) & lo & hi) != 0
      if ((words(wi) & lo) != 0) return true
      wi += 1
      while (wi < wLast) {
        if (words(wi) != 0) return true
        wi += 1
      }
      (words(wLast) & hi) != 0
    }
    /** Set-bit count in [from, until) — [[anySet]]'s counting twin (same
      * edge masks, `Long.bitCount` per word): a per-bit loop over a large
      * region is exactly the bandwidth-bound scan the packed mask exists
      * to avoid.
      */
    def popCount(from: Int, until: Int): Int = {
      if (from >= until) return 0
      var wi = from >>> 6
      val wLast = (until - 1) >>> 6
      val lo = -1L << from // shift auto-masked to & 63
      val hi = -1L >>> ((64 - (until & 63)) & 63)
      if (wi == wLast) return java.lang.Long.bitCount(words(wi) & lo & hi)
      var n = java.lang.Long.bitCount(words(wi) & lo)
      wi += 1
      while (wi < wLast) {
        n += java.lang.Long.bitCount(words(wi))
        wi += 1
      }
      n + java.lang.Long.bitCount(words(wLast) & hi)
    }
  }

  /** Ink mask by integer luma, row-major w×h: each 64-pixel word is built
    * in a register and stored once. `luma / 1000 < 128` is tested as
    * `299·r + 587·g + 114·b < 128000`, and because the weights sum to 1000
    * pixels whose bytes all have the high bit set are paper and pixels
    * whose bytes all lack it are ink. So a word whose 192 bytes (24 `Long`
    * reads) all have it is skipped, an 8-pixel group (3 reads) settles as a
    * whole when its 24 bytes agree, and only pixels with mixed high bits
    * pay the arithmetic.
    */
  def inkMask(img: Decoded): Mask = {
    val n = img.width * img.height
    val rgb = img.rgb
    val le = java.nio.ByteBuffer.wrap(rgb).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val words = new Array[Long]((n + 63) >>> 6)
    val full = n >>> 6 // words whose 64 pixels are all present
    var wi = 0
    while (wi < full) {
      val base = wi * 192
      var paper = HighBits
      var j = 0
      while (j < 192) { paper &= le.getLong(base + j); j += 8 }
      if (paper != HighBits) { // not all 64 pixels paper: group by group
        var word = 0L
        var o = base
        var sh = 0
        while (sh < 64) {
          val a = le.getLong(o)
          val b = le.getLong(o + 8)
          val c = le.getLong(o + 16)
          if ((a & b & c & HighBits) != HighBits)
            word |= (if (((a | b | c) & HighBits) == 0) 0xffL else groupInk(rgb, o, a, b, c)) << sh
          o += 24
          sh += 8
        }
        words(wi) = word
      }
      wi += 1
    }
    var i = full << 6 // the last n % 64 pixels
    while (i < n) {
      if (isInk(rgb, i * 3)) words(i >>> 6) |= 1L << i
      i += 1
    }
    new Mask(words)
  }

  private final val HighBits = 0x8080808080808080L

  @inline private def isInk(rgb: Array[Byte], o: Int): Boolean =
    299 * (rgb(o) & 0xff) + 587 * (rgb(o + 1) & 0xff) + 114 * (rgb(o + 2) & 0xff) < 128000

  /** Ink bits of the 8 pixels at byte offset `o`, read as the little-endian
    * `a`, `b`, `c`; first pixel lowest. A pixel whose 3 bytes agree on the
    * high bit is settled by it, as a whole group is; the rest pay the sum.
    */
  private def groupInk(rgb: Array[Byte], o: Int, a: Long, b: Long, c: Long): Long = {
    val high = highBits(a) | highBits(b) << 8 | highBits(c) << 16
    var bits = 0L
    var k = 0
    while (k < 8) {
      val t = (high >>> (3 * k)) & 7
      if (t == 0 || (t != 7 && isInk(rgb, o + 3 * k))) bits |= 1L << k
      k += 1
    }
    bits
  }

  /** The high bit of each byte of `x`, byte i's at bit i. */
  @inline private def highBits(x: Long): Int =
    (((x & HighBits) * 0x0002040810204081L) >>> 56).toInt

  private def rowHasInk(ink: Mask, w: Int, b: Box, y: Int): Boolean =
    ink.anySet(y * w + b.x0, y * w + b.x1)

  /** Column occupancy of `b`: bit x − b.x0 is set iff column x has ink in
    * rows [b.y0, b.y1) — the OR of the rows' word-aligned slices, one pass
    * over h·w/64 words instead of a bit read per pixel per column probe.
    */
  private def columnProfile(ink: Mask, w: Int, b: Box): Array[Long] = {
    val bw = b.width
    val prof = new Array[Long]((bw + 63) >>> 6)
    val words = ink.words
    val tail = -1L >>> ((64 - (bw & 63)) & 63)
    var y = b.y0
    while (y < b.y1) {
      var s = y * w + b.x0
      var j = 0
      while (j < prof.length) {
        val wi = s >>> 6
        val sh = s & 63
        var v = words(wi) >>> sh
        if (sh != 0 && wi + 1 < words.length) v |= words(wi + 1) << (64 - sh)
        prof(j) |= v
        s += 64
        j += 1
      }
      y += 1
    }
    if (prof.nonEmpty) prof(prof.length - 1) &= tail
    prof
  }

  @inline private def profileBit(prof: Array[Long], i: Int): Boolean =
    (prof(i >>> 6) & (1L << i)) != 0

  /** (first, last + 1) set bit of a non-empty profile. */
  private def profileSpan(prof: Array[Long]): (Int, Int) = {
    var lo = 0
    while (prof(lo) == 0) lo += 1
    var hi = prof.length - 1
    while (prof(hi) == 0) hi -= 1
    ((lo << 6) + java.lang.Long.numberOfTrailingZeros(prof(lo)),
      (hi << 6) + 64 - java.lang.Long.numberOfLeadingZeros(prof(hi)))
  }

  /** Smallest box containing all ink in `b`; None when blank. */
  private def trim(ink: Mask, w: Int, b: Box): Option[Box] = {
    var y0 = b.y0; while (y0 < b.y1 && !rowHasInk(ink, w, b, y0)) y0 += 1
    if (y0 == b.y1) return None
    var y1 = b.y1; while (!rowHasInk(ink, w, b, y1 - 1)) y1 -= 1
    val (x0, x1) = profileSpan(columnProfile(ink, w, Box(b.x0, y0, b.x1, y1)))
    Some(Box(b.x0 + x0, y0, b.x0 + x1, y1))
  }

  /** Largest all-blank maximal run strictly inside the trimmed box along
    * one axis: (runStart, runEnd) half-open, ties to the earliest.
    */
  private def largestGap(blank: Int => Boolean, lo: Int, hi: Int): (Int, Int) = {
    var best = (0, 0)
    var i = lo
    while (i < hi) {
      if (blank(i)) {
        val start = i
        while (i < hi && blank(i)) i += 1
        if (i - start > best._2 - best._1) best = (start, i)
      } else i += 1
    }
    best
  }

  /** Recursive XY-cut; returns leaf boxes in DFS (reading) order. */
  def xyCut(ink: Mask, w: Int, region: Box,
            minGapX: Int = MinGapX, minGapY: Int = MinGapY): Vector[Box] =
    trim(ink, w, region) match {
      case None => Vector.empty
      case Some(b) =>
        val (ry0, ry1) = largestGap(y => !rowHasInk(ink, w, b, y), b.y0, b.y1)
        val cols = columnProfile(ink, w, b)
        val (cx0, cx1) = largestGap(x => !profileBit(cols, x - b.x0), b.x0, b.x1)
        val rowGap = if (ry1 - ry0 >= minGapY) ry1 - ry0 else 0
        val colGap = if (cx1 - cx0 >= minGapX) cx1 - cx0 else 0
        // A column cut orders left-before-right, which is reading order
        // only when the two sides vertically INTERLEAVE (true columns).
        // When one side's ink lies entirely above the other's, top-first
        // is mandatory — a wider gutter must not beat a valid row cut, or
        // the DFS would emit a lower-left block before the block that
        // dominates it (lies entirely above).
        if (rowGap == 0 && colGap == 0) Vector(b)
        else {
          // trimmed sides of the column cut, computed once (a maximal
          // interior gap guarantees ink on both sides); lazy — a plain
          // row cut never scans them
          lazy val sides =
            (trim(ink, w, Box(b.x0, b.y0, cx0, b.y1)),
              trim(ink, w, Box(cx1, b.y0, b.x1, b.y1)))
          val useRow = rowGap >= colGap || (rowGap > 0 && (sides match {
            case (Some(l), Some(r)) => l.y1 <= r.y0 || r.y1 <= l.y0
            case _ => true // an inkless side cannot happen (maximal gap)
          }))
          if (useRow) // tie prefers the horizontal cut
            xyCut(ink, w, Box(b.x0, b.y0, b.x1, ry0), minGapX, minGapY) ++
              xyCut(ink, w, Box(b.x0, ry1, b.x1, b.y1), minGapX, minGapY)
          else {
            val left = xyCut(ink, w, Box(b.x0, b.y0, cx0, b.y1), minGapX, minGapY)
            val right = xyCut(ink, w, Box(cx1, b.y0, b.x1, b.y1), minGapX, minGapY)
            sides match {
              // No valid row cut exists (the sides' row gap is below
              // minGapY) yet the RIGHT side's ink lies entirely above the
              // left's: every right block dominates every left block, so
              // the upper side must be emitted first — a left-first column
              // cut here would violate the dominance topology.
              case (Some(l), Some(r)) if r.y1 <= l.y0 => right ++ left
              case _ => left ++ right
            }
          }
        }
    }

  /** Text lines of a block: maximal ink-row runs of its projection profile. */
  def lineCount(ink: Mask, w: Int, b: Box): Int =
    lineBoxes(ink, w, b).size

  /** The line boxes themselves (each run's y band, x-trimmed to its ink) —
    * the unit [[GlyphOcr]] recognizes.
    */
  def lineBoxes(ink: Mask, w: Int, b: Box): Vector[Box] = {
    val out = Vector.newBuilder[Box]
    var y = b.y0
    while (y < b.y1) {
      if (rowHasInk(ink, w, b, y)) {
        val start = y
        while (y < b.y1 && rowHasInk(ink, w, b, y)) y += 1
        val (x0, x1) = profileSpan(columnProfile(ink, w, Box(b.x0, start, b.x1, y)))
        out += Box(b.x0 + x0, start, b.x0 + x1, y)
      } else y += 1
    }
    out.result()
  }

  /** 8-connected ink components within a block (union-find, path halving). */
  def componentCount(ink: Mask, w: Int, b: Box): Int = {
    val bw = b.width; val bh = b.height
    val parent = new Array[Int](bw * bh)
    java.util.Arrays.fill(parent, -1)
    def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    def union(a: Int, c: Int): Unit = {
      val ra = find(a); val rc = find(c)
      if (ra != rc) parent(math.max(ra, rc)) = math.min(ra, rc)
    }
    var y = 0
    while (y < bh) {
      var x = 0
      while (x < bw) {
        val li = y * bw + x
        if (ink((b.y0 + y) * w + (b.x0 + x))) {
          parent(li) = li
          // neighbors already visited in raster order: W, NW, N, NE
          if (x > 0 && parent(li - 1) >= 0) union(li, li - 1)
          if (y > 0) {
            if (x > 0 && parent(li - bw - 1) >= 0) union(li, li - bw - 1)
            if (parent(li - bw) >= 0) union(li, li - bw)
            if (x < bw - 1 && parent(li - bw + 1) >= 0) union(li, li - bw + 1)
          }
        }
        x += 1
      }
      y += 1
    }
    var roots = 0
    var i = 0
    while (i < parent.length) {
      if (parent(i) == i) roots += 1
      i += 1
    }
    roots
  }

  /** (ink pixels, ink pixels on an axis-aligned run ≥ [[StraightRun]]). */
  def strokeStats(ink: Mask, w: Int, b: Box): (Long, Long) = {
    var inkN = 0L
    val straight = new Array[Boolean](b.width * b.height)
    // horizontal runs
    var y = b.y0
    while (y < b.y1) {
      var x = b.x0
      while (x < b.x1) {
        if (ink(y * w + x)) {
          val start = x
          var e = x
          while (e < b.x1 && ink(y * w + e)) e += 1
          inkN += e - start
          if (e - start >= StraightRun) {
            var k = start
            while (k < e) { straight((y - b.y0) * b.width + (k - b.x0)) = true; k += 1 }
          }
          x = e
        } else x += 1
      }
      y += 1
    }
    // vertical runs
    var x = b.x0
    while (x < b.x1) {
      var yy = b.y0
      while (yy < b.y1) {
        if (ink(yy * w + x)) {
          val start = yy
          var e = yy
          while (e < b.y1 && ink(e * w + x)) e += 1
          if (e - start >= StraightRun) {
            var k = start
            while (k < e) { straight((k - b.y0) * b.width + (x - b.x0)) = true; k += 1 }
          }
          yy = e
        } else yy += 1
      }
      x += 1
    }
    (inkN, straight.count(identity).toLong)
  }

  /** `a` must be read before `b`: entirely above, or vertically
    * overlapping and entirely left — the dominance partial order the
    * XY-cut DFS order must topologically respect (spec-asserted). The
    * vertical-disjointness override in [[xyCut]] (row cut preferred when
    * one exists; otherwise the column cut emits the upper side first)
    * is what upholds the "entirely above" clause across a column gutter;
    * the one layout class XY-cut cannot order is a bridged one (a third
    * block spanning the band between two vertically-disjoint blocks on
    * opposite sides of the gutter leaves no legal cut that separates
    * them top-first).
    */
  def dominates(a: Box, b: Box): Boolean =
    a.y1 <= b.y0 || (a.y0 < b.y1 && b.y0 < a.y1 && a.x1 <= b.x0)

  /** Segment one page: XY-cut blocks in reading order, each with its
    * line/component/stroke statistics and script class.
    */
  def segment(img: Decoded): Vector[Block] = {
    val ink = inkMask(img)
    xyCut(ink, img.width, Box(0, 0, img.width, img.height)).map { b =>
      val (inkN, straightN) = strokeStats(ink, img.width, b)
      Block(b, lineCount(ink, img.width, b), componentCount(ink, img.width, b),
        inkN, straightN,
        if (2 * straightN >= inkN) "printed" else "handwritten")
    }
  }
}
