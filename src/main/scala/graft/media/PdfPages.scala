package graft.media

import java.nio.charset.StandardCharsets

/** Scanned-PDF page extraction — the real half of `rasterize_pdf`
  * (`/root/reference/src/churro_ocr/_internal/pdf.py:20-54`) that this
  * sandbox can implement without pdfium: the reference's input corpus is
  * scanned documents, whose PDFs are containers of one raster image per
  * page, so "rasterize" degenerates to extracting each page's embedded
  * image (at its native resolution — no vector/text rendering, which would
  * need a full PDF renderer).
  *
  * Supported subset (documented contract, validated on fixtures built by an
  * independent pure-Python writer, tools/gen_pdf_fixture.py):
  *  - classic cross-reference PDFs: objects are located via the xref
  *    table's exact byte offsets (never by scanning raw bytes, where
  *    compressed payloads could contain phantom `obj`/`endobj` markers),
  *  - page order from the /Kids array of the root /Pages node,
  *  - one /Subtype /Image XObject per page, OR several same-width strips
  *    (the strip-scanned TIFF→PDF archive format) placed by simple
  *    `q a b c d e f cm /Name Do Q` content-stream operators — composited
  *    top-to-bottom by ty; anything fancier (rotation, overlap, repeated
  *    draws) is rejected loudly,
  *  - /Length as a literal or an indirect integer reference,
  *  - /Filter /FlateDecode + /DeviceRGB/8-bit (raw RGB rows) or
  *    /DCTDecode (the stream IS a JPEG — handed to [[ImageDecode.decode]]).
  * Anything outside the subset throws with a reason; nothing is silently
  * dropped, zero-padded, or guessed.
  */
object PdfPages {

  final case class PdfPage(pageIndex: Int, image: ImageDecode.Decoded)

  private[media] val KidsRe = """/Kids\s*\[([^\]]*)\]""".r
  private[media] val RefRe = """(\d+)\s+0\s+R""".r
  private[media] val XObjectRefRe = """/XObject\s*<<([^>]*)>>""".r
  private[media] val XObjEntryRe = """/(\w+)\s+(\d+)\s+0\s+R""".r
  private[media] val ContentsRe = """/Contents\s+(\d+)\s+0\s+R""".r
  private[media] val ContentsArrayRe = """/Contents\s*\[([^\]]*)\]""".r
  private[media] val AnyRefRe = """(\d+)\s+(\d+)\s+R""".r
  private val LengthLitRe = """/Length\s+(\d+)(?!\s+0\s+R)""".r
  private val LengthRefRe = """/Length\s+(\d+)\s+0\s+R""".r
  private val IntRe = """\d+""".r
  /** `q a b c d e f cm /Name Do Q` — one image placement; e/f are the
    * translation (tx, ty) of the strip's bottom-left corner.
    */
  private val DrawRe =
    ("""q\s+([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s+""" +
      """([\d.+-]+)\s+([\d.+-]+)\s+cm\s*/(\w+)\s+Do\s+Q""").r

  /** Latin-1 view: 1:1 byte↔char, so string offsets are byte offsets.
    * Range-checked here, once, for every caller: a corrupt xref/startxref
    * offset lands out of bounds and must throw the typed loud error, not a
    * raw negative-count StringIndexOutOfBoundsException (fuzz finding).
    */
  private[media] def latin1(bytes: Array[Byte], from: Int, until: Int): String = {
    require(from >= 0 && from <= until && until <= bytes.length,
      s"byte range [$from, $until) outside the ${bytes.length}-byte file (corrupt offset)")
    new String(bytes, from, until - from, StandardCharsets.ISO_8859_1)
  }

  /** One parsed object: header/dict text + exact stream payload bounds. */
  private[media] final case class PdfObject(num: Int, dict: String,
                                     streamStart: Int = -1, streamLenRaw: Option[Either[Int, Int]] = None) {
    def hasStream: Boolean = streamStart >= 0
  }

  /** Byte offsets of the in-use objects from the classic xref table. */
  private[media] def xrefOffsets(bytes: Array[Byte]): Map[Int, Int] = {
    val tail = latin1(bytes, math.max(0, bytes.length - 2048), bytes.length)
    val sx = tail.lastIndexOf("startxref")
    require(sx >= 0, "no startxref (classic-xref subset)")
    val xrefAt = IntRe.findFirstIn(tail.substring(sx + "startxref".length)).map(_.toInt)
      .getOrElse(throw new IllegalArgumentException("unparsable startxref"))
    require(xrefAt >= 0 && xrefAt < bytes.length, "startxref offset out of range")
    val section = latin1(bytes, xrefAt, math.min(bytes.length, xrefAt + 64 * 1024))
    require(section.startsWith("xref"), "xref table not at startxref (xref streams unsupported)")
    val lines = section.linesIterator.buffered
    lines.next() // "xref"
    val out = Map.newBuilder[Int, Int]
    var done = false
    while (!done && lines.hasNext) {
      val header = lines.head.trim
      if (header.startsWith("trailer") || header.isEmpty) done = true
      else {
        lines.next()
        val parts = header.split("\\s+")
        require(parts.length == 2, s"bad xref subsection header: $header")
        val first = parts(0).toInt
        val count = parts(1).toInt
        var i = 0
        while (i < count) {
          require(lines.hasNext, "truncated xref table")
          val e = lines.next().trim.split("\\s+")
          require(e.length >= 3, s"bad xref entry: ${e.mkString(" ")}")
          if (e(2) == "n" && first + i != 0) out += (first + i) -> e(0).toInt
          i += 1
        }
      }
    }
    out.result()
  }

  /** Parse the object that starts at `offset`: "N 0 obj" + dict, and when a
    * stream follows, record its exact payload start (the /Length is applied
    * later, after indirect resolution).
    */
  private[media] def parseObjectAt(bytes: Array[Byte], num: Int, offset: Int): PdfObject = {
    val window = latin1(bytes, offset, math.min(bytes.length, offset + 8 * 1024))
    val headEnd = window.indexOf("obj")
    require(headEnd >= 0 && window.substring(0, headEnd).trim == s"$num 0",
      s"object $num not at xref offset $offset")
    val bodyStart = headEnd + "obj".length
    val streamAt = window.indexOf("stream", bodyStart)
    val endobjAt = window.indexOf("endobj", bodyStart)
    if (streamAt >= 0 && (endobjAt < 0 || streamAt < endobjAt)) {
      val dict = window.substring(bodyStart, streamAt)
      var ps = streamAt + "stream".length
      if (ps < window.length && window.charAt(ps) == '\r') ps += 1
      if (ps < window.length && window.charAt(ps) == '\n') ps += 1
      PdfObject(num, dict, streamStart = offset + ps, streamLenRaw = Some(lengthOf(dict, num)))
    } else {
      require(endobjAt >= 0, s"object $num: no endobj within the header window")
      PdfObject(num, window.substring(bodyStart, endobjAt))
    }
  }

  /** /Length: Right(literal) or Left(indirect object number). */
  private def lengthOf(dict: String, num: Int): Either[Int, Int] =
    LengthRefRe.findFirstMatchIn(dict).map(m => Left(m.group(1).toInt): Either[Int, Int])
      .orElse(LengthLitRe.findFirstMatchIn(dict).map(m => Right(m.group(1).toInt)))
      .getOrElse(throw new IllegalArgumentException(s"object $num: stream without /Length"))

  private def resolveLength(obj: PdfObject, objs: Map[Int, PdfObject]): Int = obj.streamLenRaw.get match {
    case Right(lit) => lit
    case Left(ref) =>
      val target = objs.getOrElse(ref,
        throw new IllegalArgumentException(s"object ${obj.num}: /Length $ref 0 R unresolvable"))
      IntRe.findFirstIn(target.dict.trim).map(_.toInt)
        .getOrElse(throw new IllegalArgumentException(s"object ${obj.num}: /Length target $ref not an integer"))
  }

  private[media] def streamData(bytes: Array[Byte], obj: PdfObject, objs: Map[Int, PdfObject]): Array[Byte] = {
    require(obj.hasStream, s"object ${obj.num}: no stream")
    val len = resolveLength(obj, objs)
    require(obj.streamStart + len <= bytes.length,
      s"object ${obj.num}: /Length $len overruns the file (truncated PDF)")
    java.util.Arrays.copyOfRange(bytes, obj.streamStart, obj.streamStart + len)
  }

  /** Decompression-bomb ceiling for Flate streams with no tighter caller
    * bound (content streams, CMaps): 64 MiB of inflated text is far past
    * any real page description. Image streams pass their exact expected
    * byte count instead (w·h·3, itself bounded by ImageDecode.MaxPixels).
    */
  val MaxInflateBytes: Long = 64L * 1024 * 1024

  private[media] def inflate(
      data: Array[Byte], maxBytes: Long = MaxInflateBytes): Array[Byte] = {
    val inf = new Inflate(data)
    val out = new java.io.ByteArrayOutputStream(data.length * 4)
    val buf = new Array[Byte](8192)
    var n = buf.length
    while (n == buf.length) {
      n =
        try inf.read(buf, 0, buf.length)
        catch {
          // a corrupt deflate body must surface as the typed loud error the
          // ingest/quarantine layer matches on, not a raw checked zip
          // exception (fuzz: single-byte flips inside a Flate stream)
          case e: java.util.zip.DataFormatException =>
            throw new IllegalArgumentException(
              s"corrupt Flate stream: ${e.getMessage}")
        }
      out.write(buf, 0, n)
      // bound the OUTPUT as it grows, before the next read —
      // deflate compresses ~1000:1, so a small hostile stream can expand
      // to gigabytes; the check must not wait for the stream's end
      if (out.size() > maxBytes)
        throw new IllegalArgumentException(
          s"Flate stream inflates past $maxBytes bytes (decompression bomb)")
    }
    // stopped short: the stream ended (trailer checked), or the input did
    if (!inf.finished)
      throw new IllegalArgumentException("unsupported or truncated Flate stream")
    out.toByteArray
  }

  private[media] def decodeImageObject(bytes: Array[Byte], obj: PdfObject,
                                       objs: Map[Int, PdfObject]): ImageDecode.Decoded = {
    val dict = obj.dict
    val data = streamData(bytes, obj, objs)
    if (dict.contains("/DCTDecode")) {
      ImageDecode.decode(data) // the stream is a JPEG
    } else if (dict.contains("/FlateDecode")) {
      require(dict.contains("/DeviceRGB"), s"object ${obj.num}: unsupported colorspace")
      val w = """/Width\s+(\d+)""".r.findFirstMatchIn(dict).map(_.group(1).toInt)
        .getOrElse(throw new IllegalArgumentException(s"object ${obj.num}: no /Width"))
      val h = """/Height\s+(\d+)""".r.findFirstMatchIn(dict).map(_.group(1).toInt)
        .getOrElse(throw new IllegalArgumentException(s"object ${obj.num}: no /Height"))
      // dimension gate BEFORE inflating (the DCT path gets the same check
      // from ImageDecode's header pre-pass): hostile /Width × /Height must
      // not size the inflate bound, and the expected-byte math must be
      // Long — 37838² × 3 wraps Int to 175,436, letting a tiny stream pass
      require(w > 0 && h > 0 && w.toLong * h <= ImageDecode.MaxPixels,
        s"object ${obj.num}: decompression bomb: ${w}x$h px exceeds ${ImageDecode.MaxPixels}")
      val expected = w.toLong * h * 3
      val raw = inflate(data, expected)
      require(raw.length == expected,
        s"object ${obj.num}: expected $expected RGB bytes, got ${raw.length}")
      ImageDecode.Decoded(w, h, raw)
    } else throw new IllegalArgumentException(s"object ${obj.num}: unsupported /Filter")
  }

  /** Image placements from the page's /Contents stream: (name, ty, tx) per
    * `cm /Name Do`. Empty when the page has no /Contents reference.
    */
  /** Resolve /Contents to its ordered stream-object refs — the single-ref
    * or ARRAY form ("/Contents [4 0 R 5 0 R]" — a common real-generator
    * layout); non-generation-0 refs and unparsable array residue are
    * rejected loudly rather than silently dropped.
    */
  private[media] def contentRefs(page: PdfObject): Vector[Int] =
    ContentsArrayRe.findFirstMatchIn(page.dict) match {
      case Some(m) =>
        val body = m.group(1)
        val refs = AnyRefRe.findAllMatchIn(body).toVector
        refs.foreach(r => require(r.group(2) == "0",
          s"page ${page.num}: non-generation-0 /Contents ref " +
            s"${r.group(1)} ${r.group(2)} R unsupported"))
        val residue = AnyRefRe.replaceAllIn(body, " ").trim
        require(residue.isEmpty,
          s"page ${page.num}: unparsable /Contents array residue '$residue'")
        require(refs.nonEmpty, s"page ${page.num}: empty /Contents array")
        refs.map(_.group(1).toInt)
      case None =>
        ContentsRe.findFirstMatchIn(page.dict).map(m => Vector(m.group(1).toInt))
          .getOrElse(throw new IllegalArgumentException(s"page ${page.num}: no /Contents"))
    }

  /** The page's complete decoded content text: all /Contents streams
    * concatenated (the spec's token-boundary split rule; parts join with a
    * separator newline).
    */
  private[media] def contentText(bytes: Array[Byte], page: PdfObject,
                                 objs: Map[Int, PdfObject]): String =
    contentRefs(page).map { ref =>
      val cobj = objs.getOrElse(ref,
        throw new IllegalArgumentException(s"page ${page.num}: /Contents $ref unresolvable"))
      val raw = streamData(bytes, cobj, objs)
      new String(if (cobj.dict.contains("/FlateDecode")) inflate(raw) else raw,
        StandardCharsets.ISO_8859_1)
    }.mkString("\n")

  private def contentDraws(bytes: Array[Byte], page: PdfObject,
                           objs: Map[Int, PdfObject]): Vector[Draw] =
    if (!page.dict.contains("/Contents")) Vector.empty
    else DrawRe.findAllMatchIn(contentText(bytes, page, objs))
      .map(mm => Draw(mm.group(7), mm.group(1).toDouble, mm.group(2).toDouble,
        mm.group(3).toDouble, mm.group(4).toDouble,
        mm.group(5).toDouble, mm.group(6).toDouble))
      .toVector

  /** One parsed `q a b c d e f cm /Name Do Q` placement. */
  private final case class Draw(name: String, a: Double, b: Double, c: Double,
                                d: Double, tx: Double, ty: Double)

  /** Vertically stack same-width strips (already top-to-bottom). */
  private def composite(pageNum: Int, strips: Vector[ImageDecode.Decoded]): ImageDecode.Decoded =
    if (strips.length == 1) strips.head
    else {
      require(strips.map(_.width).distinct.length == 1,
        s"page $pageNum: strip widths differ (${strips.map(_.width).mkString(",")}) — not a strip scan")
      val w = strips.head.width
      val h = strips.map(_.height).sum
      val rgb = new Array[Byte](w * h * 3)
      var off = 0
      strips.foreach { s => System.arraycopy(s.rgb, 0, rgb, off, s.rgb.length); off += s.rgb.length }
      ImageDecode.Decoded(w, h, rgb)
    }

  /** Shared document prologue for the three PDF legs (PdfPages / PdfText /
    * PdfRaster): header check, classic-xref walk, object parse, /Pages node
    * lookup (both spellings), /Kids order. ONE definition — a container-
    * level change (e.g. /Prev incremental xref) must not be applied three
    * times and missed once, silently diverging the legs.
    */
  private[media] def documentKids(
      pdfBytes: Array[Byte]): (Map[Int, PdfObject], PdfObject, Vector[Int]) = {
    require(pdfBytes.length > 8 && latin1(pdfBytes, 0, 5) == "%PDF-", "not a PDF")
    val objs: Map[Int, PdfObject] = xrefOffsets(pdfBytes).map { case (num, off) =>
      num -> parseObjectAt(pdfBytes, num, off)
    }
    val pagesNode = objs.values
      .find(o => o.dict.contains("/Type /Pages") || o.dict.contains("/Type/Pages"))
      .getOrElse(throw new IllegalArgumentException("no /Pages node"))
    val kids = KidsRe.findFirstMatchIn(pagesNode.dict)
      .map(m => RefRe.findAllMatchIn(m.group(1)).map(_.group(1).toInt).toVector)
      .getOrElse(Vector.empty)
    require(kids.nonEmpty, "empty /Kids")
    (objs, pagesNode, kids)
  }

  /** Extract the per-page images in /Kids order — the reference's page
    * fan-out (`pdf.py:36-50`, `page_index` sequential). One raster per page;
    * multi-strip scanned pages (N same-width image XObjects — the
    * strip-scanned TIFF→PDF archive format) are composited top-to-bottom by
    * their content-stream cm placement (PDF user space is y-up, so the strip
    * with the LARGEST ty renders highest on the page and comes first).
    */
  def pages(pdfBytes: Array[Byte]): Vector[PdfPage] = {
    val (objs, _, kids) = documentKids(pdfBytes)
    kids.zipWithIndex.map { case (pageNum, idx) =>
      val page = objs.getOrElse(pageNum,
        throw new IllegalArgumentException(s"missing page object $pageNum"))
      val xmap: Map[String, Int] = XObjectRefRe.findFirstMatchIn(page.dict)
        .map(m => XObjEntryRe.findAllMatchIn(m.group(1))
          .map(mm => mm.group(1) -> mm.group(2).toInt).toMap)
        .getOrElse(Map.empty)
      require(xmap.nonEmpty, s"page $pageNum: no image XObject")
      def xobj(ref: Int): PdfObject = objs.getOrElse(ref,
        throw new IllegalArgumentException(
          s"page $pageNum: XObject ref $ref R is dangling (no such object)"))
      val orderedDraws: Vector[Draw] =
        if (xmap.size == 1) {
          // single-strip pages get the SAME cm validation as multi-strip
          // ones when a content stream exists — previously they bypassed it
          // entirely, so a rotated/mirrored/scaled single placement
          // composited silently while the identical matrix on a multi-strip
          // page was rejected loudly. No /Contents (or no parsable draw) →
          // decode the lone XObject directly, as before.
          val draws = contentDraws(pdfBytes, page, objs)
          require(draws.length <= 1,
            s"page $pageNum: 1 XObject but ${draws.length} placements (repeated draws unsupported)")
          draws.foreach { d =>
            require(xmap.contains(d.name), s"page $pageNum: draw of unknown XObject /${d.name}")
          }
          draws
        } else {
          val draws = contentDraws(pdfBytes, page, objs)
          require(draws.nonEmpty,
            s"page $pageNum: ${xmap.size} XObjects but no parsable content-stream placements")
          require(draws.length == xmap.size && draws.map(_.name).distinct.length == xmap.size,
            s"page $pageNum: placements ${draws.map(_.name).mkString(",")} don't cover the " +
              s"${xmap.size} XObjects exactly once (overlapping/repeated draws unsupported)")
          draws.foreach { d =>
            require(xmap.contains(d.name), s"page $pageNum: draw of unknown XObject /${d.name}")
          }
          // top-to-bottom: ty descending (y-up user space); tx then name as
          // deterministic tiebreaks
          draws.sortBy(d => (-d.ty, d.tx, d.name))
        }
      val strips =
        if (orderedDraws.isEmpty) Vector(decodeImageObject(pdfBytes, xobj(xmap.values.head), objs))
        else orderedDraws.map(d => decodeImageObject(pdfBytes, xobj(xmap(d.name)), objs))
      // the stack composite is only valid for AXIS-ALIGNED 1:1 strip
      // placements that tile the page contiguously — a rotated / mirrored /
      // re-scaled cm matrix, or gaps/overlaps between strips, would match
      // DrawRe but render differently; reject them loudly rather than
      // composite wrong pixels
      if (orderedDraws.nonEmpty) {
        val eps = 1e-6
        orderedDraws.zip(strips).foreach { case (d, s) =>
          require(math.abs(d.b) < eps && math.abs(d.c) < eps,
            s"page $pageNum: /${d.name} has a rotated/skewed cm (b=${d.b}, c=${d.c}) — unsupported")
          require(d.a > 0 && d.d > 0,
            s"page $pageNum: /${d.name} is mirrored (a=${d.a}, d=${d.d}) — unsupported")
          require(math.abs(d.a - s.width) < eps && math.abs(d.d - s.height) < eps,
            s"page $pageNum: /${d.name} placed at ${d.a}x${d.d} user units but decodes to " +
              s"${s.width}x${s.height} px — non-1:1 strip scaling unsupported")
        }
        orderedDraws.sliding(2).foreach {
          case Seq(upper, lower) =>
            require(math.abs(upper.ty - (lower.ty + lower.d)) < eps,
              s"page $pageNum: strips /${upper.name} (ty=${upper.ty}) and /${lower.name} " +
                s"(ty=${lower.ty}, h=${lower.d}) do not tile contiguously — gap/overlap unsupported")
            require(math.abs(upper.tx - lower.tx) < eps,
              s"page $pageNum: strips /${upper.name} and /${lower.name} are not x-aligned")
          case _ => // single strip: no tiling relation to check
        }
      }
      PdfPage(idx, composite(pageNum, strips))
    }
  }
}
