package graft.perfbench

import graft.layout.{Block, Blocks, ExtractConfig, GlyphOcr, LayoutParse, PageSegment, Render}
import graft.media.ImageDecode
import graft.model.Doc
import graft.pipeline.Extract
import graft.text.XmlFlatten

/** Spark-free layer timings: the public functions of each layer, called
  * single-threaded on the driver over a deterministic sample of the
  * workload's input, with a span around every call. The traced sequences
  * replay what `Extract.extractDoc` and `GlyphOcr.recognizePage` do; every
  * replayed output is compared with the real function's, so the timings are
  * of the work the program actually does.
  */
object Layers {

  /** Zero-area bbox for plain spans, as in `Extract.buildBlocks`. */
  private val PlainBBox = Array(0.0, 0.0, 0.0, 0.0)

  private def someNonEmpty(s: String): Option[String] =
    if (s == null || s.isEmpty) None else Some(s)

  final class Counts { var docs, spans, layoutSpans, blocks, mismatches = 0L }

  /** `Extract.extractDoc`, one span per layer call. */
  def tracedExtract(doc: Doc, rec: SpanRecorder, parent: Long, n: Counts): Vector[(String, String, String)] =
    rec.span("pipeline.extract_doc", "pipeline", parent) { root =>
      val blocks = rec.span("pipeline.build_blocks", "pipeline", root) { bb =>
        val out = Vector.newBuilder[Block]
        doc.spans.sortBy(_.offset).foreach { span =>
          n.spans += 1
          val cleaned = rec.span("text.clean", "text", bb)(_ => Extract.cleanResponse(span.text))
          if (LayoutParse.looksLikeLayout(cleaned)) {
            n.layoutSpans += 1
            out ++= rec.span("layout.parse", "layout", bb)(_ => LayoutParse.parse(cleaned, span.media_ref))
          } else if (span.kind == "xml") {
            val flat = rec.span("text.xml_flatten", "text", bb)(_ => XmlFlatten.extractActualTextFromXml(cleaned))
            out += Block("text", PlainBBox, content = someNonEmpty(flat), mediaRef = span.media_ref)
          } else if (Blocks.SupportedTypes.contains(span.kind)) {
            out += Block(span.kind, PlainBBox, content = someNonEmpty(cleaned), mediaRef = span.media_ref)
          }
        }
        out.result()
      }
      n.blocks += blocks.length
      val cfg = ExtractConfig.Default
      val prepared = rec.span("layout.prepare", "layout", root)(_ => Render.prepareBlocks(doc.doc_id, blocks, cfg))
      val processed = rec.span("layout.postprocess", "layout", root)(_ => Render.postProcess(prepared, cfg))
      rec.span("layout.emit", "layout", root)(_ => Render.emitSpans(processed))
    }

  private def sumUs(spans: Vector[SpanRec], name: String): Double =
    spans.iterator.filter(_.name == name).map(_.durUs).sum.toDouble

  /** Extract-side layer metrics over `docs`. The sample is traced once to warm
    * the replay path, then once more for the figures. Returns the metrics
    * and the number of documents whose replay differs from `Extract.extractDoc`.
    */
  def extract(docs: Seq[Doc], rec: SpanRecorder, parent: Long): (Map[String, Double], Long) = {
    val warm = rec.fork()
    docs.foreach(tracedExtract(_, warm, 0L, new Counts))
    val local = rec.fork()
    val n = new Counts
    docs.foreach { d =>
      n.docs += 1
      val got = tracedExtract(d, local, parent, n)
      val want = Extract.extractDoc(d).spans.map(s => (s.kind, s.text, s.media_ref)).toVector
      if (got != want) n.mismatches += 1
    }
    local.all.foreach(rec.add)
    val v = local.all
    val self = local.selfUsByLayer("pipeline.extract_doc")
    val d = math.max(1L, n.docs).toDouble
    val m = Map(
      "pipeline.extract_doc_us" -> sumUs(v, "pipeline.extract_doc") / d,
      "pipeline.build_blocks_us" -> sumUs(v, "pipeline.build_blocks") / d,
      "pipeline.self_us" -> self.getOrElse("pipeline", 0L) / d,
      "text.self_us" -> self.getOrElse("text", 0L) / d,
      "layout.self_us" -> self.getOrElse("layout", 0L) / d,
      "text.clean_us_per_span" -> sumUs(v, "text.clean") / math.max(1L, n.spans),
      "text.xml_flatten_us" -> sumUs(v, "text.xml_flatten") / d,
      "text.spans" -> n.spans / d,
      "layout.parse_us_per_span" -> sumUs(v, "layout.parse") / math.max(1L, n.layoutSpans),
      "layout.prepare_us" -> sumUs(v, "layout.prepare") / d,
      "layout.postprocess_us" -> sumUs(v, "layout.postprocess") / d,
      "layout.emit_us" -> sumUs(v, "layout.emit") / d,
      "layout.blocks_per_doc" -> n.blocks / d)
    (m, n.mismatches)
  }

  /** `GlyphOcr.recognizePage` after `ImageDecode.decode`, one span per layer call. */
  def tracedOcr(png: Array[Byte], rec: SpanRecorder, parent: Long): (Vector[String], Long) =
    rec.span("pipeline.ocr_page", "pipeline", parent) { root =>
      val img = rec.span("media.decode", "media", root)(_ => ImageDecode.decode(png))
      val ink = rec.span("layout.ink_mask", "layout", root)(_ => PageSegment.inkMask(img))
      val lines = rec.span("layout.segment", "layout", root) { _ =>
        PageSegment.xyCut(ink, img.width, PageSegment.Box(0, 0, img.width, img.height))
          .flatMap(blk => PageSegment.lineBoxes(ink, img.width, blk))
      }
      val texts = rec.span("layout.recognize", "layout", root) { _ =>
        lines.flatMap(ln => GlyphOcr.recognizeLine(ink, img.width, ln).map(_._1))
      }
      (texts, img.width.toLong * img.height)
    }

  /** OCR-side layer metrics over `(id, png)` pages; mismatches are pages whose
    * replay differs from the planted text or from `GlyphOcr.recognizePage`.
    */
  def ocr(pages: Seq[(Long, Array[Byte])], rec: SpanRecorder, parent: Long): (Map[String, Double], Long) = {
    pages.foreach(p => tracedOcr(p._2, rec.fork(), 0L))
    val local = rec.fork()
    var mismatches, lines, pixels = 0L
    pages.foreach { case (id, png) =>
      val (texts, px) = tracedOcr(png, local, parent)
      val real = GlyphOcr.recognizePage(ImageDecode.decode(png))
        .collect { case (_, _, l) if l.kind == "text" => l.text }
      if (texts != graft.jobs.OcrScaleBench.expectedLines(id) || texts != real) mismatches += 1
      lines += texts.length
      pixels += px
    }
    local.all.foreach(rec.add)
    val v = local.all
    val p = math.max(1, pages.length).toDouble
    val m = Map(
      "media.decode_us" -> sumUs(v, "media.decode") / p,
      "media.decoded_mpix" -> pixels / 1e6 / p,
      "layout.ink_mask_us" -> sumUs(v, "layout.ink_mask") / p,
      "layout.segment_us" -> sumUs(v, "layout.segment") / p,
      "layout.recognize_us" -> sumUs(v, "layout.recognize") / p,
      "layout.ocr_lines" -> lines / p)
    (m, mismatches)
  }
}
