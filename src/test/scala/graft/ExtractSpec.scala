package graft

import graft.layout.{ExtractConfig, TableImageTokens}
import graft.model.{Doc, OutSpan, Span}
import graft.pipeline.{DocsGen, Extract}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end per-document extraction semantics (the documented adaptation of
  * the reference pipeline to the interleaved `docs` table — Extract.scala
  * Scaladoc). Span-sequence equality `(kind, text, media_ref, order)` per
  * BASELINE.json.
  */
class ExtractSpec extends AnyFunSuite {

  private def doc(id: String, spans: (String, String, String)*): Doc =
    Doc(id, spans.zipWithIndex.map { case ((k, t, m), i) => Span(k, t, m, i) })

  test("plain text spans: tag strip + ordering by offset") {
    val d = Doc("d1", Seq(
      Span("text", "<output>second</output>", "", 5),
      Span("text", "first", "", 1)))
    assert(Extract.extractDoc(d).spans == Seq(
      OutSpan("text", "first", "", 0),
      OutSpan("text", "second", "", 1)))
  }

  test("xml span flattens HistoricalDocument") {
    val d = doc("d2", ("xml",
      "<HistoricalDocument><Page><Header>H</Header><Body>B</Body></Page></HistoricalDocument>", ""))
    assert(Extract.extractDoc(d).spans == Seq(OutSpan("text", "H\nB", "", 0)))
  }

  test("layout span: merge_prev fold with CJK") {
    val d = doc("d3",
      ("text", "<output>Hello</output>", ""),
      ("layout",
        "<|box_start|>100 100 900 200<|box_end|><|ref_start|>text<|ref_end|>First" +
          "<|box_start|>100 220 900 320<|box_end|><|ref_start|>text<|ref_end|><|txt_contd_tgt|>world" +
          "<|box_start|>100 340 900 440<|box_end|><|ref_start|>text<|ref_end|><|txt_contd_tgt|>世界", ""))
    assert(Extract.extractDoc(d).spans == Seq(
      OutSpan("text", "Hello", "", 0),
      OutSpan("text", "First world世界", "", 1)))
  }

  test("layout span: a coordinate past Int range drops its block, not the task") {
    // `toInt` threw NumberFormatException on 99999999999 and killed the
    // extract task; the reference's int() + _convert_bbox drops the block
    val layout =
      "<|box_start|>99999999999 2 3 4<|box_end|><|ref_start|>text<|ref_end|>bad" +
        "<|box_start|>100 100 900 200<|box_end|><|ref_start|>text<|ref_end|>kept" +
        "<|box_start|>1 2 1001 4<|box_end|><|ref_start|>text<|ref_end|>also out of range" +
        "<|box_start|>0100 220 900 0320<|box_end|><|ref_start|>text<|ref_end|>leading zeros"
    val blocks = graft.layout.LayoutParse.parse(layout)
    assert(blocks.map(_.content) == Vector(Some("kept"), Some("leading zeros")))
    assert(blocks(1).bbox.toSeq == Seq(0.1, 0.22, 0.9, 0.32))
    assert(Extract.extractDoc(doc("d9", ("layout", layout, ""))).spans ==
      Seq(OutSpan("text", "kept", "", 0), OutSpan("text", "leading zeros", "", 1)))
  }

  test("xml span: Description/Deletion/Illegible/Gap elements are removed before parsing") {
    val xml = "<HistoricalDocument><Description>about</Description><Page><Body>a" +
      "<Deletion reason=\"x\">gone</Deletion>b<Gap/>c<Illegible n=\"2\"/>" +
      "<Descriptions>kept</Descriptions></Body></Page></HistoricalDocument>"
    assert(graft.text.XmlFlatten.extractActualTextFromXml(xml) == "abc\nkept")
  }

  test("equation block combine + wrapping") {
    // combine fires when each equation covers >90% of the equation_block's
    // area (`_mineru25.py:878-882`: cover_ratio(block_bbox, equation_bbox))
    val d = doc("d4", ("layout",
      "<|box_start|>100 100 900 400<|box_end|><|ref_start|>equation_block<|ref_end|>" +
        "<|box_start|>100 100 900 400<|box_end|><|ref_start|>equation<|ref_end|>a=1" +
        "<|box_start|>105 105 895 395<|box_end|><|ref_start|>equation<|ref_end|>b=2", ""))
    val spans = Extract.extractDoc(d).spans
    assert(spans.length == 1)
    assert(spans.head.kind == "equation")
    // per-equation display wrapping happens BEFORE combining, as in the
    // reference's post_process order (`_mineru25.py:1129-1141`)
    assert(spans.head.text ==
      "\\begin{array}{l} \\[\na=1\n\\] \\\\ \\[\nb=2\n\\] \\end{array}")
  }

  test("single covered equation is not combined; wrapped as display math") {
    val d = doc("d5", ("layout",
      "<|box_start|>120 120 880 220<|box_end|><|ref_start|>equation<|ref_end|>x=y", ""))
    assert(Extract.extractDoc(d).spans == Seq(
      OutSpan("equation", "\\[\nx=y\n\\]", "", 0)))
  }

  test("table absorbs covered image; token replaced with media ref") {
    // token for (doc d6, table block idx 0) — the deterministic generator
    val expectedToken = new TableImageTokens.Gen("d6", 0).next()
    val d = doc("d6", ("layout",
      s"<|box_start|>100 100 900 500<|box_end|><|ref_start|>table<|ref_end|><fcel>[$expectedToken]<fcel>B<nl>" +
        "<|box_start|>150 150 400 300<|box_end|><|ref_start|>image<|ref_end|>a figure",
      "media://d6/0"))
    val spans = Extract.extractDoc(d).spans
    assert(spans.length == 1, spans)
    assert(spans.head.kind == "table")
    assert(spans.head.text ==
      """<table><tr><td><img src="media://d6/0"/></td><td>B</td></tr></table>""")
  }

  test("caption covered by chart container is dropped; chart kept with media ref") {
    val d = doc("d7", ("layout",
      "<|box_start|>100 600 900 800<|box_end|><|ref_start|>chart<|ref_end|>chart body" +
        "<|box_start|>120 620 880 680<|box_end|><|ref_start|>image_caption<|ref_end|>covered caption",
      "media://d7/0"))
    assert(Extract.extractDoc(d).spans == Seq(
      OutSpan("chart", "chart body", "media://d7/0", 0)))
  }

  test("paratext abandon filter") {
    val d = Doc("d8", Seq(
      Span("header", "running head", "", 0),
      Span("text", "body", "", 1),
      Span("page_number", "42", "", 2)))
    val cfg = ExtractConfig(abandonParatext = true)
    assert(Extract.extractDoc(d, cfg).spans == Seq(OutSpan("text", "body", "", 0)))
    // default keeps them
    assert(Extract.extractDoc(d).spans.length == 3)
  }

  test("unsupported kinds and skip types are dropped; stop tokens trimmed") {
    val d = Doc("d9", Seq(
      Span("bogus_kind", "dropped", "", 0),
      Span("text", "kept<|im_end|>junk", "", 1),
      Span("list", "list content never extracted", "", 2)))
    assert(Extract.extractDoc(d).spans == Seq(OutSpan("text", "kept", "", 0)))
  }

  test("image span kept with media ref under image_analysis (default)") {
    val d = doc("da", ("image", "figure: a map", "media://da/0"))
    assert(Extract.extractDoc(d).spans == Seq(OutSpan("image", "figure: a map", "media://da/0", 0)))
    val noAnalysis = ExtractConfig(imageAnalysis = false)
    assert(Extract.extractDoc(d, noAnalysis).spans.isEmpty)
  }

  test("OTSL table span renders to HTML") {
    val d = doc("db", ("table", "<fcel>A<lcel><nl><fcel>B<fcel>C<nl>", ""))
    assert(Extract.extractDoc(d).spans == Seq(OutSpan("table",
      """<table><tr><td colspan="2">A</td></tr><tr><td>B</td><td>C</td></tr></table>""", "", 0)))
  }

  test("chat scaffold stripped from span payloads") {
    val d = doc("dc", ("text", "assistant:\nreal content", ""))
    assert(Extract.extractDoc(d).spans == Seq(OutSpan("text", "real content", "", 0)))
  }

  test("generator is deterministic and covers the skew tail") {
    val a = DocsGen.genDoc(7, 42L)
    val b = DocsGen.genDoc(7, 42L)
    assert(a == b)
    val skewed = DocsGen.genDoc(999, 42L) // 999 % 1000 == 999
    assert(skewed.spans.length >= 5000)
    val normal = DocsGen.genDoc(3, 42L)
    assert(normal.spans.length <= 64)
  }

  test("extraction output is deterministic (pure function of the doc)") {
    (0L until 50L).foreach { i =>
      val d = DocsGen.genDoc(i, 42L)
      val r1 = Extract.extractDoc(d)
      val r2 = Extract.extractDoc(d)
      assert(r1 == r2)
      assert(r1.spans.zipWithIndex.forall { case (s, idx) => s.order == idx },
        s"orders not contiguous for doc $i")
    }
  }
}
