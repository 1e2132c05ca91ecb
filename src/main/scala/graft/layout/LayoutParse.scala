package graft.layout

import java.util.regex.Pattern
import graft.text.PyStr

/** Layout token-stream parsing.
  *
  * Port of `MinerU25PipelineHelper.parse_layout_output`
  * (`/root/reference/src/churro_ocr/providers/_mineru25.py:41-47,978-1000`):
  * scan `<|box_start|>x1 y1 x2 y2<|box_end|><|ref_start|>type<|ref_end|>`
  * optionally followed by a rotation token and a free tail (up to the next
  * box_start). Invalid boxes and unsupported / `inline_formula` types are
  * dropped; `txt_contd_tgt` in the tail marks text continuation.
  *
  * Engine adaptation for the interleaved data plane: the tail (minus the
  * continuation flag token) becomes the block's content — in the reference
  * the content arrives from a second per-block model call
  * (`_mineru25.py:1183-1188`), which our input spans already embody.
  */
object LayoutParse {

  private val layoutRe = Pattern.compile(
    "<\\|box_start\\|>(\\d+)\\s+(\\d+)\\s+(\\d+)\\s+(\\d+)" +
      "<\\|box_end\\|><\\|ref_start\\|>(\\w+?)<\\|ref_end\\|>" +
      "(?:(<\\|rotate_(?:up|right|down|left)\\|>))?" +
      "(.*?)(?=<\\|box_start\\|>|$)",
    Pattern.DOTALL)

  /** `_ANGLE_MAPPING` (`_mineru25.py:35-40`). */
  private val angleMapping: Map[String, Int] = Map(
    "<|rotate_up|>" -> 0,
    "<|rotate_right|>" -> 90,
    "<|rotate_down|>" -> 180,
    "<|rotate_left|>" -> 270)

  private val contdToken = "<|txt_contd_tgt|>"

  /** An ASCII digit run as a coordinate, saturating at 1001: anything past
    * 1000 is out of range and [[BBoxOps.convert]] drops the block, as the
    * reference's `int()` + `_convert_bbox` do — `toInt` would throw on a
    * run past `Int.MaxValue`.
    */
  private def coord(digits: String): Int = {
    var v = 0
    var i = 0
    while (i < digits.length) {
      v = math.min(v * 10 + (digits.charAt(i) - '0'), 1001)
      i += 1
    }
    v
  }

  def looksLikeLayout(text: String): Boolean = text.contains("<|box_start|>")

  def parse(output: String, mediaRef: String = ""): Vector[Block] = {
    val out = Vector.newBuilder[Block]
    val m = layoutRe.matcher(output)
    while (m.find()) {
      val bbox = BBoxOps.convert(
        coord(m.group(1)), coord(m.group(2)), coord(m.group(3)), coord(m.group(4)))
      val refType = PyStr.lower(m.group(5))
      if (bbox.isDefined && refType != "inline_formula" && Blocks.SupportedTypes.contains(refType)) {
        val angle = Option(m.group(6)).flatMap(angleMapping.get).getOrElse(0)
        val tail = m.group(7)
        val mergePrev = refType == "text" && tail.contains("txt_contd_tgt")
        val content = {
          val c = PyStr.strip(tail.replace(contdToken, "").replace("txt_contd_tgt", ""))
          if (c.isEmpty) None else Some(c)
        }
        out += Block(refType, bbox.get, angle, content,
          mergePrev = mergePrev, mediaRef = mediaRef)
      }
    }
    out.result()
  }
}
