package graft.text

import java.io.StringReader
import java.util.regex.Pattern
import javax.xml.XMLConstants
import javax.xml.parsers.DocumentBuilderFactory
import org.w3c.dom.{Element, Node}
import org.xml.sax.InputSource
import scala.collection.mutable.ArrayBuffer

/** HistoricalDocument XML flattening.
  *
  * Port of `/root/reference/tooling/evaluation/xml_utils.py:11-55`:
  * regex removal of Description/Deletion/Illegible/Gap elements *before*
  * parsing, namespace-insensitive local-name matching, per-`Page` collection
  * of Header/Body/Footer text lines (`itertext` order), parse failure → "".
  */
object XmlFlatten {

  // DocumentBuilderFactory.newInstance() performs a classloader service
  // lookup (getResources over every classpath jar) on EVERY call — under 32
  // executor threads that lock serializes the whole stage. One builder per
  // thread, reset() between parses.
  private val threadBuilder =
    new ThreadLocal[javax.xml.parsers.DocumentBuilder] {
      override def initialValue(): javax.xml.parsers.DocumentBuilder = {
        val factory = DocumentBuilderFactory.newInstance()
        factory.setNamespaceAware(true)
        factory.setFeature(XMLConstants.FEATURE_SECURE_PROCESSING, true)
        factory.setFeature("http://apache.org/xml/features/nonvalidating/load-external-dtd", false)
        // XXE guard (same as Sitemaps): an internal-subset SYSTEM entity
        // resolves under the two features above; model output never needs
        // a DOCTYPE, and a parse failure already falls back to ""
        factory.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
        factory.newDocumentBuilder()
      }
    }

  /** (open-tag prefix, paired-element pattern, self-closed pattern) for each
    * tag removed before parsing, compiled once.
    */
  private val removedTags: Seq[(String, Pattern, Pattern)] =
    Seq("Description", "Deletion", "Illegible", "Gap").map { tagName =>
      ("<" + tagName,
        Pattern.compile("<" + tagName + "\\b[^>]*>.*?</" + tagName + ">", Pattern.DOTALL),
        Pattern.compile("<" + tagName + "\\b[^>]*/>"))
    }

  private def removeTag(xml: String, tag: (String, Pattern, Pattern)): String = {
    val (open, paired, selfClosed) = tag
    if (!xml.contains(open)) return xml
    selfClosed.matcher(paired.matcher(xml).replaceAll("")).replaceAll("")
  }

  private def localName(node: Node): String = {
    val ln = node.getLocalName
    if (ln != null) ln
    else {
      val n = node.getNodeName
      val i = n.indexOf(':')
      if (i >= 0) n.substring(i + 1) else n
    }
  }

  /** All elements of the subtree rooted at `e`, in document order, incl. `e`. */
  private def iterElements(e: Element): Vector[Element] = {
    val out = Vector.newBuilder[Element]
    def walk(n: Node): Unit = {
      if (n.getNodeType == Node.ELEMENT_NODE) {
        out += n.asInstanceOf[Element]
        var c = n.getFirstChild
        while (c != null) { walk(c); c = c.getNextSibling }
      }
    }
    walk(e)
    out.result()
  }

  /** ElementTree `itertext()`: all text nodes in the subtree, document order. */
  private def iterText(e: Element): Vector[String] = {
    val out = Vector.newBuilder[String]
    def walk(n: Node): Unit = {
      n.getNodeType match {
        case Node.TEXT_NODE | Node.CDATA_SECTION_NODE => out += n.getNodeValue
        case Node.ELEMENT_NODE =>
          var c = n.getFirstChild
          while (c != null) { walk(c); c = c.getNextSibling }
        case _ =>
      }
    }
    walk(e)
    out.result()
  }

  def extractActualTextFromXml(xmlContent: String): String = {
    if (!xmlContent.contains("HistoricalDocument")) return xmlContent

    var content = xmlContent
    for (tag <- removedTags)
      content = removeTag(content, tag)

    val root: Element =
      try {
        val builder = threadBuilder.get()
        builder.reset()
        builder.setErrorHandler(null)
        builder.parse(new InputSource(new StringReader(content))).getDocumentElement
      } catch {
        case _: Exception => return ""
      }

    val pageTexts = new ArrayBuffer[String]
    for (page <- iterElements(root) if localName(page) == "Page") {
      val sectionTexts = new ArrayBuffer[String]
      for (child <- iterElements(page)
           if Set("Header", "Body", "Footer").contains(localName(child))) {
        val lines = iterText(child).map(PyStr.strip).filter(_.nonEmpty)
        if (lines.nonEmpty) sectionTexts += lines.mkString("\n")
      }
      if (sectionTexts.nonEmpty) pageTexts += sectionTexts.mkString("\n")
    }
    PyStr.strip(pageTexts.mkString("\n\n"))
  }
}
