package graft.config

import java.io.StringReader
import javax.xml.parsers.DocumentBuilderFactory
import org.xml.sax.InputSource
import scala.collection.mutable

/**
 * One XPath projection inside a rule: `order` is the output column index,
 * `xpath` the expression evaluated over the extracted fragment.
 *
 * Reference semantics: the `ORDER#XPATH` pairs of the rule grammar
 * (reference `README.md:239-252`, parsed at `SeqXmlRecordReader.java:71-115`).
 */
final case class XPathProjection(order: Int, xpath: String)

/**
 * A single extraction rule, the unit of the reference's "query language".
 *
 * Grammar (reference `README.md:239-252`):
 * {{{
 *   ELEMENT_NAME;HAS_ATTRIBUTE;INCLUDE_CHILDREN;ATTRIBUTE_VALUE;ORDER#XPATH;[ORDER#XPATH;...]
 * }}}
 *
 *  - `element`            — XML element name whose fragments are extracted.
 *  - `hasAttributes`      — start-tag pattern is `<name ` (attributes present)
 *                           vs `<name>` (reference `SeqXmlRecordReader.java:80-88`).
 *  - `includeChildren`    — whether the fragment carries the whole subtree or just the
 *                           start tag + a synthetic close (`SeqXmlRecordReader.java:96-104`).
 *  - `requiredAttrSubstring` — fragment admitted only if this string occurs as a raw
 *                           substring inside the start tag; `None` = no filter (the
 *                           single-space sentinel, `README.md:248-250`). NOTE: substring,
 *                           not attribute equality — `bk1` matches `bk101`..`bk112`
 *                           (`SeqXmlRecordReader.java:262-272`).
 *  - `xpaths`             — column projections (see [[XPathProjection]]).
 */
final case class ExtractionRule(
    element: String,
    hasAttributes: Boolean,
    includeChildren: Boolean,
    requiredAttrSubstring: Option[String],
    xpaths: Seq[XPathProjection]) {

  /** Raw start-of-start-tag pattern the scanner matches (`SeqXmlRecordReader.java:80-88`). */
  def startPattern: String = if (hasAttributes) s"<$element " else s"<$element>"

  /** End pattern: full close tag when children are included, else just the start tag's
   * closing `>` (`SeqXmlRecordReader.java:96-101`). */
  def endPattern: String = if (includeChildren) s"</$element>" else ">"

  /** Synthetic close appended when `includeChildren = false`
   * (`SeqXmlRecordReader.java:185-187`). */
  def bufferAddition: String = if (includeChildren) "" else s"</$element>"
}

/**
 * A full extraction job configuration: global delimiters + output arity + ordered rules.
 * Mirrors the Hadoop `Configuration` keys consumed by the reference driver
 * (`XmlExtractor.java:50-55`, `README.md:164-252`).
 */
final case class ExtractionConfig(
    delimiter: String,
    sortOrderDelimiter: String,
    outputDelimiter: String,
    nrOfColumns: Int,
    rules: Seq[ExtractionRule]) {

  require(nrOfColumns > 0, "nr_of_columns must be positive")

  /** The column index whose arrival triggers emission of a row
   * (`XmlExtractor.java:159`: `order == nrOfColumns - 1`). */
  def triggerOrder: Int = nrOfColumns - 1
}

object ExtractionConfig {

  /** Config property names, identical to the reference (`XmlExtractor.java:50-55`). */
  final val DelimiterKey = "xmlextractor.delimiter_string"
  final val SortOrderDelimiterKey = "xmlextractor.sort_order_delimiter_string"
  final val OutputDelimiterKey = "xmlextractor.output_delimiter_string"
  final val NodesKey = "xmlextractor.nodes"
  final val NrOfColumnsKey = "xmlextractor.nr_of_columns"

  /** The single-space "no attribute filter" sentinel (`README.md:248-250`). */
  final val NoFilterSentinel = " "

  /**
   * Parse one rule value string, e.g. `book;true;false; ;4#//book/@id;5#//book/@inStock;`.
   * Mirrors `SeqXmlRecordReader.parseNodeValues` (`SeqXmlRecordReader.java:71-115`).
   */
  def parseRule(value: String, delimiter: String, sortOrderDelimiter: String): ExtractionRule = {
    // Java String.split drops trailing empty strings, which is what the reference
    // relies on (trailing delimiter after the last XPath pair).
    val parts = value.split(java.util.regex.Pattern.quote(delimiter))
    require(parts.length >= 5, s"rule needs >=5 '$delimiter'-separated fields, got: $value")
    val element = parts(0)
    val hasAttributes = parts(1).trim.toBoolean
    val includeChildren = parts(2).trim.toBoolean
    val attrFilter = parts(3) match {
      case NoFilterSentinel | "" => None
      case s                     => Some(s)
    }
    val xpaths = parts.drop(4).filter(_.nonEmpty).toSeq.map { pair =>
      val i = pair.indexOf(sortOrderDelimiter)
      require(i > 0, s"XPath pair missing '$sortOrderDelimiter': $pair")
      XPathProjection(pair.substring(0, i).trim.toInt, pair.substring(i + sortOrderDelimiter.length))
    }
    ExtractionRule(element, hasAttributes, includeChildren, attrFilter, xpaths)
  }

  /**
   * Parse a full Hadoop-configuration-style XML document
   * (`<configuration><property><name>..</name><value>..</value></property>...`).
   */
  def fromXml(xml: String): ExtractionConfig =
    fromProperties(parseHadoopConfXml(xml.stripPrefix("\uFEFF")))

  def fromFile(path: String): ExtractionConfig = {
    val s = scala.io.Source.fromFile(path, "UTF-8")
    try fromXml(s.mkString)
    finally s.close()
  }

  /** Build the config from a flat property map (already-parsed configuration). */
  def fromProperties(props: Map[String, String]): ExtractionConfig = {
    def get(k: String): String =
      props.getOrElse(k, throw new IllegalArgumentException(s"missing config property: $k"))
    val delim = get(DelimiterKey)
    val sortDelim = get(SortOrderDelimiterKey)
    val outDelim = get(OutputDelimiterKey)
    val nrCols = get(NrOfColumnsKey).trim.toInt
    // `nodes` is a delimiter-separated list of property names, one per rule
    // (`SeqXmlRecordReader.java:121-134`); trailing empties dropped like String.split.
    val ruleNames = get(NodesKey).split(java.util.regex.Pattern.quote(delim)).filter(_.nonEmpty)
    val rules = ruleNames.toSeq.map(n => parseRule(get(n), delim, sortDelim))
    ExtractionConfig(delim, sortDelim, outDelim, nrCols, rules)
  }

  /** Minimal Hadoop-conf XML → property map using the JDK DOM parser (no extra deps). */
  private def parseHadoopConfXml(xml: String): Map[String, String] = {
    val dbf = DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(false)
    // Hardening: no external entities (configs are user-supplied).
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    val doc = dbf.newDocumentBuilder().parse(new InputSource(new StringReader(xml)))
    val propNodes = doc.getElementsByTagName("property")
    val out = mutable.LinkedHashMap.empty[String, String]
    var i = 0
    while (i < propNodes.getLength) {
      val children = propNodes.item(i).getChildNodes
      var name: String = null
      var value: String = null
      var j = 0
      while (j < children.getLength) {
        val c = children.item(j)
        c.getNodeName match {
          case "name"  => name = c.getTextContent
          case "value" => value = c.getTextContent
          case _       =>
        }
        j += 1
      }
      if (name != null && value != null) out(name.trim) = value
      i += 1
    }
    out.toMap
  }
}
