package graft.xml

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.config.{ExtractionConfig, ExtractionRule, XPathProjection}

/**
 * Property-based invariants over randomly generated documents (SURVEY.md §5
 * test plan #3), exercised through the production per-document projection
 * (scanner + StAX XPath) and fill-down fold directly (single-JVM — the Spark
 * formulations are proven equal in the golden spec):
 *
 *  - row count == number of trigger fragments (fragments of the rule carrying
 *    the last column);
 *  - every row's ancestor column equals the most recent preceding ancestor
 *    fragment's value (fill-down);
 *  - output arity is constant.
 */
class ExtractionPropertySpec extends SparkSpec {

  /** Deterministic sampler (scalatestplus isn't in the offline cache). */
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(8).mkString)

  /** A document: interleaved ancestor values and child groups. */
  private case class Doc(sections: List[(String, List[String])])

  private val docGen: Gen[Doc] = for {
    n <- Gen.choose(1, 6)
    sections <- Gen.listOfN(n, for {
      anc <- word
      k <- Gen.choose(0, 5)
      children <- Gen.listOfN(k, word)
    } yield (anc, children))
  } yield Doc(sections)

  private def render(d: Doc): String = {
    val sb = new StringBuilder("<root>")
    d.sections.foreach { case (anc, children) =>
      sb.append(s"""<meta v="$anc"></meta>""")
      children.foreach(c => sb.append(s"""<item v="$c"></item>"""))
    }
    sb.append("</root>").toString
  }

  private val config = ExtractionConfig(
    delimiter = ";", sortOrderDelimiter = "#", outputDelimiter = ";",
    nrOfColumns = 2,
    rules = Seq(
      ExtractionRule("meta", hasAttributes = true, includeChildren = false, None,
        Seq(XPathProjection(0, "//meta/@v"))),
      ExtractionRule("item", hasAttributes = true, includeChildren = false, None,
        Seq(XPathProjection(1, "//item/@v")))))

  /** Reference-shaped expected output: per item, (last preceding meta, item). */
  private def expectedRows(d: Doc): Seq[(String, String)] =
    d.sections.flatMap { case (anc, children) => children.map(c => (anc, c)) }

  /** The shipped per-document projection and fold, as
   * [[XmlExtraction.extractRows]] runs them on each document. */
  private def extractLocal(xml: String): Seq[(String, String)] = {
    val eval = new XmlExtraction.XPathEvaluator(config.rules.toIndexedSeq)
    XmlExtraction.fillDown(eval.document("doc", xml), config.nrOfColumns)
      .map { case (_, _, cols) => (cols(0), cols(1)) }.toSeq
  }

  test("row count == #trigger fragments; fill-down carries last ancestor; arity constant") {
    val docs = samples(docGen, 200)
    assert(docs.length > 150)
    docs.foreach { d =>
      val rows = extractLocal(render(d))
      assert(rows.length == d.sections.map(_._2.length).sum)
      assert(rows == expectedRows(d))
    }
  }

  test("documents with no trigger fragments emit no rows") {
    samples(Gen.listOf(word), 100).foreach { ancs =>
      val xml = "<root>" + ancs.map(a => s"""<meta v="$a"></meta>""").mkString + "</root>"
      assert(extractLocal(xml).isEmpty)
    }
  }
}
