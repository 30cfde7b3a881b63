package graft.xml

import java.io.ByteArrayInputStream
import javax.xml.parsers.DocumentBuilderFactory
import javax.xml.xpath.{XPathConstants, XPathExpression, XPathFactory}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.w3c.dom.NodeList

import graft.config.{ExtractionConfig, ExtractionRule}

/** The intermediate tuple of the engine — the Spark shape of the reference's shuffle
 * records (`XmlReducerKeyWritable` + `XmlReducerValueWritable`):
 * (document id, stream position of the fragment, output column index, extracted value). */
final case class ExtractedTuple(docId: String, seq: Long, order: Int, value: String)

/**
 * The parity extraction engine: config-driven XML fragment extraction → XPath
 * projection → fill-down pivot → delimited rows, re-expressed on Spark.
 *
 * Every formulation projects through one per-partition [[XPathEvaluator]]: its
 * `document` scans a whole document with the full rule set and yields its
 * [[ExtractedTuple]]s in stream order. Two equivalent formulations are
 * provided on top of it (tested for equality):
 *
 *  - [[XmlExtraction.extractRows]] — **fused, shuffle-free** (default): scan + XPath +
 *    streaming pivot fold ([[XmlExtraction.fillDown]]) inside one `mapPartitions`,
 *    one document at a time. This is the 100 TB path: a document is the
 *    unsplittable unit (same as the reference's non-splittable input format,
 *    `XmlExtractor.java:64-67`), so parallelism comes from document count and NO
 *    shuffle is needed — every transform is narrow.
 *
 *  - [[XmlExtraction.tuples]] + [[XmlExtraction.pivotRows]] — the **distributed
 *    formulation**: an explicit tuple Dataset followed by a window fill-down
 *    (`last(_, ignoreNulls = true)` over `partitionBy(docId).orderBy(seq, order)`),
 *    which reproduces the reference's shuffle + secondary sort + streaming reducer
 *    (`XmlReducerKeySortComparator.java:13-28`, `XmlExtractor.java:150-175`) when the
 *    tuples arrive from arbitrary partitions.
 */
object XmlExtraction {

  // ----------------------------------------------------------- Corpus readers
  /** A file document's deterministic docId: the last segment of the URI-escaped
   * `input_file_name()` (`a b.xml` → `a%20b.xml`). The reference keys documents by
   * random UUID (`SeqXmlRecordReader.java:171`, SURVEY.md §2.10 #8). */
  private[graft] def fileDocId: Column =
    regexp_extract(input_file_name(), "([^/]+)$", 1).as("docId")

  /** The one batch reader of XML files (`graft-xml` scans its rows): a directory,
   * file or glob, one row per file with [[fileDocId]]. Spark's text source lists
   * directories recursively, skips `_`/`.` files and never splits a file. */
  def corpusFromXmlFiles(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", true).option("recursiveFileLookup", true).text(path)
      .select(fileDocId, col("value").as("xml"))

  /** Read a reference-format SequenceFile corpus (`Text` uuid → `Text` xml document,
   * `CreateSequenceFile.java:37-51`). */
  def corpusFromSequenceFile(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.io.Text
    import spark.implicits._
    spark.sparkContext
      .sequenceFile(path, classOf[Text], classOf[Text])
      .map { case (k, v) => (k.toString, v.toString) }
      .toDF("docId", "xml")
  }

  /** Write a (docId, xml) corpus as a reference-format SequenceFile — the ingest
   * utility (`CreateSequenceFile.java:19-57`), distributed: each partition writes
   * its own SequenceFile part, so ingest scales with executor count instead of
   * the reference's single-JVM loop. */
  def corpusToSequenceFile(corpus: DataFrame, path: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select("docId", "xml").as[(String, String)].rdd
      .saveAsSequenceFile(path)
  }

  // --------------------------------------- Fused path (default, shuffle-free)
  /** Full extraction in one narrow pass, one document at a time: scan + XPath
   * ([[XPathEvaluator.document]]), then the reference's streaming pivot ([[fillDown]]).
   * Output schema: docId, seq (trigger tuple's stream position), c0..c{n-1}. */
  def extractRows(corpus: DataFrame, config: ExtractionConfig): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rules = config.rules.toIndexedSeq
    val nrCols = config.nrOfColumns
    val rows = corpus.select("docId", "xml").as[(String, String)].mapPartitions { docs =>
      val eval = new XPathEvaluator(rules)
      docs.flatMap { case (docId, xml) => fillDown(eval.document(docId, xml), nrCols) }
    }.toDF("docId", "seq", "cols")
    val cols = (0 until nrCols).map(i => col("cols").getItem(i).as(s"c$i"))
    rows.select(col("docId") +: col("seq") +: cols: _*)
  }

  /** The reference's streaming pivot over one document's tuples: a carry-forward
   * column array, never cleared between rows (fill-down), and one row (docId,
   * trigger seq, a copy of the columns) at each tuple of the last column
   * (`XmlExtractor.java:150-175`). Orders outside the columns are ignored. */
  private[graft] def fillDown(tuples: Iterator[ExtractedTuple],
                              nrCols: Int): Iterator[(String, Long, Seq[String])] = {
    val columns = new Array[String](nrCols)
    tuples.flatMap { t =>
      if (t.order >= 0 && t.order < nrCols) {
        columns(t.order) = t.value
        if (t.order == nrCols - 1) Some((t.docId, t.seq, columns.toSeq)) else None
      } else None
    }
  }

  // ------------- Distributed formulation (explicit tuples + window fill-down)
  /** Scan + XPath projection producing the intermediate tuple Dataset — the Spark
   * equivalent of the reference's map output (`XmlExtractor.java:111-112`). */
  def tuples(corpus: DataFrame, config: ExtractionConfig): Dataset[ExtractedTuple] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rules = config.rules.toIndexedSeq
    corpus.select("docId", "xml").as[(String, String)].mapPartitions { docs =>
      val eval = new XPathEvaluator(rules)
      docs.flatMap { case (docId, xml) => eval.document(docId, xml) }
    }
  }

  /**
   * XPath projection over pre-scanned fragments — the bridge from the
   * `graft-xml` source ([[graft.sources.XmlFragmentSource]], schema
   * `docId, seq, rule, xml`) into the tuple pipeline: feed the result
   * to [[pivotRows]] for the fill-down pivot.
   */
  def tuplesFromFragments(fragments: DataFrame, config: ExtractionConfig): Dataset[ExtractedTuple] = {
    val spark = fragments.sparkSession
    import spark.implicits._
    val rules = config.rules.toIndexedSeq
    val idxByElement = rules.map(_.element).zipWithIndex.toMap
    fragments.select("docId", "seq", "rule", "xml")
      .as[(String, Long, String, String)].mapPartitions { rows =>
        val eval = new XPathEvaluator(rules)
        rows.flatMap { case (docId, seq, rule, xml) =>
          eval.project(docId, idxByElement.get(rule).iterator.map(Fragment(_, seq, xml)))
        }
      }
  }

  /**
   * Fill-down pivot over the tuple stream — the window formulation of the reference's
   * reducer (SURVEY.md §2.3 J1 / §2.4 A2): one shuffle on docId, secondary sort
   * (seq, order), `last(_, ignoreNulls)` carry-forward per column, row emitted at each
   * trigger tuple (`order == nrOfColumns - 1`).
   */
  def pivotRows(tuples: Dataset[ExtractedTuple], config: ExtractionConfig): DataFrame = {
    val nrCols = config.nrOfColumns
    val w = Window.partitionBy(col("docId")).orderBy(col("seq"), col("order"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled: Seq[Column] = (0 until nrCols).map { k =>
      last(when(col("order") === k, col("value")), ignoreNulls = true).over(w).as(s"c$k")
    }
    tuples.toDF()
      .select(col("docId") +: col("seq") +: col("order") +: filled: _*)
      .where(col("order") === config.triggerOrder)
      .drop("order")
  }

  // ------------------------------------------------- Output formatting / sink
  /**
   * Render pivoted rows to the reference's delimited-text shape: every column followed
   * by the output delimiter (INCLUDING the last), null/empty column → single space
   * (`XmlExtractor.java:159-172`). Returns a single-column ("line") DataFrame — write
   * with `.write.text(dir)` for byte parity (plain `.csv` would drop the trailing
   * delimiter).
   */
  def formatLines(rows: DataFrame, config: ExtractionConfig): DataFrame = {
    val pieces: Seq[Column] = (0 until config.nrOfColumns).map(i => col(s"c$i")).flatMap { v =>
      Seq(when(v.isNull || v === "", lit(" ")).otherwise(v), lit(config.outputDelimiter))
    }
    rows.select(concat(pieces: _*).as("line"))
  }

  /** End-to-end convenience: corpus → extracted, formatted lines. */
  def run(corpus: DataFrame, config: ExtractionConfig): DataFrame =
    formatLines(extractRows(corpus, config), config)

  // -------------------------- XPath evaluation (per-partition, compiled once)
  /**
   * Per-partition XPath machinery, two engines behind one interface:
   *
   *  - **StAX fast path** ([[StaxRuleEvaluator]]): when EVERY projection of a
   *    rule fits the config grammar's XPath subset (`//steps/@attr`,
   *    `//steps/text()`), one pull-parse pass evaluates the whole rule with
   *    no DOM — this is the hot path for all shipped reference configs.
   *  - **DOM fallback**: any rule with an unsupported expression keeps full
   *    XPath — DOM parse each fragment, evaluate every expression as NODESET,
   *    concatenate matched nodes' `getNodeValue` with no separator
   *    (`XmlExtractor.java:97-117`); expressions that match nothing emit
   *    nothing; per-expression errors are swallowed (reference prints +
   *    drops, `:114-117`).
   */
  private[graft] final class XPathEvaluator(rules: IndexedSeq[ExtractionRule]) extends Serializable {
    // per rule: Right(stax) when the whole rule compiles to the subset
    private val engines: IndexedSeq[Either[IndexedSeq[(Int, XPathExpression)], StaxRuleEvaluator]] = {
      lazy val xpath = XPathFactory.newInstance().newXPath()
      rules.map { rule =>
        val subset = rule.xpaths.toIndexedSeq
          .map(p => StaxProjector.compile(p.xpath).map(c => (p.order, c)))
        if (subset.forall(_.isDefined))
          Right(new StaxRuleEvaluator(subset.flatten))
        else
          Left(rule.xpaths.toIndexedSeq.map(p => (p.order, xpath.compile(p.xpath))))
      }
    }
    private lazy val builder = {
      val f = DocumentBuilderFactory.newInstance()
      f.setNamespaceAware(true)
      f.newDocumentBuilder()
    }

    /** One whole document, scanned with the full rule set and projected: its
     * tuples in stream order. */
    def document(docId: String, xml: String): Iterator[ExtractedTuple] =
      project(docId, FragmentScanner.scan(xml, rules).iterator)

    /** The tuples of each fragment of one document, in the order given. */
    def project(docId: String, fragments: Iterator[Fragment]): Iterator[ExtractedTuple] =
      fragments.flatMap(f => tuples(f).iterator.map { case (order, value) =>
        ExtractedTuple(docId, f.seq, order, value)
      })

    private def tuples(frag: Fragment): Seq[(Int, String)] = {
      try {
        val unordered = engines(frag.ruleIndex) match {
          case Right(stax) => stax.eval(frag.xml)
          case Left(compiled) =>
            builder.reset()
            val doc = builder.parse(new ByteArrayInputStream(frag.xml.getBytes("UTF-8")))
            compiled.flatMap { case (order, expr) =>
              try {
                val nodes = expr.evaluate(doc, XPathConstants.NODESET).asInstanceOf[NodeList]
                if (nodes.getLength > 0) {
                  val sb = new StringBuilder
                  var i = 0
                  while (i < nodes.getLength) { sb.append(nodes.item(i).getNodeValue); i += 1 }
                  Some((order, sb.toString))
                } else None
              } catch { case _: Exception => None }
            }
        }
        // within one fragment all tuples share `seq`; the reference's shuffle then
        // orders them by `order` (XmlReducerKeySortComparator.java:21-24) — replicate
        // so the fused fold sees the same sequence as the reducer
        unordered.sortBy(_._1)
      } catch { case _: Exception => Seq.empty } // unparseable fragment: all tuples dropped
    }
  }
}
