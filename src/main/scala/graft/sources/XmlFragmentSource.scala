package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import graft.config.ExtractionConfig
import graft.xml.{FragmentScanner, XmlExtraction}

/**
 * File source `graft-xml`: scans XML documents for configured element
 * fragments at the byte level — the Spark-native re-expression of the
 * reference's custom RecordReader (`SeqXmlRecordReader.java:162-328`), whose
 * whole point was extracting fragments WITHOUT parsing full documents
 * (`README.md:3`).
 *
 * {{{
 *   spark.read.format("graft-xml")
 *     .option("config", "/path/to/ExtractInventory.xml")   // reference config format
 *     .load("/path/to/xml/dir")
 * }}}
 *
 * Output schema: `docId string, seq long, rule string, xml string` — one row
 * per extracted fragment, `seq` = stream position (document order).
 *
 * The scan is [[XmlExtraction.corpusFromXmlFiles]] (listing, docIds and
 * partitions are Spark's text source's; a file is never split) followed by
 * [[FragmentScanner.scan]] with the FULL rule set (rule interplay — overlap
 * precedence, in-fragment swallowing — is part of the semantics). Only the
 * required columns are emitted, and `rule = '...'` equalities are applied in
 * the scan; every other filter is left to Spark.
 */
class XmlFragmentSource extends RelationProvider with DataSourceRegister {
  override def shortName(): String = "graft-xml"
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation =
    new XmlFragmentRelation(sqlContext, parameters("path"),
      ExtractionConfig.fromFile(parameters("config")))
}

object XmlFragmentSource {
  val schema: StructType = StructType(Seq(
    StructField("docId", StringType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("rule", StringType, nullable = false),
    StructField("xml", StringType, nullable = false)))
}

private[sources] class XmlFragmentRelation(val sqlContext: SQLContext, path: String,
                                           config: ExtractionConfig)
    extends BaseRelation with PrunedFilteredScan {
  override def schema: StructType = XmlFragmentSource.schema
  // the scan node's name in plans and explain output
  override def toString: String =
    s"graft-xml path=$path rules=${config.rules.map(_.element).mkString(",")}"
  private def ruleEquality(f: Filter): Option[String] =
    Some(f).collect { case EqualTo("rule", v: String) => v }
  // buildScan hands back the inner query's InternalRows
  override def needConversion: Boolean = false
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters.filter(ruleEquality(_).isEmpty)

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    val spark = sqlContext.sparkSession
    import spark.implicits._
    val rules = config.rules.toIndexedSeq
    // all equalities must hold: two distinct values keep no fragment
    val ruleEqs = filters.flatMap(ruleEquality).toSet
    XmlExtraction.corpusFromXmlFiles(spark, path).as[(String, String)].flatMap {
      case (docId, xml) =>
        FragmentScanner.scan(xml, rules).iterator
          .map(f => (docId, f.seq, rules(f.ruleIndex).element, f.xml))
          .filter(t => ruleEqs.forall(_ == t._3))
    }.toDF(schema.fieldNames.toIndexedSeq: _*)
      .select(requiredColumns.map(col).toIndexedSeq: _*)
      .queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}
