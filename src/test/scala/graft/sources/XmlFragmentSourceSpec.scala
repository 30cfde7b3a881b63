package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.RowDataSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo

import graft.SparkSpec
import graft.config.ExtractionConfig
import graft.xml.{FragmentScanner, XmlExtraction}

/** The graft-xml source: fragment parity with the scanner, pruning,
 * rule-filter pushdown, listing and docIds shared with
 * `XmlExtraction.corpusFromXmlFiles`, and the bridge into the pivot pipeline. */
class XmlFragmentSourceSpec extends SparkSpec {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft-dsv2").toFile
    for (name <- Seq("InventorySoho.xml", "InventoryBanks.xml"))
      Files.writeString(new java.io.File(d, name).toPath, resourceText(name))
    d.getAbsolutePath
  }

  private lazy val configPath = {
    val f = Files.createTempFile("graft-dsv2-config", ".xml")
    Files.writeString(f, resourceText("ExtractInventory.xml"))
    f.toString
  }

  private def readPath(p: String) =
    spark.read.format("graft-xml").option("config", configPath).load(p)

  private def read() = readPath(dir)

  private def docIds(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("docId").distinct().collect().map(_.getString(0)).toSet

  /** a/InventorySoho.xml, a/deep/InventoryBanks.xml, b/InventorySoho2.xml and
   * a `_SUCCESS` marker at the root */
  private lazy val nested = {
    val root = Files.createTempDirectory("graft-dsv2-nested")
    val subA = Files.createDirectory(root.resolve("a"))
    val subB = Files.createDirectory(root.resolve("a").resolve("deep"))
    val subC = Files.createDirectory(root.resolve("b"))
    Files.writeString(subA.resolve("InventorySoho.xml"), resourceText("InventorySoho.xml"))
    Files.writeString(subB.resolve("InventoryBanks.xml"), resourceText("InventoryBanks.xml"))
    Files.writeString(subC.resolve("InventorySoho2.xml"), resourceText("InventorySoho.xml"))
    Files.writeString(root.resolve("_SUCCESS"), "") // marker files are skipped
    root
  }

  test("fragments match FragmentScanner run directly on each document") {
    val config = ExtractionConfig.fromXml(resourceText("ExtractInventory.xml"))
    val viaSource = read()
      .select("docId", "seq", "rule", "xml")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSet
    val direct = (for {
      name <- Seq("InventorySoho.xml", "InventoryBanks.xml")
      frag <- FragmentScanner.scan(resourceText(name), config.rules.toIndexedSeq)
    } yield (name, frag.seq, config.rules(frag.ruleIndex).element, frag.xml)).toSet
    assert(viaSource == direct)
    assert(viaSource.nonEmpty)
  }

  test("rule equality filter is pushed into the scan") {
    val df = read().where(col("rule") === "book")
    // handled by the scan: Spark does not evaluate it again above the scan
    val scan = df.queryExecution.sparkPlan.collectFirst { case s: RowDataSourceScanExec => s }
    assert(scan.exists(_.handledFilters.contains(EqualTo("rule", "book"))),
      df.queryExecution.sparkPlan)
    val rules = df.select("rule").distinct().collect().map(_.getString(0)).toSeq
    assert(rules == Seq("book"))
  }

  test("column pruning reaches the reader (count never materializes xml bodies)") {
    val config = ExtractionConfig.fromXml(resourceText("ExtractInventory.xml"))
    val expected = (for {
      name <- Seq("InventorySoho.xml", "InventoryBanks.xml")
      frag <- FragmentScanner.scan(resourceText(name), config.rules.toIndexedSeq)
      if config.rules(frag.ruleIndex).element == "book"
    } yield frag).size
    val counts = read().groupBy(col("rule")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("book") == expected)
    // the scan's readSchema drops pruned columns
    val scanLine = read().select("rule").queryExecution.executedPlan.toString
    assert(!scanLine.contains("xml#") || scanLine.contains("ReadSchema"), scanLine)
  }

  test("nested trees list recursively, globs expand, files never split") {
    val root = nested
    val all = readPath(root.toString)
    val docs = all.select("docId").distinct().collect().map(_.getString(0)).toSet
    assert(docs == Set("InventorySoho.xml", "InventoryBanks.xml", "InventorySoho2.xml"))
    // Spark's file-source split policy: the partitions of its own text reader
    // over the same path, and a file (a document) is never split
    val textPartitions = spark.read.option("wholetext", true)
      .option("recursiveFileLookup", true).text(root.toString).rdd.getNumPartitions
    assert(all.rdd.getNumPartitions == textPartitions)
    val partitionsPerDoc = all.select(col("docId"), spark_partition_id().as("p")).distinct()
      .groupBy("docId").count().collect().map(_.getLong(1))
    assert(partitionsPerDoc.length == 3 && partitionsPerDoc.forall(_ == 1))

    // glob limits to the matching subtree (a/* = the direct file + deep/, recursed)
    val globbed = readPath(s"$root/a/*")
    val globbedDocs = globbed.select("docId").distinct().collect().map(_.getString(0)).toSet
    assert(globbedDocs == Set("InventorySoho.xml", "InventoryBanks.xml"))
  }

  test("corpusFromXmlFiles over a nested tree extracts the rows of every document") {
    val config = ExtractionConfig.fromXml(resourceText("ExtractInventory.xml"))
    val expected = {
      import spark.implicits._
      XmlExtraction.run(Seq("InventorySoho.xml", "InventoryBanks.xml", "InventorySoho.xml")
        .map(n => (n, resourceText(n))).toDF("docId", "xml"), config)
    }.collect().map(_.getString(0)).sorted.toSeq
    val got = XmlExtraction.run(XmlExtraction.corpusFromXmlFiles(spark, nested.toString), config)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("a file name that needs escaping gets the same docId as corpusFromXmlFiles") {
    val d = Files.createTempDirectory("graft-dsv2-space")
    Files.writeString(d.resolve("a b.xml"), resourceText("InventorySoho.xml"))
    val viaCorpus = docIds(XmlExtraction.corpusFromXmlFiles(spark, d.toString))
    assert(docIds(readPath(d.toString)) == viaCorpus)
    assert(viaCorpus == Set("a%20b.xml")) // Spark URI-escapes input_file_name()
  }

  test("conflicting pushed rule equalities yield the empty intersection") {
    val df = read().where(col("rule") === "book" && col("rule") === "store")
    assert(df.count() == 0)
  }

  test("DSv2 fragments + tuple/window pipeline == fused extractRows") {
    val config = ExtractionConfig.fromXml(resourceText("ExtractInventory.xml"))
    val viaDsv2 = XmlExtraction.pivotRows(
      XmlExtraction.tuplesFromFragments(read(), config), config)
      .orderBy("docId", "seq").collect().map(_.toSeq).toSeq
    val fused = XmlExtraction.extractRows(
      XmlExtraction.corpusFromXmlFiles(spark, dir), config)
      .orderBy("docId", "seq").collect().map(_.toSeq).toSeq
    assert(viaDsv2 == fused)
    assert(viaDsv2.nonEmpty)
  }
}
