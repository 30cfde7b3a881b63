package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.util.hashing.MurmurHash3

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.io.{SequenceFile, Text}

/** Order-free digest of a multiset of text lines: line count plus the sum of
 * two independent 32-bit hashes per line. Equal multisets give equal digests
 * whatever the line order or partitioning of the output. */
final case class LineDigest(lines: Long, hashA: Long, hashB: Long) {
  def +(line: String): LineDigest = LineDigest(lines + 1,
    hashA + (MurmurHash3.stringHash(line, 0x5eed) & 0xffffffffL),
    hashB + (MurmurHash3.stringHash(line, 0x0b5e) & 0xffffffffL))
}

object LineDigest {
  val empty: LineDigest = LineDigest(0, 0, 0)

  /** Digest of every line of every `part-*` file under a Spark text output dir. */
  def ofTextOutput(dir: Path): (LineDigest, Long) = {
    var d = empty
    var bytes = 0L
    Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-")).foreach { p =>
        bytes += Files.size(p)
        Files.readAllLines(p, StandardCharsets.UTF_8).forEach(l => d = d + l)
      }
    (d, bytes)
  }
}

/**
 * Seeded store/inventory/book corpus (the shape of the reference test data).
 *
 * The documents are rendered from a small relational model (store, inventory,
 * book), and the expected delimited lines of both extraction configs are
 * computed from that model, not from the engine: one line per book for
 * ExtractInventory, one line per `bk106` book of the first [[HeadDocs]]
 * documents for ExtractBook.
 */
object Corpus {
  /** Documents the DSv2 select path reads, and the glob that selects them. */
  val HeadDocs = 100
  val HeadGlob = "store0000??.xml"

  private val Months: Array[String] = Array("January", "February", "March", "April", "May",
    "June", "July", "August", "September", "October", "November", "December")
  private val Words = ("xml developer guide midnight rain maeve ascendant oberon legacy " +
    "visual studio microsoft computer fantasy romance horror science fiction " +
    "architect battles corporate zombies sorceress childhood queen world").split(' ')

  /** The generated corpus on disk. */
  final case class Generated(xmlDir: Path, seqDir: Path, bytes: Long, docs: Int,
                             inventory: LineDigest, bookHead: LineDigest)

  // Fixed document shape: the seed changes content, not corpus size, so
  // runs with different seeds do the same amount of work.
  private val InventoriesPerDoc = 2
  private val BooksPerInventory = 20

  /** The `bk106` filter of ExtractBook.xml is a raw substring test over the
   * start tag, and ids are `bk100`..`bk199`, so it admits exactly id bk106. */
  private val BookFilter = "bk106"

  def generate(seed: Long, dir: Path, docs: Int, seqParts: Int): Generated = {
    val rng = new java.util.Random(seed)
    val xmlDir = Files.createDirectories(dir.resolve("xml"))
    val seqDir = Files.createDirectories(dir.resolve("seq"))
    val conf = new Configuration()
    val writers = (0 until seqParts).map { i =>
      SequenceFile.createWriter(conf,
        SequenceFile.Writer.file(new HPath(seqDir.resolve(f"part-$i%05d").toUri)),
        SequenceFile.Writer.keyClass(classOf[Text]),
        SequenceFile.Writer.valueClass(classOf[Text]))
    }
    var inventory = LineDigest.empty
    var bookHead = LineDigest.empty
    var bytes = 0L
    try {
      for (d <- 0 until docs) {
        val name = s"Store$d-${rng.nextInt(1000)}"
        val phone = 10000000 + rng.nextInt(90000000)
        val sb = new StringBuilder("<?xml version=\"1.0\"?>\n")
        sb.append(s"""<store name="$name">\n""")
        sb.append(s"  <address>\n    <street>Street ${rng.nextInt(500)}</street>\n" +
          s"    <nr>${rng.nextInt(200)}</nr>\n    <city>City ${rng.nextInt(97)}</city>\n" +
          s"    <phone>$phone</phone>\n  </address>\n")
        for (_ <- 0 until InventoriesPerDoc) {
          val month = Months(rng.nextInt(12))
          val day = 1 + rng.nextInt(28)
          sb.append(s"""  <inventory month="$month" day="$day">\n    <books>\n""")
          for (_ <- 0 until BooksPerInventory) {
            val id = s"bk${100 + rng.nextInt(100)}"
            val inStock = rng.nextInt(50)
            sb.append(s"""      <book id="$id" inStock="$inStock">\n""")
            sb.append(s"        <author>Author ${rng.nextInt(300)}</author>\n")
            sb.append(s"        <title>${phrase(rng, 2 + rng.nextInt(4))}</title>\n")
            sb.append(s"        <genre>${Words(rng.nextInt(Words.length))}</genre>\n")
            sb.append(s"        <price>${rng.nextInt(60)}.95</price>\n")
            sb.append(s"        <publish_date>20${10 + rng.nextInt(15)}-0${1 + rng.nextInt(9)}-1${rng.nextInt(10)}</publish_date>\n")
            sb.append(s"        <description>${phrase(rng, 10 + rng.nextInt(60))}</description>\n")
            sb.append("      </book>\n")
            val line = s"$name;$phone;$month;$day;$id;$inStock;"
            inventory += line
            if (d < HeadDocs && id.contains(BookFilter)) bookHead += line
          }
          sb.append("    </books>\n  </inventory>\n")
        }
        sb.append("</store>\n")
        val xml = sb.toString
        val raw = xml.getBytes(StandardCharsets.UTF_8)
        bytes += raw.length
        val docId = f"store$d%06d.xml"
        Files.write(xmlDir.resolve(docId), raw)
        writers(d % seqParts).append(new Text(docId), new Text(xml))
      }
    } finally writers.foreach(_.close())
    Generated(xmlDir, seqDir, bytes, docs, inventory, bookHead)
  }

  private def phrase(rng: java.util.Random, n: Int): String =
    Iterator.fill(n)(Words(rng.nextInt(Words.length))).mkString(" ")
}
