package graft.osm

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Record-aligned splits of changeset XML, plain and bz2: every split
  * reads exactly the rows of a one-partition read.
  */
class XmlSplitSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val format = ChangesetXmlSource.format(withDiscussion = true)
  private val toRow = CatalystTypeConverters.createToScalaConverter(format.schema)
  private lazy val conf = spark.sessionState.newHadoopConf()

  private lazy val dir = Files.createTempDirectory("xmlsplit")
  private lazy val xml = SplitChangesets.xml(seed = 8, changesets = 9000)
  private lazy val plain = write("c.osm", xml)
  private lazy val bz2 = write("c.osm.bz2", SplitChangesets.bz2(xml))
  private lazy val expected = counts(drainRange(OsmFileRange(plain, 0, xml.length)))

  private def write(name: String, bytes: Array[Byte], in: Path = dir): String =
    Files.write(in.resolve(name), bytes).toString

  private def counts(rows: Seq[Row]): Map[Row, Int] =
    rows.groupBy(identity).view.mapValues(_.size).toMap

  private def drain(reader: PartitionReader[InternalRow]): Seq[Row] = {
    val out = Seq.newBuilder[Row]
    try while (reader.next()) out += toRow(reader.get()).asInstanceOf[Row]
    finally reader.close()
    out.result()
  }

  private def drainRange(range: OsmFileRange): Seq[Row] =
    drain(format.reader(range, format.schema, Array.empty, conf))

  private def read(path: String, maxPartitionBytes: Long) =
    spark.read.format("osm-changesets").option("discussion", "true")
      .option("maxPartitionBytes", maxPartitionBytes.toString).load(path)

  /** The partitions an osm-changesets (or `provider`) table plans for `path`. */
  private def plan(path: String, options: (String, String)*): Array[InputPartition] =
    planWith(new ChangesetXmlSource, path, options: _*)

  private def planWith(provider: OsmSourceProvider, path: String,
      options: (String, String)*): Array[InputPartition] = {
    val props = Map("path" -> path).asJava
    val table = provider.getTable(provider.inferSchema(new CaseInsensitiveStringMap(props)),
      Array.empty, props).asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
    table.newScanBuilder(new CaseInsensitiveStringMap(options.toMap.asJava)).build()
      .toBatch.planInputPartitions()
  }

  /** ~20 log-uniform sizes between 1 byte and 256 KiB. */
  private def partitionSizes(seed: Long): Seq[Long] = {
    val rnd = new scala.util.Random(seed)
    1L +: (256L << 10) +: Seq.fill(18)(math.exp(rnd.nextDouble() * math.log(256 << 10)).toLong)
  }

  test("the test file is multi-MB and holds every hard case") {
    xml.length should be > (3 << 20)
    val s = new String(xml, UTF_8)
    Seq("<!-- old: <changeset", "<![CDATA[quoted <changeset", "<?note <changeset",
      "v=\"a > b -->", "<!-- note <changeset").foreach(s should include(_))
    expected.values.sum shouldBe 9000
    expected.keys.map(_.getAs[Long]("id")).min shouldBe 1L
  }

  test("splits at any byte read exactly the one-partition rows") {
    val s = new String(xml, UTF_8) // ASCII, so char and byte offsets agree
    def inside(marker: String, offset: Int): Seq[Int] = {
      val at = Iterator.iterate(s.indexOf(marker))(i => s.indexOf(marker, i + 1))
        .takeWhile(_ >= 0).toVector
      Seq(at(1), at(at.length / 2), at.last).map(_ + offset)
    }
    val hard = Map(
      "inside a tag" -> inside("<changeset id=", 4),
      "inside an attribute value" -> inside(" user=\"u", 9),
      "inside a comment holding <changeset" -> inside("<!-- old: <changeset", 6),
      "inside a comment in a changeset" -> inside("<!-- note <changeset", 6),
      "inside CDATA" -> inside("<![CDATA[quoted", 11),
      "inside a processing instruction" -> inside("<?note", 3),
      "inside a <text> body" -> inside("<text>", 7),
      "at a record start" -> inside("  <changeset id=", 2))
    val rnd = new scala.util.Random(3)
    val cuts = (hard.values.flatten ++ Seq.fill(40)(rnd.nextInt(xml.length)) ++
      Seq(1, xml.length - 1)).toSeq.distinct.sorted
    val bounds = 0L +: cuts.map(_.toLong) :+ xml.length.toLong
    val rows = bounds.sliding(2).flatMap { case Seq(a, b) => drainRange(OsmFileRange(plain, a, b)) }
    counts(rows.toSeq) shouldBe expected
  }

  test("random maxPartitionBytes: plain and bz2 reads give the one-partition rows") {
    for ((path, seed) <- Seq(plain -> 11L, bz2 -> 12L); size <- partitionSizes(seed)) {
      withClue(s"$path maxPartitionBytes=$size: ") {
        val parts = plan(path, "maxPartitionBytes" -> size.toString)
        parts.length should be > 1
        counts(read(path, size).collect().toSeq) shouldBe expected
      }
    }
  }

  test("a bz2 file splits on its blocks, which fall all over the records") {
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(bz2))
    val rnd = new scala.util.Random(5)
    val cuts = (Seq.fill(30)(1 + rnd.nextInt(bytes.length - 1)) :+ 4 :+ 5).distinct.sorted
    val bounds = 0L +: cuts.map(_.toLong) :+ bytes.length.toLong
    val rows = bounds.sliding(2).flatMap { case Seq(a, b) => drainRange(OsmFileRange(bz2, a, b)) }
    counts(rows.toSeq) shouldBe expected
  }

  test("gzip, OSC and non-UTF-8 files plan one partition each") {
    val gz = write("c.osm.gz", SplitChangesets.gzip(xml))
    plan(gz, "maxPartitionBytes" -> "1").length shouldBe 1
    counts(read(gz, 1).collect().toSeq) shouldBe expected
    val latin1 = write("latin1.osm", new String(xml, UTF_8)
      .replace("encoding=\"UTF-8\"", "encoding=\"ISO-8859-1\"").getBytes(UTF_8))
    plan(latin1, "maxPartitionBytes" -> "1").length shouldBe 1
    val osc = write("d.osc", ("<osmChange><create>" +
      "<node id=\"1\" lat=\"1\" lon=\"2\"/>" * 20000 + "</create></osmChange>").getBytes(UTF_8))
    planWith(new OsmChangeSource, osc, "maxPartitionBytes" -> "1").length shouldBe 1
  }

  test("a bench-sized changeset file plans balanced partitions, one per core") {
    val big = SplitChangesets.xml(seed = 9, changesets = 26000)
    big.length.toLong should (be > (9L << 20) and be < (12L << 20))
    val path = write("big.osm", big)
    val parts = plan(path).map(_.asInstanceOf[OsmFileRange])
    parts.length shouldBe spark.sparkContext.defaultParallelism
    parts.head.startOffset shouldBe 0L
    parts.last.endOffset shouldBe big.length.toLong
    parts.sliding(2).foreach { case Array(a, b) => b.startOffset shouldBe a.endOffset }
    val sizes = parts.map(p => p.endOffset - p.startOffset)
    (sizes.max - sizes.min) should be <= XmlSplit.ChunkBytes
  }

  test("split 0 still checks the real root") {
    val notOsm = new String(xml, UTF_8).replace("<osm version=", "<notosm version=")
      .replace("</osm>", "</notosm>")
    val path = write("notosm.osm", notOsm.getBytes(UTF_8))
    val ex = intercept[org.apache.spark.SparkException](read(path, 1).collect())
    ex.getMessage should include("does not appear to be an OSM changeset file")
    ex.getMessage should include(s"$path at line 2")
  }

  test("mutated inputs read exactly or fail naming the file, in bounded memory") {
    val base = SplitChangesets.xml(seed = 21, changesets = 1500)
    val rnd = new scala.util.Random(23)
    val fuzzDir = Files.createTempDirectory("xmlfuzz")
    def flip(b: Array[Byte], bits: Int): Array[Byte] = {
      val out = b.clone()
      for (_ <- 0 until bits) {
        val i = rnd.nextInt(out.length)
        out(i) = (out(i) ^ (1 << rnd.nextInt(8))).toByte
      }
      out
    }
    def attempt[A](f: => A): Either[Throwable, A] = try Right(f) catch { case e: Exception => Left(e) }
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    var exact, failed = 0
    val letters = ('a' to 'z') ++ ('A' to 'Z')
    for (i <- 0 until 120) {
      val mutated = rnd.nextInt(4) match {
        case 0 => base.take(rnd.nextInt(base.length))
        case 1 => flip(base, 1 + rnd.nextInt(6))
        case 2 =>
          val a = rnd.nextInt(base.length)
          base.take(a) ++ base.drop(a + 1 + rnd.nextInt(4096))
        case _ => // letters swapped for letters, digits for digits: mostly valid
          val out = base.clone()
          for (_ <- 0 until rnd.nextInt(20)) {
            val j = rnd.nextInt(out.length)
            val c = out(j).toChar
            if (c.isDigit) out(j) = ('0' + rnd.nextInt(10)).toByte
            else if (letters.contains(c)) out(j) = letters(rnd.nextInt(letters.length)).toByte
          }
          out
      }
      val bz = rnd.nextInt(3) == 0
      val bytes =
        if (!bz) mutated
        else if (rnd.nextBoolean()) SplitChangesets.bz2(mutated)
        else flip(SplitChangesets.bz2(base), 1 + rnd.nextInt(3))
      val path = write(s"f$i.osm" + (if (bz) ".bz2" else ""), bytes, fuzzDir)
      val size = 1 + rnd.nextInt(128 << 10)
      val whole = attempt(drainRange(OsmFileRange(path, 0, bytes.length)))
      var split: Either[Throwable, Seq[Row]] = null
      var allocated = 0L
      val t = new Thread(() => {
        val before = mx.getThreadAllocatedBytes(Thread.currentThread().getId)
        split = attempt(plan(path, "maxPartitionBytes" -> size.toString).toSeq
          .flatMap(p => drain(format.reader(p.asInstanceOf[OsmFileRange], format.schema,
            Array.empty, conf))))
        allocated = mx.getThreadAllocatedBytes(Thread.currentThread().getId) - before
      })
      t.start()
      t.join(120000)
      withClue(s"input $i ($path, ${bytes.length} bytes, maxPartitionBytes=$size): ") {
        t.isAlive shouldBe false
        split match {
          case Right(rows) =>
            whole.map(counts) shouldBe Right(counts(rows))
            exact += 1
          case Left(e: IllegalArgumentException) =>
            e.getMessage should include(path)
            failed += 1
          case Left(e) => throw e
        }
        allocated should be < (64L << 20)
      }
    }
    exact should be > 5
    failed should be > 20
  }

  test("an error in a later split names the file and the split's start") {
    val bad = new String(xml, UTF_8).replaceFirst("(?s)(.{2000000}.*?)<tag k=", "$1<tag k=k=")
    val path = write("bad.osm", bad.getBytes(UTF_8))
    val ex = intercept[IllegalArgumentException] {
      plan(path, "maxPartitionBytes" -> (1L << 20).toString).foreach { p =>
        drain(format.reader(p.asInstanceOf[OsmFileRange], format.schema, Array.empty, conf))
      }
    }
    ex.getMessage should include(path)
    ex.getMessage should fullyMatch regex
      "(?s)malformed OSM XML in .* at line \\d+ of the split starting at byte offset \\d+: .*"
    val start = "byte offset (\\d+):".r.findFirstMatchIn(ex.getMessage).get.group(1).toInt
    bad.substring(start).startsWith("<changeset") shouldBe true
  }
}
