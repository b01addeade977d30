package graft.bench

import java.io.{DataInputStream, FileInputStream, BufferedInputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.osm.{ChangesetXml, OrcMetadata, OrcSink}
import graft.osm.pbf.{OsmPbfScanBuilder, OsmPbfSource, PbfDecode}

/** `ingest`: the paper's core path. A seeded planet PBF becomes the
  * planet ORC table and a seeded changeset XML file the changesets ORC
  * table, with the same calls `graft.osm.Main` makes (including the
  * `pbfBounds` footer stamp). One pass = the two conversions.
  */
final class IngestWorkload(ctx: Ctx) extends Workload {
  import ctx._

  val shape: OsmGen.PlanetShape = OsmGen.PlanetShape.of(if (tiny) 24000 else 200000)
  val changesets: Int = if (tiny) 2000 else 30000

  private var pbf, xml = ""
  private var planetStats = Map.empty[String, TypeStats]
  private var csStats = OsmGen.ChangesetStats()
  private var blobs = 0L
  private val planetOut = dir("planet.orc")
  private val csOut = dir("changesets.orc")

  def prepare(rep: Int): Unit = {
    Seq(pbf, xml).filter(_.nonEmpty).foreach(p => Files.deleteIfExists(Paths.get(p)))
    pbf = dir(s"planet-$rep.osm.pbf")
    xml = dir(s"changesets-$rep.osm")
    val (st, b) = OsmGen.writePlanet(pbf, seed, shape)
    planetStats = st
    blobs = b
    csStats = OsmGen.writeChangesets(xml, seed, changesets)
  }

  private def pbfBytes: Long = Files.size(Paths.get(pbf))

  // Reference answers from the program's own PBF and XML readers, made
  // once (in the warm-up pass) and compared with every converted table.
  private lazy val pbfHash = Checks.planetHash(OsmPbfSource.read(spark, pbf))
  private lazy val csHash = Checks.changesetsHash(ChangesetXml.read(spark, xml))

  /** The bbox string the sink must stamp: the generator's header bbox. */
  private val expectedBounds: String = {
    def deg(n: Long) = java.math.BigDecimal.valueOf(n, 9).stripTrailingZeros.toPlainString
    val (left, right, top, bottom) = OsmGen.Bbox
    s"${deg(left)},${deg(bottom)},${deg(right)},${deg(top)}"
  }

  private def orcFiles(out: String): Seq[Path] =
    Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".orc")).map(p => new Path(p.toString)).toSeq

  private def orcBytes(out: String): Long =
    orcFiles(out).map(p => Files.size(Paths.get(p.toString))).sum

  private def checkPlanet(): Option[String] = {
    val df = planted(spark.read.orc(planetOut))
    val fp = Checks.planetFingerprint(df)
    lazy val sidecar = new String(Files.readAllBytes(
      Paths.get(planetOut, "_graft_metadata.json")), UTF_8)
    val conf = spark.sessionState.newHadoopConf()
    val footers = orcFiles(planetOut).map(OrcMetadata.readValue(_, conf, "bounds"))
    if (fp != planetStats) Some(s"planet fingerprint $fp != generator's $planetStats")
    else if (Checks.planetHash(df) != pbfHash) Some("planet ORC content differs from the PBF read")
    else if (!sidecar.contains(s""""bounds": "$expectedBounds"""")) Some(s"sidecar lacks bounds: $sidecar")
    else if (footers.isEmpty || footers.exists(_ != Some(expectedBounds)))
      Some(s"footer bounds $footers != $expectedBounds")
    else None
  }

  private def checkChangesets(): Option[String] = {
    val df = planted(spark.read.orc(csOut))
    val fp = Checks.changesetFingerprint(df)
    if (fp != csStats) Some(s"changesets fingerprint $fp != generator's $csStats")
    else if (Checks.changesetsHash(df) != csHash) Some("changesets ORC content differs from the XML read")
    else None
  }

  val ops: Seq[Op] = Seq(
    Op("planet", () => {
      tracer.span("orc.writePlanet") {
        OrcSink.writePlanet(OsmPbfSource.read(spark, pbf), planetOut,
          bounds = tracer.span("orc.pbfBounds")(OrcSink.pbfBounds(spark, pbf)))
      }
      () => checkPlanet()
    }),
    Op("changesets", () => {
      tracer.span("orc.writeChangesets") {
        OrcSink.writeChangesets(ChangesetXml.read(spark, xml), csOut)
      }
      () => checkChangesets()
    }))

  def stamp: Seq[(String, String)] = Seq(
    "pbf_bytes" -> pbfBytes.toString, "entities" -> shape.entities.toString,
    "nodes" -> shape.nodes.toString, "ways" -> shape.ways.toString,
    "relations" -> shape.relations.toString, "blobs" -> blobs.toString,
    "changesets" -> changesets.toString, "changeset_xml_bytes" -> Files.size(Paths.get(xml)).toString)

  override def metrics(execs: Seq[Exec]): Seq[Metric] = {
    val planetS = Main.median(execs.filter(_.op == "planet").map(_.seconds))
    val csS = Main.median(execs.filter(_.op == "changesets").map(_.seconds))
    Seq(
      Metric("ingest_mb_per_s", pbfBytes / 1e6 / planetS, "MB/s"),
      Metric("ingest_entities_per_s", shape.entities / planetS, "1/s"),
      Metric("changesets_per_s", changesets / csS, "1/s"),
      Metric("orc_bytes_per_entity", orcBytes(planetOut).toDouble / shape.entities, "bytes"))
  }

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def noopScan(df: org.apache.spark.sql.DataFrame): Double =
    time(df.write.format("noop").mode("overwrite").save())._2

  /** Single-layer measurements on the same inputs: the PBF stages one
    * thread at a time, the DSv2 reader drained in one thread, and the
    * read-only (noop) scans that the write times are compared against.
    */
  override def probe(): Seq[Metric] = {
    // framing: the 4-byte prefixes and BlobHeaders only
    val (spans, frameS) = time {
      val in = new DataInputStream(new BufferedInputStream(new FileInputStream(pbf)))
      try PbfDecode.scanBlobSpans(in, n => in.skipNBytes(n)) finally in.close()
    }
    val raf = new java.io.RandomAccessFile(pbf, "r")
    val blobsRaw = try spans.filter(_.blobType == "OSMData").map { s =>
      val b = new Array[Byte](s.dataSize); raf.seek(s.dataStart); raf.readFully(b); b
    } finally raf.close()
    val (inflated, inflateS) = time(blobsRaw.map(PbfDecode.decompressBlob))
    val (entities, decodeS) = time(inflated.map(b => PbfDecode.decodePrimitiveBlock(b).size.toLong).sum)

    val scan = new OsmPbfScanBuilder(Seq(pbf), CaseInsensitiveStringMap.empty()).build()
    val (parts, planS) = time(scan.toBatch.planInputPartitions())
    val factory = scan.toBatch.createReaderFactory()
    val (rows, readerS) = time(parts.map { p =>
      val r = factory.createReader(p)
      var n = 0L
      try while (r.next()) { r.get(); n += 1 } finally r.close()
      n
    }.sum)

    val planetScanS = Main.median((1 to 3).map(_ => noopScan(OsmPbfSource.read(spark, pbf))))
    val planetWriteS = Main.median((1 to 3).map(_ => time(OrcSink.writePlanet(
      OsmPbfSource.read(spark, pbf), planetOut, bounds = OrcSink.pbfBounds(spark, pbf)))._2))
    val xmlScanS = Main.median((1 to 3).map(_ => noopScan(ChangesetXml.read(spark, xml))))
    val mb = pbfBytes / 1e6
    require(rows == entities && entities == shape.entities,
      s"probe drained $rows rows, decoded $entities entities, generated ${shape.entities}")
    Seq(
      Metric("pbf.plan_s", planS, "s"),
      Metric("pbf.partitions", parts.length.toDouble, "count"),
      Metric("pbf.frame_s", frameS, "s"),
      Metric("pbf.blobs", blobsRaw.size.toDouble, "count"),
      Metric("pbf.inflate_s", inflateS, "s"),
      Metric("pbf.bytes_inflated", inflated.map(_.length.toLong).sum.toDouble, "bytes"),
      Metric("pbf.decode_s", decodeS, "s"),
      Metric("pbf.entities", entities.toDouble, "count"),
      Metric("pbf.rowbuild_s", math.max(0.0, readerS - frameS - inflateS - decodeS), "s"),
      Metric("pbf.reader_1t_s", readerS, "s"),
      Metric("pbf.reader_1t_mb_per_s", mb / readerS, "MB/s"),
      Metric("pbf.reader_1t_entities_per_s", rows / readerS, "1/s"),
      Metric("pbf.scan_s", planetScanS, "s"),
      Metric("orc.write_s", planetWriteS - planetScanS, "s"),
      Metric("orc.bytes", orcBytes(planetOut).toDouble, "bytes"),
      Metric("xml.changesets_parse_s", xmlScanS, "s"))
  }
}
