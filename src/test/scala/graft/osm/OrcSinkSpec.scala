package graft.osm

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array_sort, col, map_entries}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.osm.pbf.OsmPbfSource

class OrcSinkSpec extends AnyFunSuite with Matchers with SparkSpec {

  test("planet PBF → ORC → re-read round-trip with sidecar metadata") {
    val pbf = PbfTestData.writeSample(Files.createTempDirectory("pbf"))
    val out = Files.createTempDirectory("orc").resolve("planet.orc").toString
    val df = spark.read.format("osm-pbf").load(pbf)
    OrcSink.writePlanet(df, out, bounds = OrcSink.pbfBounds(spark, pbf))

    val back = spark.read.orc(out)
    back.schema shouldBe OsmSchemas.Planet
    back.count() shouldBe 7
    // spot-check nested data survives ORC
    val way = back.filter("type = 'way'").head()
    way.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("nds").map(_.getLong(0)) shouldBe Seq(1L, 2L, 3L)

    val sidecar = new String(Files.readAllBytes(
      java.nio.file.Paths.get(out, "_graft_metadata.json")), "UTF-8")
    sidecar should include(""""osm.schema.version": "0.6"""")
    sidecar should include(""""bounds": "-0.4,51,0.6,52"""")

    // footer parity (OsmPbf2Orc.java:90,122-125): every part file carries
    // the keys in its ORC footer, readable through orc-core itself
    val parts = orcParts(out)
    parts should not be empty
    footersCarry(parts, "-0.4,51,0.6,52")
  }

  private def orcParts(out: String): Seq[Path] = {
    val dir = new Path(out)
    dir.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".orc")).map(_.getPath)
  }

  private def footersCarry(parts: Seq[Path], bounds: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    parts.foreach { p =>
      OrcMetadata.readValue(p, conf, "osm.schema.version") shouldBe Some("0.6")
      OrcMetadata.readValue(p, conf, "bounds") shouldBe Some(bounds)
    }
  }

  test("a multi-partition PBF read writes one footer-stamped part file per partition") {
    val pbf = SplitPbf.write(Files.createTempDirectory("pbf-split"))
    val out = Files.createTempDirectory("orc-split").resolve("planet.orc").toString
    val src = OsmPbfSource.read(spark, pbf)
    val bounds = "-180,-90,180,90"
    OrcSink.writePlanet(src, out, bounds = Some(bounds))

    val parts = orcParts(out)
    parts.length should be > 1
    parts.length shouldBe src.rdd.getNumPartitions
    footersCarry(parts, bounds)
    new String(Files.readAllBytes(Paths.get(out, "_graft_metadata.json")), "UTF-8") should
      include(s""""bounds": "$bounds"""")
    // the source's rows in any order; tags compared as sorted entries
    def rows(df: DataFrame): Seq[String] =
      df.withColumn("tags", array_sort(map_entries(col("tags")))).collect()
        .map(_.toString).toSeq.sorted
    rows(spark.read.orc(out)) shouldBe rows(src)
  }

  test("a write leaves only part files, _SUCCESS and the sidecar, none rewritten after commit") {
    val pbf = SplitPbf.write(Files.createTempDirectory("pbf-stray"))
    val out = Files.createTempDirectory("orc-stray").resolve("planet.orc")
    OrcSink.writePlanet(OsmPbfSource.read(spark, pbf), out.toString, bounds = Some("0,0,1,1"))
    // Hadoop's local file system keeps a hidden .crc checksum beside each file
    val names = Files.list(out).iterator().asScala.map(_.getFileName.toString)
      .filterNot(n => n.startsWith(".") && n.endsWith(".crc")).toSeq
    val parts = names.filter(_.startsWith("part-"))
    parts.length should be > 1
    all(parts) should fullyMatch regex """part-\d{5}-.*\.orc"""
    names.toSet -- parts shouldBe Set("_SUCCESS", "_graft_metadata.json")
    // a part file rewritten or replaced after the commit would be newer
    // than the _SUCCESS marker the commit writes last
    val committed = Files.getLastModifiedTime(out.resolve("_SUCCESS"))
    parts.foreach(p => Files.getLastModifiedTime(out.resolve(p)).compareTo(committed) should be <= 0)
  }

  test("query workload answers identically on converted ORC and direct PBF") {
    // the core user journey: convert once, query the ORC table — every
    // analytic must give the answer the source gives (ORC round-trip
    // relaxes nullability flags; semantics must not move)
    val pbf = PbfTestData.writeSample(Files.createTempDirectory("pbf-q"))
    val out = Files.createTempDirectory("orc-q").resolve("planet.orc").toString
    val src = spark.read.format("osm-pbf").load(pbf)
    OrcSink.writePlanet(src, out, bounds = OrcSink.pbfBounds(spark, pbf))
    val orc = spark.read.orc(out)

    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    rows(OsmQueries.latestVersions(orc)
        .orderBy("type", "id")) shouldBe
      rows(OsmQueries.latestVersions(src).orderBy("type", "id"))
    rows(OsmQueries.reassembleWays(orc).orderBy("way_id")) shouldBe
      rows(OsmQueries.reassembleWays(src).orderBy("way_id"))
    rows(OsmQueries.tagUsageByMonth(orc, "highway")) shouldBe
      rows(OsmQueries.tagUsageByMonth(src, "highway"))
  }

  test("changesets XML → ORC round-trip") {
    val dir = Files.createTempDirectory("cs")
    val f = dir.resolve("c.osm")
    Files.write(f,
      """<osm><changeset id="9" open="true" comments_count="0" num_changes="1"/></osm>"""
        .getBytes("UTF-8"))
    val out = dir.resolve("changesets.orc").toString
    OrcSink.writeChangesets(ChangesetXml.read(spark, f.toString), out)
    val back = spark.read.orc(out)
    back.schema shouldBe OsmSchemas.Changesets
    back.head().getAs[Long]("id") shouldBe 9L
  }
}
