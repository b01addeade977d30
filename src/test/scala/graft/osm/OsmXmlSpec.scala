package graft.osm

import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** "osm-xml" planet/history XML source (osmosis `--read-xml` input):
  * entities directly under `<osm>`, rows in the 13-column planet
  * schema.
  */
class OsmXmlSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val xml =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<osm version="0.6" generator="test">
      |  <bounds minlat="51" minlon="-0.4" maxlat="52" maxlon="0.6"/>
      |  <node id="1" lat="51.5" lon="-0.1" version="2" changeset="10"
      |        timestamp="2024-01-01T00:00:00Z" uid="7" user="alice">
      |    <tag k="amenity" v="cafe"/>
      |  </node>
      |  <node id="9" lat="51.9" lon="0.2" version="3" changeset="12"
      |        timestamp="2024-01-01T02:00:00Z" visible="false"/>
      |  <way id="2" version="1" changeset="10" timestamp="2024-01-01T00:00:01Z">
      |    <nd ref="1"/><nd ref="3"/>
      |    <tag k="highway" v="residential"/>
      |  </way>
      |  <relation id="4" version="2" changeset="11" timestamp="2024-01-01T01:00:00Z">
      |    <member type="way" ref="2" role="outer"/>
      |    <member type="node" ref="1" role=""/>
      |    <tag k="type" v="multipolygon"/>
      |  </relation>
      |</osm>""".stripMargin

  private def write(name: String, gz: Boolean, content: String = xml): String = {
    val dir = Files.createTempDirectory("osmxml")
    val f = dir.resolve(name)
    if (gz) {
      val out = new GZIPOutputStream(Files.newOutputStream(f))
      out.write(content.getBytes("UTF-8")); out.close()
    } else Files.write(f, content.getBytes("UTF-8"))
    f.toString
  }

  test("schema is the 13-column planet schema (no op column)") {
    val df = OsmXml.read(spark, write("p.osm", gz = false))
    df.schema shouldBe OsmSchemas.Planet
    df.columns should not contain "op"
  }

  test("entities parse with full fidelity; visible defaults true") {
    val df = OsmXml.read(spark, write("p.osm", gz = false)).cache()
    df.count() shouldBe 4

    val n1 = df.filter(col("id") === 1 && col("type") === "node").head()
    n1.getAs[Map[String, String]]("tags") shouldBe Map("amenity" -> "cafe")
    n1.getAs[java.math.BigDecimal]("lat").doubleValue() shouldBe 51.5
    n1.getAs[Boolean]("visible") shouldBe true
    n1.getAs[Long]("version") shouldBe 2L
    n1.getAs[String]("user") shouldBe "alice"

    // history convention: explicit visible="false" survives
    df.filter(col("id") === 9).head().getAs[Boolean]("visible") shouldBe false

    val w = df.filter(col("type") === "way").head()
    w.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("nds")
      .map(_.getLong(0)) shouldBe Seq(1L, 3L)

    val r = df.filter(col("type") === "relation").head()
    r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("members")
      .map(m => (m.getString(0), m.getLong(1), m.getString(2))) shouldBe
      Seq(("way", 2L, "outer"), ("node", 1L, ""))
    df.unpersist()
  }

  test("gzip decompresses; directories take *.osm* only") {
    val f = write("p.osm.gz", gz = true)
    OsmXml.read(spark, f).count() shouldBe 4
    val dir = java.nio.file.Paths.get(f).getParent
    Files.write(dir.resolve("noise.txt"), "ignore me".getBytes("UTF-8"))
    OsmXml.read(spark, dir.toString).count() shouldBe 4
  }

  test("column pruning reaches the scan") {
    val df = OsmXml.read(spark, write("p.osm", gz = false)).select("id", "type")
    val scan = df.queryExecution.executedPlan.toString
    scan should include("OsmXmlScan")
    df.collect().length shouldBe 4
  }

  test("osmChange root is rejected (wrong format hint)") {
    val f = write("bad.osm", gz = false,
      content = "<osmChange><create><node id=\"1\"/></create></osmChange>")
    val e = intercept[SparkException] { OsmXml.read(spark, f).count() }
    e.getMessage should include("does not appear to be an osm")
    e.getMessage should include(s"$f at line 1")
  }

  test("xml convert path lands the planet ORC table (the --xml CLI branch)") {
    // the CLI's --xml branch verbatim (Main.main stops the shared
    // session, so the composition is exercised directly)
    val src = write("p.osm", gz = false)
    val out = Files.createTempDirectory("osmxml-orc").resolve("planet.orc").toString
    OrcSink.writePlanet(OsmXml.read(spark, src), out,
      bounds = OsmXml.bounds(spark, src))
    val back = spark.read.orc(out)
    back.schema shouldBe OsmSchemas.Planet
    back.count() shouldBe 4
    // XML- and PBF-sourced tables carry the SAME sidecar bounds format
    val sidecar = new String(Files.readAllBytes(
      java.nio.file.Paths.get(out, "_graft_metadata.json")), "UTF-8")
    sidecar should include(""""bounds": "-0.4,51,0.6,52"""")
  }

  test("a changeset dump misrouted to the planet parser fails loudly") {
    // changesets-latest.osm.bz2-style files share the <osm> root; the
    // old silent path would "succeed" with a 0-row planet table
    val f = write("changesets-latest.osm", gz = false,
      content = """<osm><changeset id="42" open="false"/></osm>""")
    val e = intercept[SparkException] { OsmXml.read(spark, f).count() }
    e.getMessage should include("changeset dump")
    e.getMessage should include(s"$f at line 1")
  }

  test("same entities through osm-xml equal osm-osc rows minus op") {
    // the .osc create-block twin of the planet file above (delete-block
    // node 9 mirrors visible=false)
    val osc =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<osmChange version="0.6" generator="test">
        |  <create>
        |    <node id="1" lat="51.5" lon="-0.1" version="2" changeset="10"
        |          timestamp="2024-01-01T00:00:00Z" uid="7" user="alice">
        |      <tag k="amenity" v="cafe"/>
        |    </node>
        |    <way id="2" version="1" changeset="10" timestamp="2024-01-01T00:00:01Z">
        |      <nd ref="1"/><nd ref="3"/>
        |      <tag k="highway" v="residential"/>
        |    </way>
        |    <relation id="4" version="2" changeset="11" timestamp="2024-01-01T01:00:00Z">
        |      <member type="way" ref="2" role="outer"/>
        |      <member type="node" ref="1" role=""/>
        |      <tag k="type" v="multipolygon"/>
        |    </relation>
        |  </create>
        |  <delete>
        |    <node id="9" lat="51.9" lon="0.2" version="3" changeset="12"
        |          timestamp="2024-01-01T02:00:00Z"/>
        |  </delete>
        |</osmChange>""".stripMargin
    val oscDir = Files.createTempDirectory("osmxml-osc")
    val oscF = oscDir.resolve("t.osc")
    Files.write(oscF, osc.getBytes("UTF-8"))

    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.withColumn("tags_s", to_json(col("tags"))).drop("tags")
        .orderBy("type", "id").collect().map(_.toString).toSeq
    canon(OsmXml.read(spark, write("p.osm", gz = false))) shouldBe
      canon(OsmChange.read(spark, oscF.toString).drop("op"))
  }
}
