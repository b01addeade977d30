package graft.osm

import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

class OsmChangeSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val osc =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<osmChange version="0.6" generator="test">
      |  <create>
      |    <node id="1" lat="51.5" lon="-0.1" version="1" changeset="10"
      |          timestamp="2024-01-01T00:00:00Z" uid="7" user="alice">
      |      <tag k="amenity" v="cafe"/>
      |    </node>
      |    <way id="2" version="1" changeset="10" timestamp="2024-01-01T00:00:01Z">
      |      <nd ref="1"/><nd ref="3"/>
      |      <tag k="highway" v="residential"/>
      |    </way>
      |  </create>
      |  <modify>
      |    <relation id="4" version="2" changeset="11" timestamp="2024-01-01T01:00:00Z">
      |      <member type="way" ref="2" role="outer"/>
      |      <member type="node" ref="1" role=""/>
      |      <tag k="type" v="multipolygon"/>
      |    </relation>
      |  </modify>
      |  <delete>
      |    <node id="9" version="3" changeset="12" timestamp="2024-01-01T02:00:00Z"/>
      |  </delete>
      |</osmChange>""".stripMargin

  private def writeOsc(name: String, gz: Boolean, content: String = osc): String = {
    val dir = Files.createTempDirectory("osc")
    val f = dir.resolve(name)
    if (gz) {
      val os = new GZIPOutputStream(Files.newOutputStream(f))
      os.write(content.getBytes("UTF-8")); os.close()
    } else Files.write(f, content.getBytes("UTF-8"))
    f.toString
  }

  test("schema is op + the planet columns") {
    val df = OsmChange.read(spark, writeOsc("d.osc", gz = false))
    df.schema.fields.map(_.name).toSeq shouldBe
      "op" +: OsmSchemas.Planet.fields.map(_.name).toSeq
  }

  test("create/modify/delete entities parse with full fidelity") {
    val rows = OsmChange.read(spark, writeOsc("d.osc", gz = false))
      .orderBy("id").collect()
    rows.length shouldBe 4

    val n1 = rows(0)
    n1.getAs[String]("op") shouldBe "create"
    n1.getAs[String]("type") shouldBe "node"
    n1.getAs[java.math.BigDecimal]("lat") shouldBe new java.math.BigDecimal("51.5000000")
    n1.getAs[Map[String, String]]("tags") shouldBe Map("amenity" -> "cafe")
    n1.getAs[Boolean]("visible") shouldBe true
    n1.getAs[String]("user") shouldBe "alice"

    val w2 = rows(1)
    w2.getAs[String]("type") shouldBe "way"
    w2.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("nds")
      .map(_.getLong(0)) shouldBe Seq(1L, 3L)
    w2.isNullAt(w2.fieldIndex("lat")) shouldBe true

    val r4 = rows(2)
    r4.getAs[String]("op") shouldBe "modify"
    r4.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("members")
      .map(m => (m.getString(0), m.getLong(1), m.getString(2))) shouldBe
      Seq(("way", 2L, "outer"), ("node", 1L, ""))

    val d9 = rows(3)
    d9.getAs[String]("op") shouldBe "delete"
    d9.getAs[Boolean]("visible") shouldBe false // osmosis delete convention
    d9.isNullAt(d9.fieldIndex("lat")) shouldBe true
  }

  test("gzip diffs decompress transparently; directories take *.osc only") {
    val f = writeOsc("d.osc.gz", gz = true)
    OsmChange.read(spark, f).count() shouldBe 4
    val dir = Files.createTempDirectory("oscdir")
    Files.write(dir.resolve("a.osc"), osc.getBytes("UTF-8"))
    Files.write(dir.resolve("_SUCCESS"), Array.empty[Byte])
    Files.write(dir.resolve("README.txt"), "junk".getBytes("UTF-8"))
    OsmChange.read(spark, dir.toString).count() shouldBe 4
  }

  test("multi-path read survives a comma inside a path") {
    // Seq form travels through Spark's JSON-array `paths` option —
    // a comma-bearing directory name must not be split into two
    // nonexistent paths (advisor round-3 low finding)
    val dir = Files.createTempDirectory("osc-comma").resolve("a,b")
    Files.createDirectories(dir)
    val f = dir.resolve("one.osc")
    Files.write(f, osc.getBytes("UTF-8"))
    val df = OsmChange.read(spark, Seq(f.toString))
    df.count() shouldBe 4
    // and two distinct paths in one read union correctly
    val f2 = dir.resolve("two.osc")
    Files.write(f2, osc.getBytes("UTF-8"))
    OsmChange.read(spark, Seq(f.toString, f2.toString)).count() shouldBe 8
  }

  test("non-osmChange root is rejected") {
    val f = writeOsc("bad.osc", gz = false,
      content = "<osm><node id=\"1\"/></osm>")
    val ex = intercept[SparkException] {
      OsmChange.read(spark, f).collect()
    }
    ex.getMessage should include("does not appear to be an osmChange file")
  }

  test("malformed timestamps and markup fail naming the file and line") {
    for ((content, line) <- Seq(
        "<osmChange>\n<create>\n<node id=\"1\" timestamp=\"2024-13-45\"/>\n</create>\n</osmChange>" -> 3,
        "<osmChange>\n<create>\n<node id=\"1\">\n</create>\n</osmChange>" -> 4,
        "" -> 1)) {
      val f = writeOsc("bad.osc", gz = false, content = content)
      val ex = intercept[SparkException] { OsmChange.read(spark, f).collect() }
      withClue(content) {
        ex.getMessage should include("IllegalArgumentException")
        ex.getMessage should include(s"$f at line $line")
      }
    }
  }

  test("nested-field selection inside members survives nested-schema pruning") {
    // Spark's nested pruning (on by default) hands the scan a schema
    // with struct fields pruned inside the array; the source must keep
    // emitting full structs (top-level pruning only) or ordinals crash
    val refs = OsmChange.read(spark, writeOsc("d.osc", gz = false))
      .select(explode(col("members")).as("m"))
      .select(col("m.ref"))
      .collect().map(_.getLong(0)).sorted
    refs shouldBe Array(1L, 2L)
  }

  test("nested replication layout (AAA/BBB/CCC.osc.gz) is read recursively") {
    val root = Files.createTempDirectory("oscrep")
    val sub = root.resolve("000").resolve("001")
    Files.createDirectories(sub)
    val os = new GZIPOutputStream(Files.newOutputStream(sub.resolve("002.osc.gz")))
    os.write(osc.getBytes("UTF-8")); os.close()
    Files.write(root.resolve("state.txt"), "seq=2".getBytes("UTF-8"))
    OsmChange.read(spark, root.toString).count() shouldBe 4
  }

  test("column pruning reaches the scan") {
    val df = OsmChange.read(spark, writeOsc("d.osc", gz = false))
      .select("op", "id")
    df.queryExecution.executedPlan.toString should include("OsmChangeScan")
    df.collect().map(r => (r.getString(0), r.getLong(1))).sorted shouldBe
      Array(("create", 1L), ("create", 2L), ("delete", 9L), ("modify", 4L))
  }

  test("applyDiff: diff rows supersede base versions, deletes survive as invisible") {
    import spark.implicits._
    // base planet: node 1 v0 (older), node 9 v2 visible
    val base = OsmChange.read(spark, writeOsc("d.osc", gz = false))
      .drop("op")
      .where(lit(false)) // empty frame with the planet schema
      .unionByName(Seq(
        (1L, "node", Map("old" -> "tag"), null, null, 0L),
        (9L, "node", Map.empty[String, String], null, null, 2L))
        .toDF("id", "type", "tags", "latX", "lonX", "version")
        .select($"id", $"type", $"tags",
          lit(null).cast(OsmSchemas.LatType).as("lat"),
          lit(null).cast(OsmSchemas.LonType).as("lon"),
          lit(null).cast("array<struct<ref:bigint>>").as("nds"),
          lit(null).cast("array<struct<type:string,ref:bigint,role:string>>").as("members"),
          lit(0L).as("changeset"), lit(null).cast("timestamp").as("timestamp"),
          lit(null).cast("bigint").as("uid"), lit(null).cast("string").as("user"),
          $"version", lit(true).as("visible")))
    val diff = OsmChange.read(spark, writeOsc("d.osc", gz = false))
    val applied = OsmChange.applyDiff(base, diff).cache()

    applied.count() shouldBe 4 // nodes 1, 9; way 2; relation 4
    val n1 = applied.filter($"id" === 1 && $"type" === "node").head()
    n1.getAs[Long]("version") shouldBe 1L // diff v1 supersedes base v0
    n1.getAs[Map[String, String]]("tags") shouldBe Map("amenity" -> "cafe")
    val n9 = applied.filter($"id" === 9 && $"type" === "node").head()
    n9.getAs[Long]("version") shouldBe 3L
    n9.getAs[Boolean]("visible") shouldBe false // delete won

    // replay idempotency (ADVICE r2): re-applying the SAME diff must be
    // a fixpoint — equal (version, timestamp) rows tie-break to the
    // diff side deterministically, so content cannot flip-flop
    val reapplied = OsmChange.applyDiff(applied, diff)
    reapplied.count() shouldBe 4
    val sortCols = applied.columns.filterNot(Set("nds", "members", "tags"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(sortCols.map(col): _*).orderBy("type", "id")
        .collect().map(_.toSeq).toSeq
    canon(reapplied) shouldBe canon(applied)
    applied.unpersist()
  }
}
