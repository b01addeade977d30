package graft.osm

import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import org.apache.spark.SparkException
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

class ChangesetXmlSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val xml =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<osm license="ODbL" version="0.6">
      |  <changeset id="1" created_at="2007-10-16T15:50:54Z" closed_at="2007-10-16T16:00:00Z"
      |             open="false" user="alice" uid="7" min_lat="41.3" max_lat="41.4000001"
      |             min_lon="-124.1" max_lon="-124.0" num_changes="12" comments_count="2">
      |    <tag k="comment" v="initial import"/>
      |    <tag k="created_by" v="JOSM 1.5"/>
      |    <discussion>
      |      <comment date="2007-10-17T09:12:00Z" uid="99" user="carol">
      |        <text>Did you verify those street names?</text>
      |      </comment>
      |      <comment date="2007-10-18T10:00:00Z" uid="7" user="alice">
      |        <text>Yes — surveyed on foot.</text>
      |      </comment>
      |    </discussion>
      |  </changeset>
      |  <changeset id="2" created_at="2008-01-01T00:00:00Z" open="true" num_changes="0"
      |             comments_count="0"/>
      |  <changeset id="3" open="false" uid="not_a_number" comments_count="1"/>
      |</osm>""".stripMargin

  private def writeXml(name: String, gz: Boolean): String = {
    val dir = Files.createTempDirectory("cs")
    val f = dir.resolve(name)
    if (gz) {
      val os = new GZIPOutputStream(Files.newOutputStream(f))
      os.write(xml.getBytes("UTF-8")); os.close()
    } else Files.write(f, xml.getBytes("UTF-8"))
    f.toString
  }

  test("schema matches the reference changesets schema") {
    ChangesetXml.read(spark, writeXml("c.osm", gz = false)).schema shouldBe OsmSchemas.Changesets
  }

  test("full changeset: attributes, tags, precision-preserving bbox decimals") {
    val rows = ChangesetXml.read(spark, writeXml("c.osm", gz = false))
      .orderBy("id").collect()
    rows.length shouldBe 3
    val r1 = rows(0)
    r1.getAs[Long]("id") shouldBe 1L
    r1.getAs[Map[String, String]]("tags") shouldBe
      Map("comment" -> "initial import", "created_by" -> "JOSM 1.5")
    r1.getAs[java.sql.Timestamp]("created_at").toInstant.toString shouldBe "2007-10-16T15:50:54Z"
    r1.getAs[Boolean]("open") shouldBe false
    // "41.3" → 41.3000000 exactly: string→BigDecimal, never double
    // (OsmChangesetXml2Orc.java:142-171)
    r1.getAs[java.math.BigDecimal]("min_lat") shouldBe new java.math.BigDecimal("41.3000000")
    r1.getAs[java.math.BigDecimal]("max_lat") shouldBe new java.math.BigDecimal("41.4000001")
    r1.getAs[java.math.BigDecimal]("min_lon") shouldBe new java.math.BigDecimal("-124.1000000")
    r1.getAs[Long]("num_changes") shouldBe 12L
    r1.getAs[Long]("uid") shouldBe 7L
    r1.getAs[String]("user") shouldBe "alice"
  }

  test("discussion column is opt-in: default schema is reference parity") {
    // without the option the discussion block is skipped entirely —
    // 13 columns, exactly the reference's surface
    val p = writeXml("c.osm", gz = false)
    val plain = spark.read.format("osm-changesets").load(p)
    plain.schema shouldBe OsmSchemas.Changesets
    // with the option: array-of-structs column, parsed from the fixture
    val rows = spark.read.format("osm-changesets").option("discussion", true)
      .load(p).orderBy("id").collect()
    rows.head.schema shouldBe OsmSchemas.ChangesetsWithDiscussion
    val d1 = rows(0).getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("discussion")
    d1.length shouldBe 2
    d1.head.getAs[java.sql.Timestamp]("date").toInstant.toString shouldBe "2007-10-17T09:12:00Z"
    d1.head.getAs[Long]("uid") shouldBe 99L
    d1.head.getAs[String]("user") shouldBe "carol"
    d1.head.getAs[String]("text") shouldBe "Did you verify those street names?"
    d1(1).getAs[String]("text") shouldBe "Yes — surveyed on foot."
    // changesets without a discussion block read as an empty array
    rows(1).getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("discussion") shouldBe empty
    // and the discussion column prunes away when not selected
    val pruned = spark.read.format("osm-changesets").option("discussion", true)
      .load(p).select("id", "comments_count")
    pruned.queryExecution.executedPlan.toString should not include "discussion"
  }

  test("open changeset: closed_at/bbox/uid/user NULL") {
    val r2 = ChangesetXml.read(spark, writeXml("c.osm", gz = false))
      .filter("id = 2").head()
    r2.getAs[Boolean]("open") shouldBe true
    r2.isNullAt(r2.fieldIndex("closed_at")) shouldBe true
    r2.isNullAt(r2.fieldIndex("min_lat")) shouldBe true
    r2.isNullAt(r2.fieldIndex("uid")) shouldBe true
    r2.isNullAt(r2.fieldIndex("user")) shouldBe true
    r2.getAs[Map[String, String]]("tags") shouldBe Map.empty
  }

  test("unparseable uid → NULL (anonymous edits — ChangesetElementProcessor.java:59-63)") {
    val r3 = ChangesetXml.read(spark, writeXml("c.osm", gz = false))
      .filter("id = 3").head()
    r3.isNullAt(r3.fieldIndex("uid")) shouldBe true
    r3.isNullAt(r3.fieldIndex("created_at")) shouldBe true
  }

  test("gzip input is transparently decompressed") {
    ChangesetXml.read(spark, writeXml("c.osm.gz", gz = true)).count() shouldBe 3
  }

  test("directory input skips markers and non-XML strays (_SUCCESS, README…)") {
    val dir = Files.createTempDirectory("csdir")
    Files.write(dir.resolve("a.osm"), xml.getBytes("UTF-8"))
    Files.write(dir.resolve("_SUCCESS"), Array.empty[Byte])
    Files.write(dir.resolve(".hidden"), "junk".getBytes("UTF-8"))
    Files.write(dir.resolve("README.txt"), "not xml".getBytes("UTF-8"))
    ChangesetXml.read(spark, dir.toString).count() shouldBe 3
  }

  test("non-changeset root is rejected (ChangesetXmlHandler.java:57)") {
    val dir = Files.createTempDirectory("bad")
    val f = dir.resolve("bad.xml")
    Files.write(f, "<notosm><changeset id=\"1\"/></notosm>".getBytes("UTF-8"))
    val ex = intercept[SparkException] {
      ChangesetXml.read(spark, f.toString).collect()
    }
    ex.getMessage should include("does not appear to be an OSM changeset file")
    ex.getMessage should include(s"$f at line 1")
  }

  test("nested changeset directories are read recursively") {
    val dir = Files.createTempDirectory("csnest")
    Files.write(dir.resolve("a.osm"), xml.getBytes("UTF-8"))
    val sub = Files.createDirectories(dir.resolve("2024").resolve("10"))
    val os = new GZIPOutputStream(Files.newOutputStream(sub.resolve("b.osm.gz")))
    os.write(xml.getBytes("UTF-8")); os.close()
    ChangesetXml.read(spark, dir.toString).count() shouldBe 6
  }

  test("a directory of bz2 changeset dumps is read") {
    // the planet's changeset dump is changesets-YYMMDD.osm.bz2
    val dir = Files.createTempDirectory("csbz2")
    val bytes = SplitChangesets.bz2(xml.getBytes("UTF-8"))
    Files.write(dir.resolve("changesets-241007.osm.bz2"), bytes)
    val sub = Files.createDirectories(dir.resolve("old"))
    Files.write(sub.resolve("changesets.xml.bz2"), bytes)
    ChangesetXml.read(spark, dir.toString).count() shouldBe 6
  }

  test("timestamps: the plain-form fast path agrees with Instant.parse") {
    val rnd = new scala.util.Random(17)
    def two(n: Int) = f"$n%02d"
    def plain(y: Int, mo: Int, d: Int, h: Int, mi: Int, s: Int) =
      f"$y%04d-${two(mo)}-${two(d)}T${two(h)}:${two(mi)}:${two(s)}Z"
    val valid = Seq.fill(3000)(plain(rnd.nextInt(10000), 1 + rnd.nextInt(12),
      1 + rnd.nextInt(28), rnd.nextInt(24), rnd.nextInt(60), rnd.nextInt(60)))
    val edges = Seq(
      "1970-01-01T00:00:00Z", "0000-01-01T00:00:00Z", "9999-12-31T23:59:59Z",
      "1969-12-31T23:59:59Z", "1582-10-10T12:00:00Z", "2000-02-29T00:00:00Z",
      "2024-02-29T23:59:59Z", "1900-02-29T00:00:00Z", "2023-02-29T00:00:00Z",
      "2023-04-31T00:00:00Z", "2023-13-01T00:00:00Z", "2023-00-10T00:00:00Z",
      "2023-01-00T00:00:00Z", "2023-01-32T00:00:00Z", "2023-01-01T24:00:00Z",
      "2023-01-01T23:60:00Z", "2023-01-01T12:00:60Z", "2016-12-31T23:59:60Z",
      "2023-01-01T00:00:00.5Z", "2023-01-01T00:00:00.123456789Z", "2023-01-01T00:00:00+01:00",
      "2023-01-01T00:00:00-00:30", "2023-01-01t00:00:00z", "2023-01-01 00:00:00Z",
      "2023-1-01T00:00:00Z", "2023-01-01T00:00Z", "+2023-01-01T00:00:00Z",
      "-0001-01-01T00:00:00Z", "20230-01-01T00:00:00Z", "2023-01-01T00:00:00ZZ",
      "2O23-01-01T00:00:00Z", "2023-01-01T0:00:000Z", "", "yesterday")
    val mutated = valid.take(500).map { s =>
      val i = rnd.nextInt(s.length)
      s.updated(i, "0123456789-:TZ.+x"(rnd.nextInt(17)))
    }
    def parse(f: String => Long, s: String): Either[Class[_], Long] =
      try Right(f(s)) catch { case e: Exception => Left(e.getClass) }
    def reference(s: String) = {
      val i = java.time.Instant.parse(s)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    val all = valid ++ edges ++ mutated
    all.count(s => parse(reference, s).isLeft) should be > 30
    for (s <- all) withClue(s) { parse(XmlAttrs.micros, s) shouldBe parse(reference, s) }
  }

  test("malformed timestamps and markup fail naming the file and line") {
    for ((content, line) <- Seq(
        "<osm>\n<changeset id=\"1\" created_at=\"yesterday\" open=\"false\"/>\n</osm>" -> 2,
        "<osm>\n<changeset id=\"1\" open=\"false\">\n</osm>" -> 3,
        // a bounding box latitude outside decimal(9,7)
        "<osm>\n<changeset id=\"1\" open=\"false\" min_lat=\"-100\"/>\n</osm>" -> 2)) {
      val f = Files.createTempDirectory("csbad").resolve("bad.osm")
      Files.write(f, content.getBytes("UTF-8"))
      val ex = intercept[SparkException] { ChangesetXml.read(spark, f.toString).collect() }
      withClue(content) {
        ex.getMessage should include("IllegalArgumentException")
        ex.getMessage should include(s"$f at line $line")
      }
    }
  }
}
