package graft.osm

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, TableProvider}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.osm.pbf.OsmPbfSource

/** The shared DataSource V2 classes of the four OSM formats. */
class OsmSourceSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def table(provider: TableProvider, path: String): SupportsRead = {
    val props = Map("path" -> path).asJava
    provider.getTable(provider.inferSchema(new CaseInsensitiveStringMap(props)),
      Array.empty, props).asInstanceOf[SupportsRead]
  }

  /** Builds, plans and drains a scan of `t`; the rows it read. */
  private def drainAll(t: SupportsRead): Long = {
    val batch = t.newScanBuilder(CaseInsensitiveStringMap.empty()).build().toBatch
    val factory = batch.createReaderFactory()
    batch.planInputPartitions().map { p =>
      val r = factory.createReader(p)
      var n = 0L
      try while (r.next()) { r.get(); n += 1 } finally r.close()
      n
    }.sum
  }

  test("a table scans on a thread with no active or default session") {
    val dir = Files.createTempDirectory("osmsession")
    val pbf = PbfTestData.writeSample(dir)
    val osc = dir.resolve("d.osc")
    Files.write(osc, ("<osmChange><create><node id=\"1\" lat=\"1\" lon=\"2\"/>" +
      "<way id=\"2\"><nd ref=\"1\"/></way></create></osmChange>").getBytes("UTF-8"))
    SparkSession.setActiveSession(spark)
    val tables = Seq(table(new OsmPbfSource, pbf), table(new OsmChangeSource, osc.toString))
    var rows = Seq.empty[Long]
    var failure: Throwable = null
    val thread = new Thread(() =>
      try {
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        rows = tables.map(drainAll)
      } catch { case t: Throwable => failure = t })
    try { thread.start(); thread.join() }
    finally SparkSession.setDefaultSession(spark)
    if (failure != null) throw failure
    rows shouldBe Seq(7L, 2L)
  }
}
