package graft.osm

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.orc.{CompressionKind, OrcFile}
import org.apache.orc.impl.RecordReaderImpl
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.functions.{array_sort, col, map_entries}
import org.apache.spark.sql.types.{Decimal, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.osm.pbf.OsmPbfSource

/** [[OsmOrcFileFormat]]'s one-pass writer against Spark's built-in ORC
  * writer, the independent oracle: the same rows written by both must
  * read back identically through Spark and through orc-core's row
  * reader, with the same compression and bloom filter streams.
  */
class OrcWriterParitySpec extends AnyFunSuite with Matchers with SparkSpec {

  private def conf = spark.sessionState.newHadoopConf()

  // ---- rows as orc-core and Spark read them back

  private def orcCoreRows(p: Path): Seq[String] = {
    val reader = OrcFile.createReader(p, OrcFile.readerOptions(conf))
    val rows = reader.rows()
    val batch = reader.getSchema.createRowBatch()
    val out = Seq.newBuilder[String]
    try while (rows.nextBatch(batch)) (0 until batch.size).foreach { r =>
      val sb = new java.lang.StringBuilder
      batch.cols.foreach { c => c.stringifyValue(sb, r); sb.append(" | ") }
      out += sb.toString
    } finally { rows.close(); reader.close() }
    out.result()
  }

  /** `ours` equals `theirs`; a failure names the first differing row. */
  private def sameRows(ours: Seq[String], theirs: Seq[String]): Unit = {
    ours.zip(theirs).zipWithIndex.find { case ((x, y), _) => x != y }.foreach {
      case ((x, y), i) => fail(s"row $i differs:\n  ours:    $x\n  Spark's: $y")
    }
    ours.length shouldBe theirs.length
  }

  private def sparkRows(df: DataFrame): Seq[String] =
    df.withColumn("tags", array_sort(map_entries(col("tags")))).collect()
      .map(_.toString).toSeq.sorted

  private def orcParts(out: String): Seq[Path] = {
    val dir = new Path(out)
    dir.getFileSystem(conf).listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".orc")).sortBy(_.getName)
  }

  private def withReader[T](p: Path)(f: org.apache.orc.Reader => T): T = {
    val reader = OrcFile.createReader(p, OrcFile.readerOptions(conf))
    try f(reader) finally reader.close()
  }

  /** Bloom filter streams of `column`, per stripe. */
  private def bloomStreams(p: Path, column: String): Seq[Int] = withReader(p) { reader =>
    val id = reader.getSchema.findSubtype(column).getId
    val rows = reader.rows().asInstanceOf[RecordReaderImpl]
    try reader.getStripes.asScala.toSeq.map(s => rows.readStripeFooter(s).getStreamsList.asScala
      .count(st => st.getColumn == id && st.getKind.name.startsWith("BLOOM_FILTER")))
    finally rows.close()
  }

  private def footer(p: Path, key: String): Option[String] = OrcMetadata.readValue(p, conf, key)

  /** Each pair of part files (this writer's, Spark's) holds the same rows
    * in the same order, with the same compression kind and bloom streams.
    */
  private def samePartFiles(ours: String, theirs: String, bloomColumn: String): Seq[Path] = {
    val (a, b) = (orcParts(ours), orcParts(theirs))
    a should not be empty
    a.length shouldBe b.length
    a.zip(b).foreach { case (x, y) =>
      sameRows(orcCoreRows(x), orcCoreRows(y))
      withReader(x)(_.getCompressionKind) shouldBe withReader(y)(_.getCompressionKind)
      bloomStreams(x, bloomColumn) shouldBe bloomStreams(y, bloomColumn)
      footer(x, "org.apache.spark.version") shouldBe footer(y, "org.apache.spark.version")
      footer(x, "org.apache.spark.version") should not be empty
    }
    a
  }

  private def withCodec[T](codec: String)(f: => T): T = {
    spark.conf.set("spark.sql.orc.compression.codec", codec)
    try f finally spark.conf.unset("spark.sql.orc.compression.codec")
  }

  // ---- whole frames through OrcSink, against `.orc()`

  test("SplitPbf planet: part files match Spark's writer, batches spanning list/map children") {
    val pbf = SplitPbf.write(Files.createTempDirectory("pbf-parity"))
    val src = OsmPbfSource.read(spark, pbf)
    val dir = Files.createTempDirectory("orc-parity-planet")
    val (ours, theirs) = (dir.resolve("graft").toString, dir.resolve("spark").toString)
    withCodec("zlib") {
      OrcSink.writePlanet(src, ours, bounds = Some("-180,-90,180,90"), bloomColumns = "user")
      src.write.option("orc.block.padding", "false")
        .option("orc.bloom.filter.columns", "user").orc(theirs)
    }
    val parts = samePartFiles(ours, theirs, "user")
    parts.length should be > 1
    parts.foreach { p =>
      // several 1,024-row batches per part, so list and map children
      // (tags, nds, members) span batch resets
      withReader(p)(_.getNumberOfRows) should be > 3000L
      withReader(p)(_.getCompressionKind) shouldBe CompressionKind.ZLIB
      p.getName should endWith(".zlib.orc")
      all(bloomStreams(p, "user")) should be > 0
      footer(p, OsmSchemas.SchemaVersionKey) shouldBe Some(OsmSchemas.SchemaVersion)
      footer(p, OsmSchemas.BoundsKey) shouldBe Some("-180,-90,180,90")
    }
    sparkRows(spark.read.orc(ours)) shouldBe sparkRows(spark.read.orc(theirs))
    sparkRows(spark.read.orc(ours)) shouldBe sparkRows(src)
  }

  test("changesets with discussion: timestamps inside array<struct> match Spark's writer") {
    val dir = Files.createTempDirectory("orc-parity-cs")
    val xml = dir.resolve("cs.osm")
    Files.write(xml, OsmFixtureGen.changesetsXml.getBytes(UTF_8))
    val df = spark.read.format("osm-changesets").option("discussion", true).load(xml.toString)
    df.schema shouldBe OsmSchemas.ChangesetsWithDiscussion
    val (ours, theirs) = (dir.resolve("graft").toString, dir.resolve("spark").toString)
    OrcSink.writeChangesets(df, ours)
    df.write.option("orc.block.padding", "false").orc(theirs)
    samePartFiles(ours, theirs, "user").foreach { p =>
      footer(p, OsmSchemas.SchemaVersionKey) shouldBe Some(OsmSchemas.SchemaVersion)
      footer(p, OsmSchemas.BoundsKey) shouldBe None
    }
    val back = spark.read.orc(ours)
    back.schema shouldBe OsmSchemas.ChangesetsWithDiscussion
    sparkRows(back) shouldBe sparkRows(spark.read.orc(theirs))
    sparkRows(back) shouldBe sparkRows(df)
    back.selectExpr("explode(discussion)").count() should be > 100L
  }

  // ---- planted InternalRows straight into both OutputWriters

  /** Writes `rows` once through each format's OutputWriter, with the same
    * options and Hadoop conf; returns (this writer's file, Spark's file).
    */
  private def writeBoth(schema: StructType, rows: Seq[InternalRow],
      options: Map[String, String]): (Path, Path) = {
    val dir = Files.createTempDirectory("orc-parity-rows")
    def one(format: OrcFileFormat, name: String): Path = {
      val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(options))
      val factory = format.prepareWrite(spark, job, options, schema)
      val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
      val path = dir.resolve(name + factory.getFileExtension(ctx)).toString
      val w = factory.newInstance(path, schema, ctx)
      try rows.foreach(w.write) finally w.close()
      new Path(path)
    }
    (one(new OsmOrcFileFormat, "graft"), one(new OrcFileFormat, "spark"))
  }

  private def str(s: String) = UTF8String.fromString(s)
  private def arr(xs: Any*) = new GenericArrayData(xs.toArray)
  private def map(kv: (Any, Any)*) =
    new ArrayBasedMapData(arr(kv.map(_._1): _*), arr(kv.map(_._2): _*))
  private def dec(s: String) = Decimal(new java.math.BigDecimal(s))
  private def micros(iso: String): Long = {
    val t = Instant.parse(iso)
    t.getEpochSecond * 1000000L + t.getNano / 1000L
  }

  /** A UTF8String whose bytes live off the Java heap. */
  private def withOffHeap[T](s: String)(f: UTF8String => T): T = {
    val bytes = s.getBytes(UTF_8)
    val addr = Platform.allocateMemory(bytes.length)
    try {
      Platform.copyMemory(bytes, Platform.BYTE_ARRAY_OFFSET, null, addr, bytes.length)
      f(UTF8String.fromAddress(null, addr, bytes.length))
    } finally Platform.freeMemory(addr)
  }

  private val PreEpoch = "1969-12-31T23:59:59.999999Z"
  private val PreGregorian = "1500-06-01T12:00:00.123456Z"
  private val PreSeconds = "1900-01-01T00:00:00Z"

  /** Planet rows cycling through nulls at every nesting level, empty
    * collections, decimals off their column's scale (rounded HALF_UP or
    * overflowing to null), pre-1970 and pre-Gregorian timestamps and
    * off-heap strings; list and map sizes vary so children span batches.
    */
  private def planetRows(n: Int, offHeap: UTF8String): Seq[InternalRow] = (0 until n).map { i =>
    val k = i % 7
    val id = i.toLong
    i % 5 match {
      case 0 => new GenericInternalRow(OsmSchemas.Planet.length)
      case 1 => InternalRow(id, str("node"), map(), dec("51.5"), dec("-0.1"), arr(), arr(), 1L,
        micros(PreEpoch), 7L, offHeap, 1L, true)
      case 2 => InternalRow(id, str("way"),
        map((1 to k).map(j => str(s"k$j") -> (if (j % 2 == 0) null else str(s"v$j"))): _*),
        dec("51.12345675"), dec("-0.00000005"),
        arr((1 to k).map(j => if (j == 3) null else InternalRow(if (j == 2) null else j.toLong)): _*),
        arr(), null, micros(PreGregorian), null, str("wäy"), null, false)
      case 3 => InternalRow(id, str("relation"), null, dec("123.4567"), dec("1234.5"), null,
        arr((1 to k).map(j =>
          if (j == 1) null else if (j == 2) InternalRow(null, null, null)
          else InternalRow(offHeap, j.toLong, str(""))): _*),
        3L, micros(PreSeconds), 3L, null, 2L, null)
      case _ => InternalRow(id, offHeap, map((0 until k).map(j => offHeap -> str(s"$i/$j")): _*),
        dec("-89.9999999"), dec("179.9999999"), arr((0 until k).map(j => InternalRow(j.toLong)): _*),
        arr((0 until k).map(j => InternalRow(str("node"), j.toLong, offHeap)): _*),
        id, micros("2024-02-29T23:59:59.5Z") + id, id, str(s"user$i"), id, true)
    }
  }

  test("planted planet rows: nulls, empties, decimals, old timestamps and off-heap strings") {
    val n = 2600
    val (ours, theirs) = withOffHeap("off-heap ✓") { s =>
      // a small child limit flushes batches early, as orc-mapreduce does
      writeBoth(OsmSchemas.Planet, planetRows(n, s), Map(
        "orc.bloom.filter.columns" -> "user", "orc.row.child.limit" -> "64",
        OsmSchemas.SchemaVersionKey -> "0.6", OsmSchemas.BoundsKey -> "1,2,3,4"))
    }
    sameRows(orcCoreRows(ours), orcCoreRows(theirs))
    orcCoreRows(ours).length shouldBe n
    val (a, b) = (spark.read.orc(ours.toString), spark.read.orc(theirs.toString))
    a.collect().toSeq shouldBe b.collect().toSeq
    withReader(ours)(_.getCompressionKind) shouldBe withReader(theirs)(_.getCompressionKind)
    withReader(ours)(_.getCompressionKind).toString shouldBe
      spark.sessionState.conf.orcCompressionCodec.toUpperCase
    all(bloomStreams(ours, "user")) should be > 0
    bloomStreams(ours, "user") shouldBe bloomStreams(theirs, "user")
    Seq("org.apache.spark.version", OsmSchemas.SchemaVersionKey, OsmSchemas.BoundsKey)
      .foreach(k => footer(ours, k) should not be empty)
    footer(ours, OsmSchemas.BoundsKey) shouldBe Some("1,2,3,4")

    // the planted values themselves, not just agreement
    def row(i: Int): Row = a.selectExpr("id", "lat", "lon", "unix_micros(timestamp) AS us", "user")
      .where(s"id = $i").head()
    row(2).getDecimal(1) shouldBe new java.math.BigDecimal("51.1234568") // HALF_UP
    row(2).getDecimal(2) shouldBe new java.math.BigDecimal("-0.0000001")
    row(2).getLong(3) shouldBe micros(PreGregorian)
    row(3).isNullAt(1) shouldBe true // overflows decimal(9,7)
    row(3).isNullAt(2) shouldBe true
    row(3).getLong(3) shouldBe micros(PreSeconds)
    // a pre-1970 timestamp with a fraction reads back one second late
    // from either writer's file (ORC's reader, not the write); the
    // parity above pins that both write it alike
    row(1).getLong(3) shouldBe micros(PreEpoch) + 1000000L
    row(1).getString(4) shouldBe "off-heap ✓"
    a.where("id IS NULL").count() shouldBe n / 5
  }

  test("planted changeset rows: nulls inside discussion structs and old comment dates") {
    val rows = (0 until 1500).map { i =>
      val discussion = i % 4 match {
        case 0 => null
        case 1 => arr()
        case 2 => arr(null, InternalRow(null, null, null, null))
        case _ => arr(InternalRow(micros(PreEpoch) - i, i.toLong, str("u"), str(s"text $i")),
          InternalRow(micros(PreGregorian), null, null, str("")))
      }
      InternalRow(i.toLong, if (i % 3 == 0) null else map(str("k") -> str(s"$i")),
        micros("1970-01-01T00:00:00Z") - i, i % 2 == 0, if (i % 5 == 0) null else micros(PreEpoch),
        i.toLong, dec("41.3"), dec("41.40000005"), dec("-124.1"), dec("-1240.0"), null,
        i.toLong, str(s"user$i"), discussion)
    }
    val (ours, theirs) = writeBoth(OsmSchemas.ChangesetsWithDiscussion, rows, Map.empty)
    sameRows(orcCoreRows(ours), orcCoreRows(theirs))
    val back = spark.read.orc(ours.toString)
    back.collect().toSeq shouldBe spark.read.orc(theirs.toString).collect().toSeq
    val r = back.selectExpr("max_lat", "max_lon", "unix_micros(discussion[1].date)")
      .where("id = 3").head()
    r.getDecimal(0) shouldBe new java.math.BigDecimal("41.4000001")
    r.isNullAt(1) shouldBe true // -1240.0 overflows decimal(10,7)
    r.getLong(2) shouldBe micros(PreGregorian)
    footer(ours, OsmSchemas.SchemaVersionKey) shouldBe None // no footer option given
  }
}
