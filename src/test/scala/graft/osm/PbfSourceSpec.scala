package graft.osm

import java.io.{ByteArrayInputStream, DataInputStream}
import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.osm.pbf.{OsmPbfInputPartition, OsmPbfScan, OsmPbfScanBuilder, PbfDecode}
import graft.osm.pbf.PbfDecode.BlobSpan

class PbfSourceSpec extends AnyFunSuite with Matchers with SparkSpec {

  private lazy val pbfPath = PbfTestData.writeSample(Files.createTempDirectory("pbf"))
  private lazy val df = spark.read.format("osm-pbf").load(pbfPath).cache()

  test("schema matches the reference planet schema") {
    df.schema shouldBe OsmSchemas.Planet
  }

  test("row count: 4 dense+plain nodes + 1 block2 node + way + relation") {
    df.count() shouldBe 7
  }

  test("dense nodes decode coordinates, tags, and metadata") {
    val n1 = df.filter($"id" === 1 && $"type" === "node").head()
    n1.getAs[java.math.BigDecimal]("lat") shouldBe new java.math.BigDecimal("51.5000000")
    n1.getAs[java.math.BigDecimal]("lon") shouldBe new java.math.BigDecimal("-0.1000000")
    n1.getAs[Map[String, String]]("tags") shouldBe Map("amenity" -> "cafe")
    n1.getAs[Long]("changeset") shouldBe 100L
    n1.getAs[Long]("uid") shouldBe 7L
    n1.getAs[String]("user") shouldBe "alice"
    n1.getAs[Long]("version") shouldBe 1L
    n1.getAs[Boolean]("visible") shouldBe true
    n1.getAs[java.sql.Timestamp]("timestamp").getTime shouldBe 1000000L // 1000s in ms
    // nodes carry EMPTY (not null) nds/members — OsmPbf2Orc.java:183-191
    n1.getAs[scala.collection.Seq[Row]]("nds") shouldBe Seq.empty
    n1.getAs[scala.collection.Seq[Row]]("members") shouldBe Seq.empty
  }

  test("deleted dense node has visible=false (history semantics)") {
    val n3 = df.filter($"id" === 3 && $"type" === "node").head()
    n3.getAs[Boolean]("visible") shouldBe false
    n3.getAs[String]("user") shouldBe "bob"
  }

  test("plain node without Info gets defaults (version -1, nulls, visible)") {
    val n4 = df.filter($"id" === 4 && $"type" === "node").head()
    n4.getAs[java.math.BigDecimal]("lat") shouldBe new java.math.BigDecimal("10.1234567")
    n4.getAs[java.math.BigDecimal]("lon") shouldBe new java.math.BigDecimal("20.7654321")
    n4.getAs[Map[String, String]]("tags") shouldBe Map.empty
    n4.isNullAt(n4.fieldIndex("timestamp")) shouldBe true
    n4.isNullAt(n4.fieldIndex("uid")) shouldBe true
    n4.isNullAt(n4.fieldIndex("changeset")) shouldBe true
    n4.getAs[Long]("version") shouldBe -1L
    n4.getAs[Boolean]("visible") shouldBe true
  }

  test("granularity/offset block decodes exactly (no double round-trip)") {
    val n5 = df.filter($"id" === 5).head()
    n5.getAs[java.math.BigDecimal]("lat") shouldBe new java.math.BigDecimal("48.0000005")
    n5.getAs[Map[String, String]]("tags") shouldBe Map("shop" -> "bakery")
  }

  test("way: NULL lat/lon, ordered nds, tags, metadata") {
    val way = df.filter($"type" === "way").head()
    way.getAs[Long]("id") shouldBe 10L
    way.isNullAt(way.fieldIndex("lat")) shouldBe true // OsmPbf2Orc.java:224-225
    way.isNullAt(way.fieldIndex("lon")) shouldBe true
    way.getAs[scala.collection.Seq[Row]]("nds").map(_.getLong(0)) shouldBe Seq(1L, 2L, 3L)
    way.getAs[Map[String, String]]("tags") shouldBe Map("highway" -> "residential")
    way.getAs[Long]("version") shouldBe 3L
    way.getAs[java.sql.Timestamp]("timestamp").getTime shouldBe 5000000L
  }

  test("relation: typed ordered members") {
    val rel = df.filter($"type" === "relation").head()
    rel.getAs[Long]("id") shouldBe 20L
    val members = rel.getAs[scala.collection.Seq[Row]]("members")
    members.map(m => (m.getString(0), m.getLong(1), m.getString(2))) shouldBe
      Seq(("node", 1L, "stop"), ("way", 10L, "outer"))
  }

  test("nested member-field selection survives nested-schema pruning") {
    // nested pruning (default on) hands the scan array<struct<ref>>;
    // the decoder emits full member structs — top-level pruning only
    val refs = df.sparkSession.read.format("osm-pbf").load(pbfPath)
      .select(explode($"members").as("m"))
      .select($"m.ref")
      .collect().map(_.getLong(0)).sorted
    refs shouldBe Array(1L, 10L)
  }

  test("column pruning: reading only (id, type) works and plan shows pruned schema") {
    val pruned = df.sparkSession.read.format("osm-pbf").load(pbfPath).select("id", "type")
    pruned.collect().length shouldBe 7
    val planStr = pruned.queryExecution.executedPlan.toString
    planStr should include("BatchScan")
    planStr should not include "tags#" // pruned columns never reach the scan
  }

  test("maxPartitionBytes=1 splits per data blob") {
    val split = spark.read.format("osm-pbf").option("maxPartitionBytes", "1").load(pbfPath)
    split.rdd.getNumPartitions shouldBe 2 // two OSMData blobs
    split.count() shouldBe 7
  }

  test("bounds are read from the OSMHeader bbox") {
    OrcSink.pbfBounds(spark, pbfPath) shouldBe Some("-0.4,51,0.6,52")
  }

  test("bbox range filters push into the scan and match post-scan filtering") {
    val full = spark.read.format("osm-pbf").load(pbfPath)
    val filtered = full.filter($"lat".between(51.55, 51.75))
    val ids = filtered.select("id").collect().map(_.getLong(0)).sorted
    ids shouldBe Array(2L, 3L)
    // the scan advertises the pushed bounds
    filtered.queryExecution.executedPlan.toString should include("pushed=[")
  }

  test("type filter skips non-matching kinds at the source") {
    val ways = spark.read.format("osm-pbf").load(pbfPath).filter($"type" === "way")
    ways.count() shouldBe 1
    ways.queryExecution.executedPlan.toString should include("EqualTo(type,way)")
    val rels = spark.read.format("osm-pbf").load(pbfPath)
      .filter($"type".isin("relation", "way"))
    rels.count() shouldBe 2
  }

  test("a directory of .pbf files reads as one dataset") {
    val dir = Files.createTempDirectory("pbfdir")
    PbfTestData.writeSample(dir)
    Files.copy(dir.resolve("sample.osm.pbf"), dir.resolve("second.osm.pbf"))
    spark.read.format("osm-pbf").load(dir.toString).count() shouldBe 14
  }

  test("unknown required_features are rejected (PBF spec compliance)") {
    import java.io.ByteArrayOutputStream
    val dir = Files.createTempDirectory("pbfreq")
    // header demanding a feature we don't implement
    val hdr = new PbfTestData.W().str(4, "OsmSchema-V0.6").str(4, "FancyFuture").toArray
    val out = new ByteArrayOutputStream()
    out.write(PbfTestData.frameBlob("OSMHeader", hdr, compress = false))
    out.write(PbfTestData.frameBlob("OSMData", PbfTestData.primitiveBlock(), compress = true))
    val f = dir.resolve("future.osm.pbf")
    Files.write(f, out.toByteArray)
    val ex = intercept[Exception] {
      spark.read.format("osm-pbf").load(f.toString).count()
    }
    ex.getMessage should include("FancyFuture")
    ex.getMessage should include(f.toString)
    ex.getMessage should include("byte offset 0")
    // known features pass (the golden fixture has none, and DenseNodes-style
    // headers are accepted)
    spark.read.format("osm-pbf").load(pbfPath).count() shouldBe 7
  }

  test("a truncated zlib payload errors instead of spinning forever") {
    val payload = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    val z = PbfTestData.deflate(payload)
    val truncated = java.util.Arrays.copyOf(z, z.length / 2)
    val blob = new PbfTestData.W().vint(2, payload.length).bytes(3, truncated).toArray
    val ex = intercept[IllegalArgumentException] {
      graft.osm.pbf.PbfDecode.decompressBlob(blob)
    }
    ex.getMessage should include("truncated")
  }

  test("zlib blob with raw_size=0 and an empty stream decodes to empty") {
    val blob = new PbfTestData.W().vint(2, 0)
      .bytes(3, PbfTestData.deflate(Array.empty[Byte])).toArray
    graft.osm.pbf.PbfDecode.decompressBlob(blob).length shouldBe 0
  }

  test("zlib blob whose data exceeds declared raw_size errors clearly") {
    val payload = Array.tabulate[Byte](512)(_.toByte)
    val blob = new PbfTestData.W().vint(2, 100)
      .bytes(3, PbfTestData.deflate(payload)).toArray
    val ex = intercept[IllegalArgumentException] {
      graft.osm.pbf.PbfDecode.decompressBlob(blob)
    }
    ex.getMessage should include("raw_size")
  }

  test("zlib blob without raw_size grows its buffer instead of truncating") {
    // 64 KiB of zeros deflates to ~80 bytes: the old zlib.length*4 guess
    // would silently cut the output; the decoder must return it all.
    val payload = new Array[Byte](65536)
    val blob = new PbfTestData.W().bytes(3, PbfTestData.deflate(payload)).toArray
    graft.osm.pbf.PbfDecode.decompressBlob(blob).length shouldBe payload.length
  }

  test("zstd, lz4 and lzma data blobs round-trip identically to zlib") {
    // same primitive blocks as the golden fixture, one file per codec —
    // the decoded rows must be indistinguishable from the zlib file's
    val dir = Files.createTempDirectory("pbfcodec")
    for (codec <- Seq("zstd", "lz4", "lzma")) {
      val out = new java.io.ByteArrayOutputStream()
      out.write(PbfTestData.frameBlob("OSMHeader",
        PbfTestData.headerBlock(-400000000L, 600000000L, 52000000000L, 51000000000L),
        compress = false))
      out.write(PbfTestData.frameBlobCodec("OSMData", PbfTestData.primitiveBlock(), codec))
      out.write(PbfTestData.frameBlobCodec("OSMData", PbfTestData.primitiveBlock2(), codec))
      val f = dir.resolve(s"sample-$codec.osm.pbf")
      Files.write(f, out.toByteArray)
      val got = spark.read.format("osm-pbf").load(f.toString)
        .orderBy($"type", $"id").collect().toSeq
      val want = df.orderBy($"type", $"id").collect().toSeq
      withClue(s"codec=$codec: ") { got shouldBe want }
    }
  }

  test("zstd blob disagreeing with declared raw_size errors clearly") {
    val payload = Array.tabulate[Byte](512)(_.toByte)
    val blob = new PbfTestData.W().vint(2, 100)
      .bytes(7, com.github.luben.zstd.Zstd.compress(payload)).toArray
    val ex = intercept[Exception] {
      graft.osm.pbf.PbfDecode.decompressBlob(blob)
    }
    ex.getMessage should include("raw_size")
  }

  test("lz4 blob without raw_size is rejected (block format has no length)") {
    val payload = Array.tabulate[Byte](512)(_.toByte)
    val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance()
      .fastCompressor().compress(payload)
    val blob = new PbfTestData.W().bytes(6, lz4).toArray
    val ex = intercept[IllegalArgumentException] {
      graft.osm.pbf.PbfDecode.decompressBlob(blob)
    }
    ex.getMessage should include("raw_size")
  }

  test("raw_size past the 32 MiB blob cap is rejected before it can wrap or allocate") {
    // 2^32+100 would wrap to 100 under a naive .toInt — the guard must
    // fire on the full varint, for ANY codec branch
    val payload = Array.tabulate[Byte](64)(_.toByte)
    for (field <- Seq(3, 6, 7)) { // zlib, lz4, zstd
      val blob = new PbfTestData.W().vint(2, (1L << 32) + 100)
        .bytes(field, payload).toArray
      val ex = intercept[IllegalArgumentException] {
        graft.osm.pbf.PbfDecode.decompressBlob(blob)
      }
      withClue(s"field $field: ") { ex.getMessage should include("raw_size") }
    }
    // and a merely-large (but in-Int-range) declaration is also rejected
    val big = new PbfTestData.W().vint(2, (1L << 30))
      .bytes(6, payload).toArray
    intercept[IllegalArgumentException] {
      graft.osm.pbf.PbfDecode.decompressBlob(big)
    }.getMessage should include("32 MiB")
  }

  test("lzma blob disagreeing with declared raw_size errors clearly") {
    val payload = Array.tabulate[Byte](512)(_.toByte)
    val blob = new PbfTestData.W().vint(2, 100)
      .bytes(4, PbfTestData.lzmaCompress(payload)).toArray
    val ex = intercept[IllegalArgumentException] {
      graft.osm.pbf.PbfDecode.decompressBlob(blob)
    }
    ex.getMessage should include("raw_size")
  }

  test("undeclared-size blobs inflating past the 32 MiB cap are rejected, not returned") {
    // 65 MiB of zeros compresses tiny; with no raw_size the guess
    // buffer must be CLAMPED to the cap so the grow path's check fires
    // — an unclamped 4x-compressed guess would hold the oversized
    // result outright and return it uncapped
    val big = new Array[Byte](65 << 20)
    for ((field, payload) <- Seq(
        3 -> PbfTestData.deflate(big),
        4 -> PbfTestData.lzmaCompress(big))) {
      val blob = new PbfTestData.W().bytes(field, payload).toArray
      val ex = intercept[IllegalArgumentException] {
        graft.osm.pbf.PbfDecode.decompressBlob(blob)
      }
      withClue(s"field $field: ") { ex.getMessage should include("32 MiB") }
    }
  }

  test("garbage lzma payload is rejected loudly, not decoded to junk") {
    val blob = new PbfTestData.W().vint(2, 10)
      .bytes(4, Array.tabulate[Byte](10)(_.toByte)).toArray
    val ex = intercept[IllegalArgumentException] {
      graft.osm.pbf.PbfDecode.decompressBlob(blob)
    }
    ex.getMessage should include("lzma")
  }

  test("blob carrying no payload field at all names the full codec inventory") {
    val blob = new PbfTestData.W().vint(2, 10).toArray
    val ex = intercept[IllegalArgumentException] {
      graft.osm.pbf.PbfDecode.decompressBlob(blob)
    }
    ex.getMessage should include("lzma_data")
    ex.getMessage should include("zstd_data")
  }

  test("a truncated file fails with a clear error, not silent data loss") {
    val dir = Files.createTempDirectory("pbftrunc")
    val full = Files.readAllBytes(java.nio.file.Paths.get(pbfPath))
    val cut = java.util.Arrays.copyOf(full, full.length - 15)
    val f = dir.resolve("trunc.osm.pbf")
    Files.write(f, cut)
    an[Exception] should be thrownBy
      spark.read.format("osm-pbf").load(f.toString).count()
  }

  test("nested PBF directories are read recursively") {
    val dir = Files.createTempDirectory("pbfnest")
    PbfTestData.writeSample(dir)
    PbfTestData.writeSample(Files.createDirectories(dir.resolve("2024").resolve("10")))
    spark.read.format("osm-pbf").load(dir.toString).count() shouldBe 14
  }

  test("_- and .-prefixed .pbf files in a directory are skipped") {
    val dir = Files.createTempDirectory("pbfmarks")
    PbfTestData.writeSample(dir)
    Files.copy(dir.resolve("sample.osm.pbf"), dir.resolve("_staging.osm.pbf"))
    Files.copy(dir.resolve("sample.osm.pbf"), dir.resolve(".partial.osm.pbf"))
    spark.read.format("osm-pbf").load(dir.toString).count() shouldBe 7
  }

  test("an upper-case .PBF extension is recognized in a directory") {
    val dir = Files.createTempDirectory("pbfcase")
    PbfTestData.writeSample(dir)
    Files.copy(dir.resolve("sample.osm.pbf"), dir.resolve("SECOND.OSM.PBF"))
    spark.read.format("osm-pbf").load(dir.toString).count() shouldBe 14
  }

  private def sampleBytes: Array[Byte] = Files.readAllBytes(java.nio.file.Paths.get(pbfPath))

  private def spans(bytes: Array[Byte]): Seq[BlobSpan] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    PbfDecode.scanBlobSpans(in, n => in.skipNBytes(n))
  }

  /** The framing corruptions of frame `s` in `bytes`; each must fail at
    * `s.headerStart`.
    */
  private def framingCases(bytes: Array[Byte], s: BlobSpan): Seq[(String, Array[Byte])] = {
    def withHeaderLength(len: Int) = {
      val b = bytes.clone()
      ByteBuffer.wrap(b).putInt(s.headerStart.toInt, len)
      b
    }
    def withDatasize(size: Long) = {
      val header = new PbfTestData.W().str(1, s.blobType).vint(3, size).toArray
      bytes.take(s.headerStart.toInt) ++ ByteBuffer.allocate(4).putInt(header.length).array ++
        header ++ bytes.drop(s.dataStart.toInt)
    }
    Seq(
      "header length with the high bit set" -> withHeaderLength(0x80000010),
      "header longer than 64 KiB" -> withHeaderLength(16 << 20),
      "datasize varint >= 2^31" -> withDatasize(1L << 31),
      "datasize over the blob cap" -> withDatasize((64L << 20) + 1),
      "file cut inside a header" -> bytes.take(s.headerStart.toInt + 6),
      "file cut inside a blob" -> bytes.take(s.dataStart.toInt + 3))
  }

  private def allocatedBy(f: => Unit): Long = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val t = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(t)
    f
    mx.getThreadAllocatedBytes(t) - before
  }

  /** `f` fails with an IllegalArgumentException naming `path` and
    * `offset`, allocating no more than a few MiB on the way.
    */
  private def failsNaming(clue: String, path: String, offset: Long)(f: => Any): Unit =
    withClue(s"$clue: ") {
      var ex: IllegalArgumentException = null
      val allocated = allocatedBy { ex = intercept[IllegalArgumentException](f) }
      ex.getMessage should include(path)
      ex.getMessage should include(s"byte offset $offset")
      allocated should be < (4L << 20)
    }

  private def scan(path: String, options: (String, String)*) = {
    // OsmPbfScanBuilder.build reads the active session's Hadoop conf
    SparkSession.setActiveSession(spark)
    new OsmPbfScanBuilder(Seq(path), new CaseInsensitiveStringMap(options.toMap.asJava))
      .build().toBatch
  }

  private def drain(reader: org.apache.spark.sql.connector.read.PartitionReader[_]): Unit =
    try while (reader.next()) reader.get() finally reader.close()

  test("corrupt framing fails naming file and offset: split planning") {
    val bytes = sampleBytes
    val target = spans(bytes).last
    scan(pbfPath).planInputPartitions().length shouldBe 1
    for ((name, corrupt) <- framingCases(bytes, target)) {
      val f = Files.createTempDirectory("pbfframe").resolve("bad.osm.pbf")
      Files.write(f, corrupt)
      val batch = scan(f.toString)
      failsNaming(name, f.toString, target.headerStart) {
        batch.planInputPartitions()
      }
    }
  }

  test("corrupt framing fails naming file and offset: partition reader") {
    val bytes = sampleBytes
    val target = spans(bytes).last
    for ((name, corrupt) <- framingCases(bytes, target)) {
      // split-plan the intact file (one partition per data blob), then
      // corrupt it under the planned partitions
      val f = Files.createTempDirectory("pbfframe").resolve("bad.osm.pbf")
      Files.write(f, bytes)
      val batch = scan(f.toString, "maxPartitionBytes" -> "1")
      val parts = batch.planInputPartitions()
      parts.length shouldBe 2
      Files.write(f, corrupt)
      val factory = batch.createReaderFactory()
      drain(factory.createReader(parts.head)) // the blob before still reads
      failsNaming(name, f.toString, target.headerStart) {
        drain(factory.createReader(parts.last))
      }
    }
  }

  test("corrupt framing fails naming file and offset: pbfBounds") {
    val bytes = sampleBytes
    val target = spans(bytes).head
    target.blobType shouldBe "OSMHeader"
    OrcSink.pbfBounds(spark, pbfPath) shouldBe Some("-0.4,51,0.6,52")
    for ((name, corrupt) <- framingCases(bytes, target)) {
      val f = Files.createTempDirectory("pbfframe").resolve("bad.osm.pbf")
      Files.write(f, corrupt)
      failsNaming(name, f.toString, target.headerStart) {
        OrcSink.pbfBounds(spark, f.toString)
      }
    }
  }

  test("a corrupt OSMData block fails naming file and blob offset") {
    val block = PbfTestData.primitiveBlock()
    def raw(data: Array[Byte]) = new PbfTestData.W().bytes(1, data).toArray
    val zlib = PbfTestData.deflate(block)
    zlib(0) = (zlib(0) ^ 1).toByte // breaks the zlib header check
    // a node whose tag key indexes past the block's string table
    val badIndex = new PbfTestData.W()
      .msg(1)(_.str(1, ""))
      .msg(2)(_.msg(1) { n => n.sint(1, 6L); n.packed(2, Seq(5L)); n.packed(3, Seq(5L)) })
      .toArray
    for ((name, blob) <- Seq(
        "truncated block" -> raw(block.take(block.length / 2)),
        "string index out of range" -> raw(badIndex),
        "bit-flipped zlib payload" ->
          new PbfTestData.W().vint(2, block.length).bytes(3, zlib).toArray,
        // zlib_data declaring 256 MiB inside a 10-byte Blob
        "Blob field overrunning the blob" ->
          (new PbfTestData.W().tag(3, 2).varint(256L << 20).toArray ++ new Array[Byte](4)))) {
      val out = new java.io.ByteArrayOutputStream()
      out.write(sampleBytes)
      val offset = out.size()
      val header = new PbfTestData.W().str(1, "OSMData").vint(3, blob.length).toArray
      out.write(ByteBuffer.allocate(4).putInt(header.length).array)
      out.write(header)
      out.write(blob)
      val f = Files.createTempDirectory("pbfblock").resolve("bad.osm.pbf")
      Files.write(f, out.toByteArray)
      val batch = scan(f.toString, "maxPartitionBytes" -> "1")
      val factory = batch.createReaderFactory()
      val parts = batch.planInputPartitions()
      parts.init.foreach(p => drain(factory.createReader(p)))
      failsNaming(name, f.toString, offset) {
        drain(factory.createReader(parts.last))
      }
    }
  }

  private lazy val splitPbf = SplitPbf.write(Files.createTempDirectory("pbfsplit"))

  private def planned(path: String, options: (String, String)*): Seq[OsmPbfInputPartition] =
    scan(path, options: _*).planInputPartitions().toSeq
      .map(_.asInstanceOf[OsmPbfInputPartition])

  test("split size follows the input's bytes and the session's parallelism") {
    val parallelism = spark.sparkContext.defaultParallelism
    val data = spans(Files.readAllBytes(Paths.get(splitPbf))).filter(_.blobType == "OSMData")
    data.map(_.dataSize.toLong).sum should be > 2 * OsmPbfScan.MinSplitBytes
    val parts = planned(splitPbf)
    if (parallelism >= 2) parts.length should be > 1
    parts.length should be <= math.min(data.length, parallelism)
    // blob-aligned, contiguous and non-overlapping: each partition is a
    // run of whole OSMData blobs, and the runs in order are every blob once
    val runs = parts.map(p => data.filter(s => s.headerStart >= p.startOffset &&
      s.endOffset <= p.endOffset))
    parts.zip(runs).foreach { case (p, run) =>
      run should not be empty
      (p.startOffset, p.endOffset) shouldBe ((run.head.headerStart, run.last.endOffset))
    }
    parts.zip(parts.tail).foreach { case (a, b) => b.startOffset shouldBe a.endOffset }
    runs.flatten shouldBe data

    val df = spark.read.format("osm-pbf").load(splitPbf)
    df.rdd.getNumPartitions shouldBe parts.length
    val key = (e: PbfFixtureEncoder.Entity) => (e.kind, e.id)
    PbfFixtureEncoder.fromRows(df.withColumn("tags", map_entries($"tags")).collect().toSeq)
      .sortBy(key) shouldBe SplitPbf.entities.sortBy(key)

    // below the floor a file stays one partition; an explicit cap still
    // splits per blob
    planned(pbfPath).length shouldBe 1
    planned(splitPbf, "maxPartitionBytes" -> "1").length shouldBe data.length
  }

  private implicit class Dollar(sc: StringContext) {
    def $(args: Any*): org.apache.spark.sql.Column = col(sc.s(args: _*))
  }
}
