package graft.osm

import java.io.{ByteArrayInputStream, DataInputStream}
import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.osm.pbf.{OsmPbfSource, PbfDecode}

/** Seeded mutations of PBF files, read through `osm-pbf` with a random
  * `maxPartitionBytes`: each read gives the rows of a one-partition read
  * of the same bytes, or an IllegalArgumentException naming the file and
  * a byte offset, in bounded memory and without hanging.
  */
class PbfMutationSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val format = OsmPbfSource.Format
  private lazy val conf = spark.sessionState.newHadoopConf()
  private lazy val dir = Files.createTempDirectory("pbffuzz")
  private lazy val golden = Files.readAllBytes(Paths.get(PbfTestData.writeSample(dir)))
  private lazy val split = Files.readAllBytes(Paths.get(SplitPbf.write(dir)))

  /** Row count and an order-free sum of the rows' content hashes; the
    * rows hold the columns of `schema`.
    */
  private def digest(readers: Seq[PartitionReader[InternalRow]],
      schema: StructType = format.schema): (Long, Long) = {
    val unsafe = UnsafeProjection.create(schema)
    var n, h = 0L
    readers.foreach { r =>
      try while (r.next()) { n += 1; h += unsafe(r.get()).hashCode() }
      finally r.close()
    }
    (n, h)
  }

  private def splitRead(path: String, maxPartitionBytes: Long): (Long, Long) = {
    val provider = new OsmPbfSource
    val props = Map("path" -> path).asJava
    val table = provider.getTable(format.schema, Array.empty, props)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
    val parts = table.newScanBuilder(new CaseInsensitiveStringMap(
        Map("maxPartitionBytes" -> maxPartitionBytes.toString).asJava))
      .build().toBatch.planInputPartitions()
    digest(parts.toSeq.map(p => format.reader(p.asInstanceOf[OsmFileRange], format.schema,
      Array.empty, conf)))
  }

  private def wholeRead(path: String, length: Long, required: StructType = format.schema,
      pushed: Array[Filter] = Array.empty): (Long, Long) =
    digest(Seq(format.reader(OsmFileRange(path, 0, length), required, pushed, conf)), required)

  private def attempt[A](f: => A): Either[Throwable, A] =
    try Right(f) catch { case e: Exception => Left(e) }

  /** `f` on its own thread: its result and the bytes that thread allocated;
    * fails if it has not finished within two minutes.
    */
  private def onThread[A](f: => A): (Either[Throwable, A], Long) = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    var result: Either[Throwable, A] = null
    var allocated = 0L
    val t = new Thread(() => {
      val before = mx.getThreadAllocatedBytes(Thread.currentThread().getId)
      result = attempt(f)
      allocated = mx.getThreadAllocatedBytes(Thread.currentThread().getId) - before
    })
    t.start()
    t.join(120000)
    withClue("read still running after 120 s: ") { t.isAlive shouldBe false }
    (result, allocated)
  }

  private def mutate(base: Array[Byte], spans: Seq[PbfDecode.BlobSpan],
      rnd: scala.util.Random): Array[Byte] = {
    val s = spans(rnd.nextInt(spans.length))
    def resized(len: Int, max: Int): Int = rnd.nextInt(4) match {
      case 0 => len + rnd.nextInt(129) - 64
      case 1 => rnd.nextInt(math.max(1, 2 * len))
      case 2 => rnd.nextInt(max)
      case _ => rnd.nextInt()
    }
    rnd.nextInt(4) match {
      case 0 => base.take(rnd.nextInt(base.length))
      case 1 =>
        val out = base.clone()
        for (_ <- 0 until 1 + rnd.nextInt(6)) {
          val i = rnd.nextInt(out.length)
          out(i) = (out(i) ^ (1 << rnd.nextInt(8))).toByte
        }
        out
      case 2 => // the 4-byte BlobHeader length
        val out = base.clone()
        val headerLen = (s.dataStart - s.headerStart - 4).toInt
        ByteBuffer.wrap(out).putInt(s.headerStart.toInt, resized(headerLen, 64 << 10))
        out
      case _ => // the BlobHeader's datasize, header re-encoded around it
        val header = new PbfTestData.W().str(1, s.blobType)
          .vint(3, resized(s.dataSize, 64 << 20).toLong).toArray
        base.take(s.headerStart.toInt) ++ ByteBuffer.allocate(4).putInt(header.length).array ++
          header ++ base.drop(s.dataStart.toInt)
    }
  }

  /** Fuzz `inputs` mutations of `base`; the counts of exact and of
    * failed reads, and the bytes per entity that the one-partition read
    * of `base` itself allocated. Each read may allocate at most 64 MiB
    * more than that read.
    */
  private def fuzz(name: String, base: Array[Byte], inputs: Int,
      seed: Long): (Int, Int, Long) = {
    val rnd = new scala.util.Random(seed)
    val fuzzDir = Files.createTempDirectory("pbffuzz-" + name)
    val in = new DataInputStream(new ByteArrayInputStream(base))
    val spans = PbfDecode.scanBlobSpans(in, n => in.skipNBytes(n))
    val intact = Files.write(fuzzDir.resolve(s"$name.osm.pbf"), base).toString
    wholeRead(intact, base.length) // compiles the digest's projection off the clock
    val (intactRows, intactAllocated) = onThread(wholeRead(intact, base.length))
    val entities = intactRows.fold(e => throw e, _._1)
    val budget = intactAllocated + (64L << 20)
    var exact, failed = 0
    for (i <- 0 until inputs) {
      val bytes = mutate(base, spans, rnd)
      val path = Files.write(fuzzDir.resolve(s"$name$i.osm.pbf"), bytes).toString
      val size = 1 + rnd.nextInt(2 << 20)
      val (whole, wholeAllocated) = onThread(wholeRead(path, bytes.length))
      val (splits, allocated) = onThread(splitRead(path, size))
      withClue(s"input $i ($path, ${bytes.length} bytes, maxPartitionBytes=$size): ") {
        Seq(whole, splits).foreach {
          case Left(e: IllegalArgumentException) =>
            e.getMessage should include(path)
            e.getMessage should include("byte offset")
          case Left(e) => throw e
          case Right(_) =>
        }
        if (splits.isRight) {
          whole shouldBe splits
          exact += 1
        } else failed += 1
        wholeAllocated should be < budget
        allocated should be < budget
      }
    }
    (exact, failed, intactAllocated / entities)
  }

  test("mutated golden sample reads exactly or fails naming file and offset") {
    val (exact, failed, _) = fuzz("golden", golden, inputs = 150, seed = 31)
    exact should be > 0
    failed should be > 100
  }

  /** Bytes the intact one-partition `SplitPbf` read may allocate per
    * entity, digest projection included (measured: about 590).
    */
  private val MaxBytesPerEntity = 720L

  test("mutated split file reads exactly or fails naming file and offset") {
    val (_, failed, bytesPerEntity) = fuzz("split", split, inputs = 30, seed = 37)
    failed should be > 20
    bytesPerEntity should be <= MaxBytesPerEntity
  }

  /** The one-partition reads whose outcomes are pinned: the full schema,
    * two pruned schemas and two pushed filters.
    */
  private val pinnedReads: Seq[(String, StructType, Array[Filter])] = {
    def cols(names: String*) = StructType(names.map(format.schema(_)))
    def dec(s: String) = new java.math.BigDecimal(s)
    Seq(
      ("full", format.schema, Array.empty[Filter]),
      ("id,type,tags", cols("id", "type", "tags"), Array.empty[Filter]),
      ("id,members", cols("id", "members"), Array.empty[Filter]),
      ("type = way", format.schema, Array[Filter](EqualTo("type", "way"))),
      ("lat/lon range", format.schema, Array[Filter](GreaterThanOrEqual("lat", dec("40")),
        LessThan("lat", dec("51.6")), GreaterThan("lon", dec("-120")),
        LessThanOrEqual("lon", dec("0.5")))))
  }

  test("pinned decode outcomes for full, pruned and pushed-filter reads") {
    val pinned = Map(
      ("golden", "full") -> (7L, -2070139667L),
      ("golden", "id,type,tags") -> (7L, 1432987334L),
      ("golden", "id,members") -> (7L, -4387534097L),
      ("golden", "type = way") -> (1L, 1713531853L),
      ("golden", "lat/lon range") -> (3L, -3711825674L),
      ("split", "full") -> (82200L, 368932472329L),
      ("split", "id,type,tags") -> (82200L, 111155394921L),
      ("split", "id,members") -> (82200L, 411189579140L),
      ("split", "type = way") -> (2000L, 44348260046L),
      ("split", "lat/lon range") -> (1696L, -34177009779L))
    val pinDir = Files.createTempDirectory("pbfpin")
    val got = (for {
      (file, bytes) <- Seq("golden" -> golden, "split" -> split)
      path = Files.write(pinDir.resolve(s"$file.osm.pbf"), bytes).toString
      (read, required, pushed) <- pinnedReads
    } yield (file, read) -> wholeRead(path, bytes.length, required, pushed)).toMap
    withClue(got.toSeq.sorted.mkString("\n", "\n", "\n")) { got shouldBe pinned }
  }
}
