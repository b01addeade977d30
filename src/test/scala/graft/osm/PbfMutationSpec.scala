package graft.osm

import java.io.{ByteArrayInputStream, DataInputStream}
import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.connector.read.PartitionReader
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

  /** Row count and an order-free sum of the rows' content hashes. */
  private def digest(readers: Seq[PartitionReader[InternalRow]]): (Long, Long) = {
    val unsafe = UnsafeProjection.create(format.schema)
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

  private def wholeRead(path: String, length: Long): (Long, Long) =
    digest(Seq(format.reader(OsmFileRange(path, 0, length), format.schema, Array.empty, conf)))

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
    * failed reads. Each read may allocate at most 64 MiB more than the
    * one-partition read of `base` itself.
    */
  private def fuzz(name: String, base: Array[Byte], inputs: Int, seed: Long): (Int, Int) = {
    val rnd = new scala.util.Random(seed)
    val fuzzDir = Files.createTempDirectory("pbffuzz-" + name)
    val in = new DataInputStream(new ByteArrayInputStream(base))
    val spans = PbfDecode.scanBlobSpans(in, n => in.skipNBytes(n))
    val intact = Files.write(fuzzDir.resolve(s"$name.osm.pbf"), base).toString
    wholeRead(intact, base.length) // compiles the digest's projection off the clock
    val (intactRows, intactAllocated) = onThread(wholeRead(intact, base.length))
    intactRows.map(_._1) should be(Symbol("right"))
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
    (exact, failed)
  }

  test("mutated golden sample reads exactly or fails naming file and offset") {
    val (exact, failed) = fuzz("golden", golden, inputs = 150, seed = 31)
    exact should be > 0
    failed should be > 100
  }

  test("mutated split file reads exactly or fails naming file and offset") {
    val (exact, failed) = fuzz("split", split, inputs = 30, seed = 37)
    failed should be > 20
  }
}
