package graft.osm

import java.nio.file.Files
import java.util.Locale
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Seeded mutations of osmChange files, plain and gzip, read through
  * `OsmChange.read`: each read returns rows or fails with an
  * IllegalArgumentException naming the file and a line, and none hangs.
  */
class OscMutationSpec extends AnyFunSuite with Matchers with SparkSpec {

  /** A seeded osmChange document: create, modify and delete blocks of
    * nodes, ways and relations with metadata and tags.
    */
  private def osc(seed: Long, entities: Int): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    def ts() = "%04d-%02d-%02dT%02d:%02d:%02dZ".format(2010 + rnd.nextInt(15),
      1 + rnd.nextInt(12), 1 + rnd.nextInt(28), rnd.nextInt(24), rnd.nextInt(60),
      rnd.nextInt(60))
    def coord(max: Int) = "%.7f".formatLocal(Locale.ROOT, rnd.nextDouble() * 2 * max - max)
    def meta(id: Int) = s"""id="$id" version="${1 + rnd.nextInt(5)}" """ +
      s"""changeset="${rnd.nextInt(100000)}" timestamp="${ts()}" """ +
      s"""uid="${rnd.nextInt(1000)}" user="u${rnd.nextInt(50)}""""
    def tags() = (0 until rnd.nextInt(3)).map(k =>
      s"""      <tag k="k$k" v="${rnd.alphanumeric.take(6).mkString}"/>\n""").mkString
    val sb = new StringBuilder(
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osmChange version=\"0.6\" generator=\"fuzz\">\n")
    for (block <- 0 until entities / 20) {
      val op = Seq("create", "modify", "delete")(block % 3)
      sb ++= s"  <$op>\n"
      for (i <- 0 until 20) {
        val id = block * 20 + i + 1
        rnd.nextInt(3) match {
          case 0 =>
            sb ++= s"""    <node ${meta(id)} lat="${coord(90)}" lon="${coord(180)}">\n"""
            sb ++= tags() + "    </node>\n"
          case 1 =>
            sb ++= s"""    <way ${meta(id)}>\n"""
            for (_ <- 0 until 2 + rnd.nextInt(4)) sb ++= s"""      <nd ref="${1 + rnd.nextInt(id)}"/>\n"""
            sb ++= tags() + "    </way>\n"
          case _ =>
            sb ++= s"""    <relation ${meta(id)}>\n"""
            for (_ <- 0 until 1 + rnd.nextInt(3)) {
              val tpe = Seq("node", "way", "relation")(rnd.nextInt(3))
              sb ++= s"""      <member type="$tpe" ref="${1 + rnd.nextInt(id)}" role="r"/>\n"""
            }
            sb ++= tags() + "    </relation>\n"
        }
      }
      sb ++= s"  </$op>\n"
    }
    sb ++= "</osmChange>\n"
    sb.toString.getBytes("UTF-8")
  }

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  /** `f` on its own thread; fails if it has not finished within two minutes. */
  private def onThread[A](f: => A): Either[Throwable, A] = {
    var result: Either[Throwable, A] = null
    val t = new Thread(() => result = try Right(f) catch { case e: Exception => Left(e) })
    t.start()
    t.join(120000)
    withClue("read still running after 120 s: ") { t.isAlive shouldBe false }
    result
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).toSeq

  test("mutated plain and gzip osmChange files read rows or fail naming the file and line") {
    val base = osc(seed = 31, entities = 600)
    val dir = Files.createTempDirectory("oscfuzz")
    val intact = Files.write(dir.resolve("intact.osc"), base).toString
    val intactRows = OsmChange.read(spark, intact).count()
    intactRows shouldBe 600
    val rnd = new scala.util.Random(37)
    def flip(b: Array[Byte]): Array[Byte] = {
      val out = b.clone()
      for (_ <- 0 until 1 + rnd.nextInt(6)) {
        val i = rnd.nextInt(out.length)
        out(i) = (out(i) ^ (1 << rnd.nextInt(8))).toByte
      }
      out
    }
    val letters = ('a' to 'z') ++ ('A' to 'Z')
    def mutate(b: Array[Byte]): Array[Byte] = rnd.nextInt(3) match {
      case 0 => b.take(rnd.nextInt(b.length))
      case 1 => flip(b)
      case _ => // letters swapped for letters, digits for digits: mostly valid
        val out = b.clone()
        for (_ <- 0 until 1 + rnd.nextInt(20)) {
          val j = rnd.nextInt(out.length)
          val c = out(j).toChar
          if (c.isDigit) out(j) = ('0' + rnd.nextInt(10)).toByte
          else if (letters.contains(c)) out(j) = letters(rnd.nextInt(letters.length)).toByte
        }
        out
    }
    var read, failed = 0
    for (i <- 0 until 90) {
      val gz = i % 3 == 0
      val bytes =
        if (!gz) mutate(base)
        else rnd.nextInt(3) match {
          case 0 => gzip(mutate(base))
          case 1 => mutate(gzip(base))
          case _ => // the gzip header and the first deflate bytes
            val out = gzip(base)
            val j = rnd.nextInt(16)
            out(j) = (out(j) ^ (1 << rnd.nextInt(8))).toByte
            out
        }
      val path = Files.write(dir.resolve(s"f$i.osc" + (if (gz) ".gz" else "")), bytes).toString
      withClue(s"input $i ($path, ${bytes.length} bytes): ") {
        onThread(OsmChange.read(spark, path).collect()) match {
          case Right(rows: Array[Row]) =>
            rows.length should be <= 600
            read += 1
          case Left(e) =>
            val named = causes(e).collectFirst { case iae: IllegalArgumentException => iae }
            withClue(s"$e: ") { named should not be empty }
            named.get.getMessage should include(s"$path at line ")
            failed += 1
        }
      }
    }
    info(s"$read inputs read, $failed failed with a named error")
    read should be > 10
    failed should be > 20
  }
}
