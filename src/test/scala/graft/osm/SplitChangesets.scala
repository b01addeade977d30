package graft.osm

import java.io.{ByteArrayOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream

/** Seeded changeset XML that makes record-aligned splitting hard: every
  * kind of text that may hold a `<changeset` that starts no record — a
  * comment, a CDATA section, a processing instruction — between records
  * and inside them, discussions with long `<text>` bodies, attribute
  * values holding `>`, `-->` and `?>`, and self-closing changesets.
  */
object SplitChangesets {

  def xml(seed: Long, changesets: Int): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    def word(n: Int) = rnd.alphanumeric.take(n).mkString
    def ts() = f"${2005 + rnd.nextInt(20)}%04d-${1 + rnd.nextInt(12)}%02d-" +
      f"${1 + rnd.nextInt(28)}%02dT${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:" +
      f"${rnd.nextInt(60)}%02dZ"
    def coord(max: Int) = f"${rnd.nextDouble() * 2 * max - max}%.7f"
    val sb = new StringBuilder
    sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\" generator=\"split\">\n"
    for (i <- 1 to changesets) {
      rnd.nextInt(12) match {
        case 0 => sb ++= s"""  <!-- old: <changeset id="${-i}" open="false"> ${word(40)} -->\n"""
        case 1 => sb ++= s"""  <?note <changeset id="${-i}"/> ${word(20)}?>\n"""
        case _ =>
      }
      if (rnd.nextInt(5) == 0) {
        sb ++= s"""  <changeset id="$i" created_at="${ts()}" open="true" comments_count="0"/>\n"""
      } else {
        val comments = if (rnd.nextInt(3) == 0) 1 + rnd.nextInt(3) else 0
        sb ++= s"""  <changeset id="$i" created_at="${ts()}" closed_at="${ts()}" open="false" """ +
          s"""user="u${word(6)}" uid="${rnd.nextInt(100000)}" min_lat="${coord(89)}" """ +
          s"""max_lat="${coord(89)}" min_lon="${coord(179)}" max_lon="${coord(179)}" """ +
          s"""num_changes="${rnd.nextInt(5000)}" comments_count="$comments">\n"""
        for (_ <- 0 until rnd.nextInt(4)) {
          val v = rnd.nextInt(6) match {
            case 0 => s"a > b --> ${word(8)}"
            case 1 => s"why ?> ${word(8)}"
            case 2 => s"&lt;changeset &amp; ${word(8)}"
            case _ => word(4 + rnd.nextInt(60))
          }
          sb ++= s"""    <tag k="${word(5)}" v="$v"/>\n"""
        }
        if (rnd.nextInt(10) == 0) sb ++= s"""    <!-- note <changeset id="${-i}"/> -->\n"""
        if (comments > 0) {
          sb ++= "    <discussion>\n"
          for (_ <- 0 until comments) {
            val text = rnd.nextInt(3) match {
              case 0 => s"""<![CDATA[quoted <changeset id="${-i}"> & ${word(30)}]]> ${word(20)}"""
              case _ => (0 until 1 + rnd.nextInt(40)).map(_ => word(1 + rnd.nextInt(9))).mkString(" ")
            }
            sb ++= s"""      <comment date="${ts()}" uid="${rnd.nextInt(1000)}" user="c${word(4)}">\n""" +
              s"""        <text>$text</text>\n      </comment>\n"""
          }
          sb ++= "    </discussion>\n"
        }
        sb ++= "  </changeset>\n"
      }
    }
    sb ++= "</osm>\n"
    sb.toString.getBytes(UTF_8)
  }

  def gzip(bytes: Array[Byte]): Array[Byte] = compressed(bytes, new GZIPOutputStream(_))

  /** bz2 with 100k blocks, so that a few MB hold dozens of blocks. */
  def bz2(bytes: Array[Byte]): Array[Byte] = compressed(bytes, new BZip2CompressorOutputStream(_, 1))

  private def compressed(bytes: Array[Byte], wrap: OutputStream => OutputStream): Array[Byte] = {
    val out = new ByteArrayOutputStream
    val z = wrap(out)
    z.write(bytes)
    z.close()
    out.toByteArray
  }
}
