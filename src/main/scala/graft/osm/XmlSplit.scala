package graft.osm

import java.io.{BufferedInputStream, Closeable, IOException, InputStream}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.hadoop.io.compress.{BZip2Codec, CompressionCodecFactory}
import org.apache.hadoop.io.compress.SplittableCompressionCodec.READ_MODE
import org.apache.hadoop.io.compress.bzip2.CBZip2InputStream

/** Record-aligned splits of an XML file whose records are the elements
  * directly under its root, as a changeset dump's `<changeset>`s are.
  *
  * The planner sees a plain or bz2 UTF-8 file as [[ChunkBytes]] units.
  * The partition of bytes `[start, end)` reads the records from
  * `nextRecordStart(start)` up to `nextRecordStart(end)` — Hadoop's
  * `LineRecordReader` rule, with a record start for a line start. Both
  * ends come from one function of the file's bytes, so adjacent splits
  * agree on the boundary between them by construction. The partition at
  * byte 0 reads from byte 0, so StAX sees the real prolog and root; any
  * other is read wrapped in a synthetic `<osm>`, and each but the last
  * gets a synthetic `</osm>`.
  *
  * A record starts at `<tag` followed by whitespace, `>` or `/`, except
  * inside a comment, a CDATA section or a processing instruction. That
  * is judged from the [[Lookahead]] bytes after the candidate: it is
  * inside such a construct when the construct's closer (`-->`, `]]>`,
  * `?>`) comes there before its opener. The judgement can be wrong only
  * for a construct longer than the lookahead, or a CDATA section or
  * instruction that quotes its own opener. Then the boundary falls
  * inside the construct, the split before it ends inside it, and StAX
  * fails naming the file — never duplicated or missing rows: a boundary
  * that the split before it parses up to cleanly is a real record start,
  * by induction from the split at byte 0.
  *
  * A bz2 split owns the bz2 blocks whose 48-bit block marker starts in
  * its byte range. It decompresses them, block by block, with Hadoop's
  * `CBZip2InputStream` in `BYBLOCK` mode, and applies the same rule in
  * decompressed space; its end is where the next split's first block
  * starts.
  */
private[osm] object XmlSplit {

  /** The planner's unit of a splittable file; small against the 1 MiB
    * smallest split, so that partitions come out balanced.
    */
  val ChunkBytes: Long = 64L << 10

  /** How far past a candidate record start the construct check looks. */
  val Lookahead: Int = 64 << 10

  private val BlockMarker = 0x314159265359L
  private val HeadBytes = 256
  private val Encoding = """encoding\s*=\s*["']([^"']*)["']""".r
  private val SyntheticRoot = "<osm>".getBytes(UTF_8)
  private val SyntheticEnd = "</osm>".getBytes(UTF_8)

  def units(length: Long): Seq[FileUnit] =
    (0L until length by ChunkBytes).map { s =>
      val e = math.min(s + ChunkBytes, length)
      FileUnit(s, e, e - s)
    }

  /** Whether `path` is plain or bz2 XML in UTF-8. */
  def splittable(path: String, conf: Configuration): Boolean = {
    val codec = new CompressionCodecFactory(conf).getCodec(new Path(path))
    (codec == null || codec.isInstanceOf[BZip2Codec]) && (try {
      val in = OsmXmlUtil.openDecompressed(path, conf)
      try utf8(in.readNBytes(HeadBytes)) finally in.close()
    } catch { case _: IOException | _: IllegalArgumentException => false })
  }

  /** Whether a document starting with `head` is UTF-8: no UTF-16/32 byte
    * order mark or zero byte, and no encoding declared but UTF-8.
    */
  def utf8(head: Array[Byte]): Boolean = {
    val s = new String(head, ISO_8859_1)
    val doc = if (s.startsWith("\u00EF\u00BB\u00BF")) s.substring(3) else s
    !doc.take(4).exists(c => c == '\u0000' || c == '\u00FE' || c == '\u00FF') && (
      !doc.startsWith("<?xml") ||
        doc.indexOf("?>") > 0 && Encoding.findFirstMatchIn(doc.substring(0, doc.indexOf("?>")))
          .forall(_.group(1).equalsIgnoreCase("UTF-8")))
  }

  /** Whether `range` is all of its file, which then reads as one stream. */
  def wholeFile(range: OsmFileRange, conf: Configuration): Boolean = {
    val hp = new Path(range.path)
    range.startOffset == 0 && range.endOffset >= hp.getFileSystem(conf).getFileStatus(hp).getLen
  }

  /** The stream StAX reads for the split `range` of records `tag`, and the
    * namer of its lines: file lines for the split at byte 0, else lines
    * counted from the split's first record.
    */
  def open(range: OsmFileRange, tag: String, conf: Configuration): (InputStream, Int => String) = {
    val hp = new Path(range.path)
    val raw = hp.getFileSystem(conf).open(hp)
    OsmXmlUtil.closing(raw) {
      val src: SplitBytes =
        if (new CompressionCodecFactory(conf).getCodec(hp) == null) {
          new PlainBytes(raw, range.startOffset, range.endOffset)
        } else {
          try new Bz2Bytes(range.path, raw, range.startOffset, range.endOffset)
          catch { case e: IOException => throw new IllegalArgumentException(e.getMessage, e) }
        }
      val in = new RecordSplitStream(src, s"<$tag".getBytes(UTF_8))
      val at: Int => String =
        if (src.fromStart) OsmXmlUtil.atLine(range.path)
        else src match {
          case b: Bz2Bytes => line =>
            s"${range.path} at line $line of the split starting in the bz2 block at byte offset ${b.first}"
          case _ => line =>
            s"${range.path} at line $line of the split starting at byte offset " +
              s"${range.startOffset + math.max(in.first, 0L)}"
        }
      (in, at)
    }
  }

  /** The first record start in `buf(from until until)`, judging each
    * candidate from the bytes before `hi`; `until` if none.
    */
  def nextRecordStart(buf: Array[Byte], from: Int, until: Int, hi: Int,
      open: Array[Byte]): Int = {
    var i = from
    while (i < until && !recordAt(buf, i, hi, open)) i += 1
    i
  }

  /** Whether a record starts at `buf(i)`, from the bytes before `hi`. */
  def recordAt(buf: Array[Byte], i: Int, hi: Int, open: Array[Byte]): Boolean =
    buf(i) == '<' && i + open.length < hi && startsWith(buf, i, hi, open) && {
      val c = buf(i + open.length)
      c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '>' || c == '/'
    } && !enclosed(buf, i, math.min(hi, i + 1 + Lookahead))

  /** Whether the candidate at `i` lies in a comment, CDATA section or
    * processing instruction: the construct's closer comes in
    * `buf(i + 1 until hi)` before its opener.
    */
  private def enclosed(buf: Array[Byte], i: Int, hi: Int): Boolean = {
    // per construct: 0 undecided, 1 opener first, 2 closer first
    var comment, cdata, pi = 0
    var k = i + 1
    while (k < hi && (comment == 0 || cdata == 0 || pi == 0)) {
      val c = buf(k)
      if (c == '<') {
        if (comment == 0 && startsWith(buf, k, hi, CommentOpen)) comment = 1
        else if (cdata == 0 && startsWith(buf, k, hi, CdataOpen)) cdata = 1
        else if (pi == 0 && k + 1 < hi && buf(k + 1) == '?') pi = 1
      } else if (c == '-') {
        if (comment == 0 && startsWith(buf, k, hi, CommentClose)) comment = 2
      } else if (c == ']') {
        if (cdata == 0 && startsWith(buf, k, hi, CdataClose)) cdata = 2
      } else if (c == '?') {
        if (pi == 0 && k + 1 < hi && buf(k + 1) == '>') pi = 2
      }
      k += 1
    }
    comment == 2 || cdata == 2 || pi == 2
  }

  private val CommentOpen = "<!--".getBytes(UTF_8)
  private val CommentClose = "-->".getBytes(UTF_8)
  private val CdataOpen = "<![CDATA[".getBytes(UTF_8)
  private val CdataClose = "]]>".getBytes(UTF_8)

  private def startsWith(buf: Array[Byte], i: Int, hi: Int, s: Array[Byte]): Boolean =
    i + s.length <= hi && {
      var j = 0
      while (j < s.length && buf(i + j) == s(j)) j += 1
      j == s.length
    }

  /** The byte offset of the first bz2 block marker that starts (at any
    * bit) at or after byte `start` and before byte `stop`, or -1; `in`
    * stands at `start`.
    */
  def firstMarker(in: InputStream, start: Long, stop: Long): Long = {
    val bin = new BufferedInputStream(in, 1 << 16)
    var window = 0L
    var bytes = 0L
    var c = bin.read()
    while (c >= 0 && 8 * bytes < 8 * (stop - start) + 48) {
      window = (window << 8) | c
      bytes += 1
      // a marker ending `shift` bits before the end of the bytes read
      var shift = 7
      while (shift >= 0) {
        val bit = 8 * bytes - 48 - shift
        if (bit >= 0 && ((window >>> shift) & 0xFFFFFFFFFFFFL) == BlockMarker)
          return if (start + (bit >> 3) < stop) start + (bit >> 3) else -1
        shift -= 1
      }
      c = bin.read()
    }
    -1
  }

  /** The decompressed bytes a split reads: its own, then on to the end of
    * the file.
    */
  abstract class SplitBytes extends Closeable {
    /** Whether the split's first byte is the file's first byte. */
    def fromStart: Boolean
    /** The offset, from this split's first byte, of the next split's
      * first byte; Long.MaxValue while unknown.
      */
    def end: Long
    /** Reads at least one byte, or returns -1 at the end of the file. */
    def read(b: Array[Byte], off: Int, len: Int): Int
  }

  private final class PlainBytes(in: FSDataInputStream, start: Long, stop: Long)
      extends SplitBytes {
    in.seek(start)
    val fromStart: Boolean = start == 0
    val end: Long = stop - start
    def read(b: Array[Byte], off: Int, len: Int): Int = in.read(b, off, len)
    def close(): Unit = in.close()
  }

  /** The blocks from the first whose marker starts in `[start, stop)`;
    * `end` becomes known on entering the first block that starts at or
    * after `stop`. Decoder failures name the file and the block.
    */
  final class Bz2Bytes(path: String, raw: FSDataInputStream, start: Long, stop: Long)
      extends SplitBytes {
    private var block = start
    private def decoding[A](f: => A): A =
      try f catch {
        case e @ (_: IOException | _: RuntimeException) => throw new IOException(
          s"bz2 data error in $path in the block at byte offset $block: $e", e)
      }

    /** Byte offset of this split's first block marker; -1 if it owns none. */
    val first: Long = decoding { raw.seek(start); firstMarker(raw, start, stop) }
    /** Whether `first` is the file's first block: no marker before
      * `start` (the search stops at the first, four bytes in).
      */
    val fromStart: Boolean =
      first >= 0 && decoding { raw.seek(0); firstMarker(raw, 0, start) < 0 }
    block = first
    private val in: CBZip2InputStream =
      if (first < 0) null
      else decoding { raw.seek(first); new CBZip2InputStream(raw, READ_MODE.BYBLOCK) }
    private var produced = 0L
    var end: Long = if (first < 0) 0L else Long.MaxValue

    def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (in == null) return -1
      while (true) {
        val n = decoding(in.read(b, off, len))
        if (n > 0) { produced += n; return n }
        if (n != -2) return -1
        // end of block: the decoder now stands at the next block's marker
        block = first + in.getProcessedByteCount
        if (end == Long.MaxValue && block >= stop) end = produced
      }
      -1
    }

    def close(): Unit = raw.close()
  }

  /** The bytes StAX reads for one split of `src`: the synthetic root
    * unless it starts the file, the source from its first record start (or its
    * first byte) to the first record start at or after `src.end`, and the
    * synthetic end unless that is the end of the file. An empty split
    * reads as `<osm></osm>`.
    */
  final class RecordSplitStream(src: SplitBytes, open: Array[Byte]) extends InputStream {
    private val fromStart = src.fromStart
    private val window = open.length + 1 + Lookahead
    private var buf = new Array[Byte](4 * window)
    private var base = 0L // source offset of buf(0)
    private var hi = 0 // buf(0 until hi) holds source bytes
    private var eof = false
    private var pos = 0L // source offset of the next byte to emit or skip
    private var limit = 0L // source bytes before `limit` may be emitted
    private var stopped = false // `limit` ends the split
    private var atRecord = false // the split ends at a record start
    private var extra: Array[Byte] = Array.emptyByteArray // synthetic bytes
    private var extraAt = 0
    private var afterExtra = Done
    private var state = if (fromStart) Body else Start

    /** Source offset of the split's first byte, once known; -1 before. */
    def first: Long = if (state == Start) -1L else if (fromStart) 0L else firstRecord
    private var firstRecord = -1L

    /** Reads more source bytes, keeping those from `pos` on. */
    private def more(): Boolean = !eof && {
      val keep = (pos - base).toInt
      if (keep > 0) {
        System.arraycopy(buf, keep, buf, 0, hi - keep)
        hi -= keep
        base = pos
      }
      if (hi == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      val n = src.read(buf, hi, buf.length - hi)
      if (n < 0) eof = true else hi += n
      n >= 0
    }

    /** The first record start at or after `pos` among the buffered bytes
      * whose lookahead is buffered too; else -1, with `checked` the source
      * offset up to which no record starts.
      */
    private var checked = 0L
    private def findRecord(): Long = {
      val from = (pos - base).toInt
      val until = math.max(from, if (eof) hi else hi - window + 1)
      val k = nextRecordStart(buf, from, until, hi, open)
      if (k < until) base + k
      else { checked = base + k; -1L }
    }

    private def emit(bytes: Array[Byte], next: Int): Unit = {
      extra = bytes
      extraAt = 0
      afterExtra = next
      state = Extra
    }

    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) < 0) -1 else one(0) & 0xFF
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      while (true) {
        state match {
          case Start =>
            val c = findRecord()
            if (c >= 0 && c < src.end) {
              firstRecord = c
              pos = c
              limit = c
              emit(SyntheticRoot, Body)
            } else if (c >= 0 || eof) emit(SyntheticRoot ++ SyntheticEnd, Done)
            else {
              pos = checked
              more()
            }
          case Extra =>
            if (extraAt < extra.length) {
              val n = math.min(len, extra.length - extraAt)
              System.arraycopy(extra, extraAt, b, off, n)
              extraAt += n
              return n
            }
            state = afterExtra
          case Body =>
            if (pos < limit) {
              val n = math.min(len.toLong, limit - pos).toInt
              System.arraycopy(buf, (pos - base).toInt, b, off, n)
              pos += n
              return n
            } else if (stopped) {
              if (atRecord) emit(SyntheticEnd, Done) else state = Done
            } else if (pos < src.end) {
              if (pos < base + hi || more()) limit = math.min(src.end, base + hi)
              else stopped = true
            } else {
              val c = findRecord()
              if (c >= 0) { limit = c; stopped = true; atRecord = true }
              else if (eof) { limit = base + hi; stopped = true }
              else if (checked > pos) limit = checked
              else more()
            }
          case Done => return -1
        }
      }
      -1
    }

    override def close(): Unit = src.close()
  }

  private final val Start = 0
  private final val Extra = 1
  private final val Body = 2
  private final val Done = 3
}
