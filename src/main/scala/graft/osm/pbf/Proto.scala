package graft.osm.pbf

import java.nio.charset.StandardCharsets

/** Minimal protobuf wire-format reader — just what the public OSM PBF
  * spec (wiki.openstreetmap.org/wiki/PBF_Format) needs: varints, zigzag,
  * length-delimited slices, packed repeated scalars.
  *
  * Hand-rolled instead of depending on protobuf-java codegen so the
  * source has zero runtime deps beyond the Spark classpath and decoding
  * stays allocation-light inside executor tasks.
  */
object Proto {

  final val WireVarint = 0
  final val WireFixed64 = 1
  final val WireLen = 2
  final val WireFixed32 = 5

  def zigzag(v: Long): Long = (v >>> 1) ^ -(v & 1)

  /** Cursor over a byte-array slice. */
  final class Reader(val buf: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end

    def readVarint(): Long = {
      var shift = 0
      var res = 0L
      while (true) {
        val b = buf(pos); pos += 1
        res |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return res
        shift += 7
      }
      res // unreachable
    }

    /** returns (fieldNumber << 3 | wireType) */
    def readTag(): Int = readVarint().toInt

    /** A length prefix. A negative one is refused: it would move the
      * cursor back, and a loop could then re-read the same bytes forever.
      */
    private def readLength(): Int = {
      val n = readVarint().toInt
      if (n < 0) throw new IndexOutOfBoundsException(s"negative field length $n")
      n
    }

    def readSlice(): Reader = {
      val n = readLength()
      val r = new Reader(buf, pos, pos + n)
      pos += n
      r
    }

    /** Checked, unlike the other reads: copyOfRange would zero-pad a
      * length that overruns the buffer, allocating whatever it declares.
      */
    def readBytes(): Array[Byte] = {
      val n = readVarint()
      if (n < 0 || n > end - pos) throw new IndexOutOfBoundsException(
        s"field length $n overruns the ${end - pos} bytes left")
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + n.toInt)
      pos += n.toInt
      out
    }

    def readString(): String = {
      val n = readVarint().toInt
      val s = new String(buf, pos, n, StandardCharsets.UTF_8)
      pos += n
      s
    }

    def skip(wireType: Int): Unit = wireType match {
      case WireVarint => readVarint()
      case WireFixed64 => pos += 8
      case WireLen => val n = readLength(); pos += n
      case WireFixed32 => pos += 4
      case other => throw new IllegalArgumentException(s"unsupported wire type $other")
    }

    /** The varints are counted before their array is allocated: one per
      * byte with the high bit clear, plus one for a last varint that runs
      * past the slice's end, which is read as the loop to the end reads it.
      */
    def readPackedVarints(): Array[Long] = {
      val s = readSlice()
      var n = 0
      var i = s.pos
      while (i < s.end) { if (buf(i) >= 0) n += 1; i += 1 }
      if (s.end > s.pos && buf(s.end - 1) < 0) n += 1
      val out = new Array[Long](n)
      i = 0
      while (i < n) { out(i) = s.readVarint(); i += 1 }
      out
    }

    def readPackedZigzag(): Array[Long] = {
      val a = readPackedVarints()
      var i = 0
      while (i < a.length) { a(i) = zigzag(a(i)); i += 1 }
      a
    }

    /** packed zigzag with running-delta decoding (DenseNodes / refs). */
    def readPackedDeltaZigzag(): Array[Long] = {
      val a = readPackedZigzag()
      var i = 1
      while (i < a.length) { a(i) += a(i - 1); i += 1 }
      a
    }
  }

  def reader(buf: Array[Byte]): Reader = new Reader(buf, 0, buf.length)
}
