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

    def readSlice(): Reader = {
      val n = readVarint().toInt
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
      case WireLen => val n = readVarint().toInt; pos += n
      case WireFixed32 => pos += 4
      case other => throw new IllegalArgumentException(s"unsupported wire type $other")
    }

    def readPackedVarints(): Array[Long] = {
      val s = readSlice()
      val out = new scala.collection.mutable.ArrayBuilder.ofLong
      out.sizeHint(64)
      while (s.hasMore) out += s.readVarint()
      out.result()
    }

    def readPackedZigzag(): Array[Long] = {
      val s = readSlice()
      val out = new scala.collection.mutable.ArrayBuilder.ofLong
      out.sizeHint(64)
      while (s.hasMore) out += zigzag(s.readVarint())
      out.result()
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
