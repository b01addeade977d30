package graft.osm.pbf

import java.io.{DataInputStream, EOFException}
import java.util.zip.Inflater

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, SpecificInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{Decimal, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.osm.OsmSchemas
import graft.osm.pbf.Proto.Reader

/** OSM PBF decoding: fileformat (BlobHeader/Blob) + osmformat
  * (PrimitiveBlock with string table, dense nodes, ways, relations).
  * A PrimitiveBlock decodes straight into rows of the planet schema,
  * one row reused for every entity of the block; there is no
  * intermediate entity model.
  *
  * Field numbers and semantics follow the public spec
  * (wiki.openstreetmap.org/wiki/PBF_Format). The reference reaches the
  * same entity stream through the osm4j library
  * (/root/reference/src/main/java/net/mojodna/osm2orc/standalone/OsmPbf2Orc.java:118);
  * that library is not on our classpath, and a DSv2 source needs the
  * Blob framing anyway for split planning, so we decode natively.
  */
object PbfDecode {

  /** One blob's framing within the file (for split planning). */
  final case class BlobSpan(blobType: String, headerStart: Long, dataStart: Long,
      dataSize: Int) {
    def endOffset: Long = dataStart + dataSize
  }

  /** A PBF that cannot be read, named by file and byte offset. */
  final class PbfFormatException(path: String, offset: Long, what: String,
      cause: Throwable = null)
      extends IllegalArgumentException(s"PBF $path at byte offset $offset: $what", cause)

  /** Handler naming `path` and `offset` on the exceptions that reading
    * corrupt or truncated bytes raises: end of file, the decoders' own
    * IllegalArgumentExceptions, the zlib and lz4 codecs' data errors, the
    * raw index/size exceptions of Proto.Reader, which does not check
    * lengths so that the decode loop stays free of per-field checks, and
    * the ArithmeticException of a coordinate outside decimal(9,7)/(10,7).
    */
  def failAt(path: String, offset: Long): PartialFunction[Throwable, Nothing] = {
    case e: PbfFormatException => throw e
    case e: EOFException =>
      throw new PbfFormatException(path, offset, "file ends inside this blob's frame", e)
    case e @ (_: IllegalArgumentException | _: IndexOutOfBoundsException |
        _: NegativeArraySizeException | _: java.util.zip.DataFormatException |
        _: net.jpountz.lz4.LZ4Exception | _: ArithmeticException) =>
      throw new PbfFormatException(path, offset, e.toString, e)
  }

  // ---- file framing ------------------------------------------------

  /** The spec's cap on one BlobHeader message. */
  private val MaxHeaderBytes = 64 * 1024

  /** Read the frame head at `offset`: the 4-byte big-endian BlobHeader
    * length, then the BlobHeader — type(1), indexdata(2), datasize(3).
    * None at a clean end of file. Both lengths are checked against their
    * caps (datasize on the full varint, before it is narrowed) before
    * anything is allocated for them.
    */
  def readBlobHeader(in: DataInputStream, offset: Long, path: String): Option[BlobSpan] = {
    val b0 = in.read()
    if (b0 < 0) return None
    try {
      val headerLen = (b0.toLong << 24) | (in.readUnsignedByte() << 16) | in.readUnsignedShort()
      if (headerLen > MaxHeaderBytes) throw new PbfFormatException(path, offset,
        s"BlobHeader length $headerLen exceeds the spec's 64 KiB cap")
      val bytes = new Array[Byte](headerLen.toInt)
      in.readFully(bytes)
      val r = Proto.reader(bytes)
      var typ = ""
      var datasize = 0L
      while (r.hasMore) {
        val tag = r.readTag()
        (tag >> 3) match {
          case 1 => typ = r.readString()
          case 3 => datasize = r.readVarint()
          case _ => r.skip(tag & 7)
        }
      }
      if (datasize < 0 || datasize > MaxBlobBytes) throw new PbfFormatException(path, offset,
        s"BlobHeader declares datasize=$datasize (blob cap $MaxBlobBytes bytes)")
      Some(BlobSpan(typ, offset, offset + 4 + headerLen, datasize.toInt))
    } catch failAt(path, offset)
  }

  /** Read the blob of `span`; `in` stands at `span.dataStart`. A blob
    * reaching past `end` (its file's or partition's end) fails before its
    * declared size is allocated.
    */
  def readBlobData(in: DataInputStream, span: BlobSpan, path: String, end: Long): Array[Byte] = {
    if (span.endOffset > end) throw new PbfFormatException(path, span.headerStart,
      s"blob ends at byte ${span.endOffset}, past the end of its range at $end")
    val blob = new Array[Byte](span.dataSize)
    try in.readFully(blob) catch failAt(path, span.headerStart)
    blob
  }

  /** Enumerate blob spans by reading only the 4-byte prefixes and
    * BlobHeaders, seeking past blob payloads — O(#blobs) I/O, so split
    * planning of a planet file stays cheap. `skip` stops one byte short
    * of each blob's end and that byte is read, so a file cut inside a
    * blob fails here whatever `skip` does at the end of the file.
    */
  def scanBlobSpans(in: DataInputStream, skip: Long => Unit,
      path: String = "stream"): Seq[BlobSpan] = {
    val out = ArrayBuffer.empty[BlobSpan]
    var span = readBlobHeader(in, 0L, path)
    while (span.isDefined) {
      val s = span.get
      out += s
      if (s.dataSize > 0) try {
        skip(s.dataSize - 1L)
        if (in.read() < 0) throw new EOFException()
      } catch failAt(path, s.headerStart)
      span = readBlobHeader(in, s.endOffset, path)
    }
    out.toSeq
  }

  /** Blob message: raw(1), raw_size(2), zlib_data(3), lzma_data(4),
    * lz4_data(6), zstd_data(7). Implemented: raw, zlib, lz4, zstd,
    * lzma — every codec the Blob message defines (lz4-java, zstd-jni
    * and xz ride Spark's own classpath — the same jars its shuffle and
    * Avro codecs use). lzma_data is a legacy `.lzma` (LZMA1) stream:
    * 1 props byte + LE dict size + LE uncompressed size, which
    * xz's LZMAInputStream parses and validates; planet dumps are zlib
    * in practice, but a spec-complete reader costs one branch.
    */
  /** Upper bound on DECLARED/decoded uncompressed blob size: the PBF
    * spec caps blob data at 32 MiB; we allow 2× slack. Checked for
    * EVERY codec (and for the declared raw_size varint itself, BEFORE
    * any narrowing or allocation) so a crafted header can neither
    * allocate attacker-controlled gigabytes nor wrap past Int range
    * into a bogus small value.
    */
  private val MaxBlobBytes: Long = 64L << 20

  def decompressBlob(blobBytes: Array[Byte]): Array[Byte] = {
    val r = Proto.reader(blobBytes)
    var raw: Array[Byte] = null
    var rawSize = -1
    var zlib: Array[Byte] = null
    var lzma: Array[Byte] = null
    var lz4: Array[Byte] = null
    var zstd: Array[Byte] = null
    while (r.hasMore) {
      val tag = r.readTag()
      (tag >> 3) match {
        case 1 => raw = r.readBytes()
        case 2 =>
          // validate on the FULL varint — `.toInt` first would wrap a
          // >= 2^31 declaration into an innocent-looking small value
          val v = r.readVarint()
          if (v < 0 || v > MaxBlobBytes) throw new IllegalArgumentException(
            s"PBF blob declares raw_size=$v " +
              "(spec caps blob data at 32 MiB) — corrupt or malicious header")
          rawSize = v.toInt
        case 3 => zlib = r.readBytes()
        case 4 => lzma = r.readBytes()
        case 6 => lz4 = r.readBytes()
        case 7 => zstd = r.readBytes()
        case _ => r.skip(tag & 7)
      }
    }
    if (raw != null) raw
    else if (zstd != null) {
      // zstd frames carry their content size; the blob's raw_size is
      // authoritative when present (and must agree)
      val declared =
        if (rawSize >= 0) rawSize.toLong
        else com.github.luben.zstd.Zstd.getFrameContentSize(zstd)
      if (declared < 0) throw new IllegalArgumentException(
        "zstd PBF blob carries neither raw_size nor a frame content size")
      if (declared > MaxBlobBytes) throw new IllegalArgumentException(
        s"zstd PBF blob declares $declared uncompressed bytes " +
          "(PBF caps blob data at 32 MiB) — corrupt or malicious frame")
      val out =
        try com.github.luben.zstd.Zstd.decompress(zstd, declared.toInt)
        catch { case e: com.github.luben.zstd.ZstdException =>
          // e.g. "Destination buffer is too small": the frame holds more
          // than the declared raw_size — a lying header, not our bug
          throw new IllegalArgumentException(
            s"corrupt zstd payload or wrong raw_size=$rawSize: ${e.getMessage}", e)
        }
      if (rawSize >= 0 && out.length != rawSize) throw new IllegalArgumentException(
        s"zstd data decompresses to ${out.length} bytes, declared raw_size=$rawSize")
      out
    } else if (lz4 != null) {
      // LZ4 *block* format per the PBF spec — no frame header, so the
      // blob's raw_size is the only length source and is mandatory
      if (rawSize < 0) throw new IllegalArgumentException(
        "lz4 PBF blob requires raw_size (LZ4 block format has no length header)")
      net.jpountz.lz4.LZ4Factory.fastestInstance()
        .fastDecompressor().decompress(lz4, rawSize)
    } else if (zlib != null) {
      val inf = new Inflater()
      inf.setInput(zlib)
      try readBounded("zlib", rawSize, zlib.length) { (buf, off, len) =>
        val got = inf.inflate(buf, off, len)
        // 0 while unfinished means it wants more input (or a preset
        // dictionary) — with the full blob already supplied that is a
        // truncated/corrupt payload
        if (got > 0) got
        else if (inf.finished()) -1
        else if (inf.needsInput() || inf.needsDictionary()) throw new IllegalArgumentException(
          "truncated or corrupt zlib payload in PBF blob")
        else 0
      } finally inf.end()
    } else if (lzma != null) {
      // legacy .lzma (LZMA1) stream; LZMAInputStream parses/validates
      // the 13-byte header. The memory limit bounds the dictionary a
      // crafted dict-size field could demand.
      val limitKiB = (MaxBlobBytes >> 10).toInt * 4 // 256 MiB dict cap
      val in =
        try new org.tukaani.xz.LZMAInputStream(
          new java.io.ByteArrayInputStream(lzma), limitKiB)
        catch { case e: java.io.IOException =>
          throw new IllegalArgumentException(
            s"corrupt lzma header in PBF blob: ${e.getMessage}", e)
        }
      try {
        val out = readBounded("lzma", rawSize, lzma.length)(in.read)
        if (rawSize >= 0 && out.length != rawSize) throw new IllegalArgumentException(
          s"lzma data decompresses to ${out.length} bytes, declared raw_size=$rawSize")
        out
      } catch { case e: java.io.IOException =>
        // CorruptedInputException / MemoryLimitException / truncation
        throw new IllegalArgumentException(
          s"corrupt lzma payload in PBF blob: ${e.getMessage}", e)
      } finally in.close()
    } else throw new IllegalArgumentException(
      "unsupported Blob encoding (raw, zlib_data, lzma_data, lz4_data " +
        "and zstd_data are all implemented — this blob carries none of them)")
  }

  /** The bounded read loop of the streaming codecs (zlib, lzma). `read`
    * fills `buf(off until off + len)` and returns the bytes it produced,
    * -1 at the end of the stream. Output goes into a buffer of the
    * declared `rawSize`, else into a guess from the compressed length.
    * The guess and every doubling are CLAMPED to the blob cap, so an
    * over-cap result always reaches the grow path's cap check (an
    * unclamped 4x-compressed guess could hold it outright and return it
    * unchecked). A full buffer probes one byte: a stream whose remaining
    * symbols are only the end marker (e.g. raw_size == 0 or an
    * exactly-sized buffer) ends without output; real extra data either
    * errors (the declared raw_size lied) or grows the guess buffer, up
    * to the cap, or a tiny bomb would inflate to attacker-controlled
    * gigabytes.
    */
  private def readBounded(codec: String, rawSize: Int, compressedLength: Int)(
      read: (Array[Byte], Int, Int) => Int): Array[Byte] = {
    var out = new Array[Byte](if (rawSize >= 0) rawSize
      else math.min(math.max(64L, compressedLength.toLong * 4), MaxBlobBytes).toInt)
    val probe = new Array[Byte](1)
    var n = 0
    var eof = false
    while (!eof) {
      if (n < out.length) {
        val got = read(out, n, out.length - n)
        if (got < 0) eof = true else n += got
      } else read(probe, 0, 1) match {
        case -1 => eof = true
        case 0 => throw new IllegalArgumentException(
          s"truncated or corrupt $codec payload in PBF blob")
        case _ =>
          if (rawSize >= 0) throw new IllegalArgumentException(
            s"$codec data decompresses past declared raw_size=$rawSize")
          if (out.length >= MaxBlobBytes) throw new IllegalArgumentException(
            s"$codec PBF blob inflates past the 32 MiB blob cap " +
              "— corrupt or malicious payload")
          out = java.util.Arrays.copyOf(out,
            math.min(math.max(64, out.length * 2), MaxBlobBytes.toInt))
          out(n) = probe(0)
          n += 1
      }
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** Features this reader implements; a conforming reader MUST reject a
    * file whose HeaderBlock requires anything else (public PBF spec).
    * HistoricalInformation is just the all-versions+deletions convention
    * our union-wide rows already carry (SURVEY §1.1).
    */
  val SupportedFeatures: Set[String] = Set(
    "OsmSchema-V0.6", "DenseNodes", "HistoricalInformation", "Sort.Type_then_ID")

  /** The parts of an OSMHeader blob this reader uses: required_features
    * and the bbox as "left,bottom,right,top" in degrees (the form the ORC
    * metadata carries).
    */
  final case class HeaderBlock(requiredFeatures: Seq[String], bbox: Option[String]) {
    def checkRequiredFeatures(): Unit = {
      val unknown = requiredFeatures.filterNot(SupportedFeatures)
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"PBF requires unsupported features: ${unknown.mkString(", ")}")
    }
  }

  /** HeaderBlock: bbox(1) = HeaderBBox{left(1) right(2) top(3) bottom(4)}
    * in sint64 nanodegrees, required_features(4, repeated string).
    */
  def parseHeaderBlock(headerBlock: Array[Byte]): HeaderBlock = {
    val r = Proto.reader(headerBlock)
    val features = ArrayBuffer.empty[String]
    var bbox: Option[String] = None
    while (r.hasMore) {
      val tag = r.readTag()
      (tag >> 3) match {
        case 1 if bbox.isEmpty =>
          val b = r.readSlice()
          var left, right, top, bottom = 0L
          while (b.hasMore) {
            val t2 = b.readTag()
            (t2 >> 3) match {
              case 1 => left = Proto.zigzag(b.readVarint())
              case 2 => right = Proto.zigzag(b.readVarint())
              case 3 => top = Proto.zigzag(b.readVarint())
              case 4 => bottom = Proto.zigzag(b.readVarint())
              case _ => b.skip(t2 & 7)
            }
          }
          def deg(n: Long): String =
            java.math.BigDecimal.valueOf(n, 9).stripTrailingZeros.toPlainString
          bbox = Some(s"${deg(left)},${deg(bottom)},${deg(right)},${deg(top)}")
        case 4 => features += r.readString()
        case _ => r.skip(tag & 7)
      }
    }
    HeaderBlock(features.toSeq, bbox)
  }

  /** Read and parse the OSMHeader blob of `span`; `in` stands at
    * `span.dataStart`, and the file is `length` bytes long.
    */
  def readHeaderBlock(in: DataInputStream, span: BlobSpan, path: String, length: Long): HeaderBlock =
    try parseHeaderBlock(decompressBlob(readBlobData(in, span, path, length)))
    catch failAt(path, span.headerStart)

  /** The HeaderBlock of a `length`-byte file whose first blob is its
    * OSMHeader, else None. Reads one frame.
    */
  def firstHeaderBlock(in: DataInputStream, path: String, length: Long): Option[HeaderBlock] =
    readBlobHeader(in, 0L, path).filter(_.blobType == "OSMHeader")
      .map(readHeaderBlock(in, _, path, length))

  // ---- osmformat ---------------------------------------------------

  private val TypeNode = UTF8String.fromString("node")
  private val TypeWay = UTF8String.fromString("way")
  private val TypeRelation = UTF8String.fromString("relation")
  /** Relation member types by their osmformat enum value. */
  private val MemberTypes = Array(TypeNode, TypeWay, TypeRelation)
  private val EmptyArray = new GenericArrayData(Array.empty[Any])
  private val EmptyMap = new ArrayBasedMapData(EmptyArray, EmptyArray)

  /** nanodegrees → Decimal(p,7): unscaled = round-half-up(nano / 100),
    * in pure long arithmetic (no BigDecimal in the per-node path).
    */
  private def coord(nano: Long, precision: Int): Decimal = {
    val unscaled =
      if (nano >= 0) (nano + 50L) / 100L
      else -((-nano + 50L) / 100L)
    Decimal(unscaled, precision, 7)
  }

  /** stringtable: repeated bytes s = 1; index 0 is the empty string.
    * Each string is a UTF8String over the block's own bytes, its length
    * checked against them.
    */
  private def stringTable(r: Reader): Array[UTF8String] = {
    val out = ArrayBuffer.empty[UTF8String]
    while (r.hasMore) {
      val tag = r.readTag()
      if ((tag >> 3) == 1) {
        val s = r.readSlice()
        if (s.end < s.pos || s.end > s.buf.length) throw new IndexOutOfBoundsException(
          s"string of ${s.end - s.pos} bytes at ${s.pos} overruns the ${s.buf.length}-byte block")
        out += UTF8String.fromBytes(s.buf, s.pos, s.end - s.pos)
      } else r.skip(tag & 7)
    }
    out.toArray
  }

  /** PrimitiveBlock: stringtable(1), primitivegroup(2), granularity(17),
    * date_granularity(18), lat_offset(19), lon_offset(20).
    * PrimitiveGroup: nodes(1), dense(2), ways(3), relations(4).
    *
    * The block's entities in file order as rows of `required`'s planet
    * columns. Every entity is written into one reused row, which the
    * iterator returns each time: a caller that keeps a row copies it.
    * Pruned columns are never written. `pred`'s kind flags skip the
    * excluded kinds' group messages unparsed (a type-filtered scan skips
    * the dense-node bulk of a planet file), and its box drops a node on
    * its raw nanodegrees before its tags are written. Every string index
    * is checked, whether or not its column is written.
    */
  def decodePrimitiveBlock(blockBytes: Array[Byte], required: StructType = OsmSchemas.Planet,
      pred: OsmPbfFilters.Compiled = OsmPbfFilters.KeepAll): Iterator[InternalRow] =
    new BlockRows(blockBytes, required, pred)

  private final class BlockRows(blockBytes: Array[Byte], required: StructType,
      pred: OsmPbfFilters.Compiled) extends Iterator[InternalRow] {
    private var strings = Array.empty[UTF8String]
    private var granularity = 100L
    private var dateGranularity = 1000L
    private var latOffset = 0L
    private var lonOffset = 0L
    private val groups = ArrayBuffer.empty[Reader]
    locally {
      val r = Proto.reader(blockBytes)
      while (r.hasMore) {
        val tag = r.readTag()
        (tag >> 3) match {
          case 1 => strings = stringTable(r.readSlice())
          case 2 => groups += r.readSlice()
          case 17 => granularity = r.readVarint()
          case 18 => dateGranularity = r.readVarint()
          case 19 => latOffset = r.readVarint()
          case 20 => lonOffset = r.readVarint()
          case _ => r.skip(tag & 7)
        }
      }
    }

    private val row = new SpecificInternalRow(required.fields.map(_.dataType).toSeq)
    private def ordinal(name: String): Int = required.fieldNames.indexOf(name)
    private val (idOrd, typeOrd, tagsOrd) = (ordinal("id"), ordinal("type"), ordinal("tags"))
    private val (latOrd, lonOrd) = (ordinal("lat"), ordinal("lon"))
    private val (ndsOrd, membersOrd) = (ordinal("nds"), ordinal("members"))
    private val (changesetOrd, timestampOrd, uidOrd) =
      (ordinal("changeset"), ordinal("timestamp"), ordinal("uid"))
    private val (userOrd, versionOrd, visibleOrd) =
      (ordinal("user"), ordinal("version"), ordinal("visible"))

    private def set(ord: Int, v: Any): Unit = if (ord >= 0) row.update(ord, v)
    private def setLong(ord: Int, v: Long): Unit = if (ord >= 0) row.setLong(ord, v)
    private def setBoolean(ord: Int, v: Boolean): Unit = if (ord >= 0) row.setBoolean(ord, v)
    private def str(sid: Long): UTF8String = strings(sid.toInt)

    /** `a(i) * scale` into column `ord`, NULL when the block carries no `a`. */
    private def setOptLong(ord: Int, a: Array[Long], i: Int, scale: Long): Unit =
      if (a.isEmpty) set(ord, null) else setLong(ord, a(i) * scale)

    /** id and type; a way or relation also gets its NULL coordinates. */
    private def writeHead(id: Long, typ: UTF8String): Unit = {
      setLong(idOrd, id)
      set(typeOrd, typ)
      if (typ != TypeNode) {
        set(latOrd, null)
        set(lonOrd, null)
      }
    }

    /** Info: version(1), timestamp(2), changeset(3), uid(4), user_sid(5),
      * visible(6). `r` null writes the defaults of an entity without one:
      * version -1, NULL timestamp, changeset, uid and user, visible.
      */
    private def writeInfo(r: Reader): Unit = {
      setLong(versionOrd, -1L)
      set(timestampOrd, null)
      set(changesetOrd, null)
      set(uidOrd, null)
      set(userOrd, null)
      setBoolean(visibleOrd, true)
      if (r != null) while (r.hasMore) {
        val tag = r.readTag()
        (tag >> 3) match {
          case 1 => setLong(versionOrd, r.readVarint())
          case 2 => setLong(timestampOrd, r.readVarint() * dateGranularity * 1000L)
          case 3 => setLong(changesetOrd, r.readVarint())
          case 4 => setLong(uidOrd, r.readVarint())
          case 5 => set(userOrd, str(r.readVarint()))
          case 6 => setBoolean(visibleOrd, r.readVarint() != 0)
          case _ => r.skip(tag & 7)
        }
      }
    }

    /** The `n` tags str(ks(k + step·j)) -> str(vs(v + step·j)), into the
      * tags column when `write`.
      */
    private def writeTags(ks: Array[Long], k: Int, vs: Array[Long], v: Int, step: Int, n: Int,
        write: Boolean): Unit = {
      val w = write && tagsOrd >= 0
      val keys = if (w && n > 0) new Array[Any](n) else null
      val vals = if (w && n > 0) new Array[Any](n) else null
      var j = 0
      while (j < n) {
        val key = str(ks(k + step * j))
        val value = str(vs(v + step * j))
        if (keys != null) { keys(j) = key; vals(j) = value }
        j += 1
      }
      if (w) row.update(tagsOrd,
        if (n == 0) EmptyMap
        else new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals)))
    }

    /** The columns of a node at these nanodegrees but its tags and Info;
      * false, writing nothing, when `pred` drops it.
      */
    private def writeNode(id: Long, latNano: Long, lonNano: Long): Boolean = {
      val kept = pred.keepNode(latNano, lonNano)
      if (kept) {
        writeHead(id, TypeNode)
        if (latOrd >= 0) row.update(latOrd, coord(latNano, 9))
        if (lonOrd >= 0) row.update(lonOrd, coord(lonNano, 10))
        set(ndsOrd, EmptyArray)
        set(membersOrd, EmptyArray)
      }
      kept
    }

    /** Node: id(1 sint64), keys(2), vals(3), info(4), lat(8 sint64),
      * lon(9 sint64). Whether `pred` keeps it.
      */
    private def node(r: Reader): Boolean = {
      var id, lat, lon = 0L
      var keys, vals = Array.emptyLongArray
      writeInfo(null)
      while (r.hasMore) {
        val tag = r.readTag()
        (tag >> 3) match {
          case 1 => id = Proto.zigzag(r.readVarint())
          case 2 => keys = r.readPackedVarints()
          case 3 => vals = r.readPackedVarints()
          case 4 => writeInfo(r.readSlice())
          case 8 => lat = Proto.zigzag(r.readVarint())
          case 9 => lon = Proto.zigzag(r.readVarint())
          case _ => r.skip(tag & 7)
        }
      }
      val kept = writeNode(id, latOffset + granularity * lat, lonOffset + granularity * lon)
      writeTags(keys, 0, vals, 0, 1, keys.length, kept)
      kept
    }

    /** DenseNodes: id(1 packed delta-sint64), denseinfo(5),
      * lat(8)/lon(9) packed delta-sint64, keys_vals(10, 0-terminated runs).
      * DenseInfo: version(1), timestamp(2 delta), changeset(3 delta),
      * uid(4 delta), user_sid(5 delta), visible(6).
      */
    private final class Dense(r: Reader) {
      private var ids, lats, lons, keysVals = Array.emptyLongArray
      private var versions, timestamps, changesets, uids, userSids, visibles =
        Array.emptyLongArray
      while (r.hasMore) {
        val tag = r.readTag()
        (tag >> 3) match {
          case 1 => ids = r.readPackedDeltaZigzag()
          case 5 =>
            val di = r.readSlice()
            while (di.hasMore) {
              val t2 = di.readTag()
              (t2 >> 3) match {
                case 1 => versions = di.readPackedVarints()
                case 2 => timestamps = di.readPackedDeltaZigzag()
                case 3 => changesets = di.readPackedDeltaZigzag()
                case 4 => uids = di.readPackedDeltaZigzag()
                case 5 => userSids = di.readPackedDeltaZigzag()
                case 6 => visibles = di.readPackedVarints()
                case _ => di.skip(t2 & 7)
              }
            }
          case 8 => lats = r.readPackedDeltaZigzag()
          case 9 => lons = r.readPackedDeltaZigzag()
          case 10 => keysVals = r.readPackedVarints()
          case _ => r.skip(tag & 7)
        }
      }
      private var i = 0
      private var kv = 0

      def hasNext: Boolean = i < ids.length

      /** Decode node `i`; whether `pred` keeps it. */
      def next(): Boolean = {
        val kept = writeNode(ids(i),
          latOffset + granularity * lats(i), lonOffset + granularity * lons(i))
        val from = kv
        while (kv < keysVals.length && keysVals(kv) != 0L) kv += 2
        writeTags(keysVals, from, keysVals, from + 1, 2, (kv - from) / 2, kept)
        if (kv < keysVals.length) kv += 1 // consume the 0 separator
        if (versions.isEmpty) writeInfo(null)
        else {
          setLong(versionOrd, versions(i))
          setOptLong(timestampOrd, timestamps, i, dateGranularity * 1000L)
          setOptLong(changesetOrd, changesets, i, 1L)
          setOptLong(uidOrd, uids, i, 1L)
          set(userOrd, if (userSids.isEmpty) null else str(userSids(i)))
          setBoolean(visibleOrd, visibles.isEmpty || visibles(i) != 0)
        }
        i += 1
        kept
      }
    }

    /** Way: id(1 int64), keys(2), vals(3), info(4), refs(8 packed
      * delta-sint64).
      */
    private def way(r: Reader): Unit = {
      var id = 0L
      var keys, vals, refs = Array.emptyLongArray
      writeInfo(null)
      while (r.hasMore) {
        val tag = r.readTag()
        (tag >> 3) match {
          case 1 => id = r.readVarint()
          case 2 => keys = r.readPackedVarints()
          case 3 => vals = r.readPackedVarints()
          case 4 => writeInfo(r.readSlice())
          case 8 => refs = r.readPackedDeltaZigzag()
          case _ => r.skip(tag & 7)
        }
      }
      writeHead(id, TypeWay)
      writeTags(keys, 0, vals, 0, 1, keys.length, write = true)
      if (ndsOrd >= 0) row.update(ndsOrd,
        new GenericArrayData(refs.map(ref => new GenericInternalRow(Array[Any](ref)): Any)))
      set(membersOrd, EmptyArray)
    }

    /** Relation: id(1 int64), keys(2), vals(3), info(4), roles_sid(8),
      * memids(9 packed delta-sint64), types(10 packed enum).
      */
    private def relation(r: Reader): Unit = {
      var id = 0L
      var keys, vals, roleSids, memids, types = Array.emptyLongArray
      writeInfo(null)
      while (r.hasMore) {
        val tag = r.readTag()
        (tag >> 3) match {
          case 1 => id = r.readVarint()
          case 2 => keys = r.readPackedVarints()
          case 3 => vals = r.readPackedVarints()
          case 4 => writeInfo(r.readSlice())
          case 8 => roleSids = r.readPackedVarints()
          case 9 => memids = r.readPackedDeltaZigzag()
          case 10 => types = r.readPackedVarints()
          case _ => r.skip(tag & 7)
        }
      }
      writeHead(id, TypeRelation)
      writeTags(keys, 0, vals, 0, 1, keys.length, write = true)
      set(ndsOrd, EmptyArray)
      roleSids.foreach(str(_))
      if (membersOrd >= 0) row.update(membersOrd, new GenericArrayData(Array.tabulate[Any](
        memids.length) { j =>
        val t = types(j).toInt
        if (t < 0 || t > 2) throw new IllegalArgumentException(
          s"unsupported relation member type: $t (relation $id)")
        new GenericInternalRow(Array[Any](MemberTypes(t), memids(j), str(roleSids(j))))
      }))
    }

    private var groupIndex = 0
    private var group: Reader = null
    private var dense: Dense = null
    private var ready = false

    /** Decode the next dense node or group message in file order, or move
      * to the next group; false at the end of the block.
      */
    private def step(): Boolean = {
      if (dense != null && dense.hasNext) ready = dense.next()
      else if (group != null && group.hasMore) {
        val tag = group.readTag()
        (tag >> 3) match {
          case 1 if pred.keepNodes => ready = node(group.readSlice())
          case 2 if pred.keepNodes => dense = new Dense(group.readSlice())
          case 3 if pred.keepWays => way(group.readSlice()); ready = true
          case 4 if pred.keepRelations => relation(group.readSlice()); ready = true
          case _ => group.skip(tag & 7)
        }
      } else if (groupIndex < groups.length) {
        group = groups(groupIndex)
        groupIndex += 1
      } else return false
      true
    }

    override def hasNext: Boolean = {
      while (!ready && step()) {}
      ready
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("end of the primitive block")
      ready = false
      row
    }
  }
}
