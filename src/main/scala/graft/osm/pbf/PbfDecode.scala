package graft.osm.pbf

import java.io.{DataInputStream, EOFException}
import java.util.zip.Inflater

import scala.collection.mutable.ArrayBuffer

import graft.osm.pbf.Proto.Reader

/** OSM PBF decoding: fileformat (BlobHeader/Blob) + osmformat
  * (PrimitiveBlock with string table, dense nodes, ways, relations).
  *
  * Field numbers and semantics follow the public spec
  * (wiki.openstreetmap.org/wiki/PBF_Format). The reference reaches the
  * same entity stream through the osm4j library
  * (/root/reference/src/main/java/net/mojodna/osm2orc/standalone/OsmPbf2Orc.java:118);
  * that library is not on our classpath, and a DSv2 source needs the
  * Blob framing anyway for split planning, so we decode natively.
  */
object PbfDecode {

  /** Entity metadata (osmformat Info / DenseInfo). */
  final case class OsmInfo(
      version: Long,
      timestampMs: Option[Long],
      changeset: Option[Long],
      uid: Option[Long],
      user: Option[String],
      visible: Boolean)

  val NoInfo: OsmInfo = OsmInfo(-1L, None, None, None, None, visible = true)

  sealed trait OsmEntity {
    def id: Long
    def tags: Array[(String, String)]
    def info: OsmInfo
  }
  /** latNano/lonNano are exact integer nanodegrees — decimal conversion
    * never passes through a double (SURVEY §7.4 decimal rule).
    */
  final case class OsmNode(id: Long, tags: Array[(String, String)],
      latNano: Long, lonNano: Long, info: OsmInfo) extends OsmEntity
  final case class OsmWay(id: Long, tags: Array[(String, String)],
      refs: Array[Long], info: OsmInfo) extends OsmEntity
  /** memberTypes: 0=node 1=way 2=relation (osmformat enum). */
  final case class OsmRelation(id: Long, tags: Array[(String, String)],
      memberTypes: Array[Int], memberRefs: Array[Long],
      memberRoles: Array[String], info: OsmInfo) extends OsmEntity

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

  private final class BlockCtx(
      val strings: Array[String],
      val granularity: Long,
      val latOffset: Long,
      val lonOffset: Long,
      val dateGranularity: Long)

  /** stringtable: repeated bytes s = 1; index 0 is the empty string. */
  private def parseStringTable(r: Reader): Array[String] = {
    val out = ArrayBuffer.empty[String]
    while (r.hasMore) {
      val tag = r.readTag()
      if ((tag >> 3) == 1) out += r.readString() else r.skip(tag & 7)
    }
    out.toArray
  }

  /** Info: version(1), timestamp(2), changeset(3), uid(4), user_sid(5),
    * visible(6).
    */
  private def parseInfo(r: Reader, ctx: BlockCtx): OsmInfo = {
    var version = -1L
    var ts: Option[Long] = None
    var cs: Option[Long] = None
    var uid: Option[Long] = None
    var user: Option[String] = None
    var visible = true
    while (r.hasMore) {
      val tag = r.readTag()
      (tag >> 3) match {
        case 1 => version = r.readVarint()
        case 2 => ts = Some(r.readVarint() * ctx.dateGranularity)
        case 3 => cs = Some(r.readVarint())
        case 4 => uid = Some(r.readVarint())
        case 5 => user = Some(ctx.strings(r.readVarint().toInt))
        case 6 => visible = r.readVarint() != 0
        case _ => r.skip(tag & 7)
      }
    }
    OsmInfo(version, ts, cs, uid, user, visible)
  }

  private def tagsFrom(keys: Array[Long], vals: Array[Long],
      ctx: BlockCtx): Array[(String, String)] = {
    val out = new Array[(String, String)](keys.length)
    var i = 0
    while (i < keys.length) {
      out(i) = (ctx.strings(keys(i).toInt), ctx.strings(vals(i).toInt))
      i += 1
    }
    out
  }

  /** Node: id(1 sint64), keys(2), vals(3), info(4), lat(8 sint64),
    * lon(9 sint64).
    */
  private def parseNode(r: Reader, ctx: BlockCtx): OsmNode = {
    var id = 0L; var lat = 0L; var lon = 0L
    var keys = Array.emptyLongArray; var vals = Array.emptyLongArray
    var info = NoInfo
    while (r.hasMore) {
      val tag = r.readTag()
      (tag >> 3) match {
        case 1 => id = Proto.zigzag(r.readVarint())
        case 2 => keys = r.readPackedVarints()
        case 3 => vals = r.readPackedVarints()
        case 4 => info = parseInfo(r.readSlice(), ctx)
        case 8 => lat = Proto.zigzag(r.readVarint())
        case 9 => lon = Proto.zigzag(r.readVarint())
        case _ => r.skip(tag & 7)
      }
    }
    OsmNode(id, tagsFrom(keys, vals, ctx),
      ctx.latOffset + ctx.granularity * lat,
      ctx.lonOffset + ctx.granularity * lon, info)
  }

  /** DenseNodes: id(1 packed delta-sint64), denseinfo(5),
    * lat(8)/lon(9) packed delta-sint64, keys_vals(10, 0-terminated runs).
    * DenseInfo: version(1), timestamp(2 delta), changeset(3 delta),
    * uid(4 delta), user_sid(5 delta), visible(6).
    */
  private def parseDense(r: Reader, ctx: BlockCtx): Iterator[OsmNode] = {
    var ids = Array.emptyLongArray
    var lats = Array.emptyLongArray
    var lons = Array.emptyLongArray
    var keysVals = Array.emptyLongArray
    var versions = Array.emptyLongArray
    var timestamps = Array.emptyLongArray
    var changesets = Array.emptyLongArray
    var uids = Array.emptyLongArray
    var userSids = Array.emptyLongArray
    var visibles = Array.emptyLongArray
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
    var kv = 0
    val hasInfo = versions.nonEmpty
    val noTags = Array.empty[(String, String)]
    (0 until ids.length).iterator.map { i =>
      var tags = noTags
      if (kv < keysVals.length && keysVals(kv) != 0L) {
        val buf = ArrayBuffer.empty[(String, String)]
        while (kv < keysVals.length && keysVals(kv) != 0L) {
          buf += ((ctx.strings(keysVals(kv).toInt), ctx.strings(keysVals(kv + 1).toInt)))
          kv += 2
        }
        tags = buf.toArray
      }
      if (kv < keysVals.length) kv += 1 // consume the 0 separator
      val info =
        if (!hasInfo) NoInfo
        else OsmInfo(
          versions(i),
          if (timestamps.nonEmpty) Some(timestamps(i) * ctx.dateGranularity) else None,
          if (changesets.nonEmpty) Some(changesets(i)) else None,
          if (uids.nonEmpty) Some(uids(i)) else None,
          if (userSids.nonEmpty) Some(ctx.strings(userSids(i).toInt)) else None,
          if (visibles.nonEmpty) visibles(i) != 0 else true)
      OsmNode(ids(i), tags,
        ctx.latOffset + ctx.granularity * lats(i),
        ctx.lonOffset + ctx.granularity * lons(i), info)
    }
  }

  /** Way: id(1 int64), keys(2), vals(3), info(4), refs(8 packed
    * delta-sint64).
    */
  private def parseWay(r: Reader, ctx: BlockCtx): OsmWay = {
    var id = 0L
    var keys = Array.emptyLongArray; var vals = Array.emptyLongArray
    var refs = Array.emptyLongArray
    var info = NoInfo
    while (r.hasMore) {
      val tag = r.readTag()
      (tag >> 3) match {
        case 1 => id = r.readVarint()
        case 2 => keys = r.readPackedVarints()
        case 3 => vals = r.readPackedVarints()
        case 4 => info = parseInfo(r.readSlice(), ctx)
        case 8 => refs = r.readPackedDeltaZigzag()
        case _ => r.skip(tag & 7)
      }
    }
    OsmWay(id, tagsFrom(keys, vals, ctx), refs, info)
  }

  /** Relation: id(1 int64), keys(2), vals(3), info(4), roles_sid(8),
    * memids(9 packed delta-sint64), types(10 packed enum).
    */
  private def parseRelation(r: Reader, ctx: BlockCtx): OsmRelation = {
    var id = 0L
    var keys = Array.emptyLongArray; var vals = Array.emptyLongArray
    var roleSids = Array.emptyLongArray
    var memids = Array.emptyLongArray
    var types = Array.emptyLongArray
    var info = NoInfo
    while (r.hasMore) {
      val tag = r.readTag()
      (tag >> 3) match {
        case 1 => id = r.readVarint()
        case 2 => keys = r.readPackedVarints()
        case 3 => vals = r.readPackedVarints()
        case 4 => info = parseInfo(r.readSlice(), ctx)
        case 8 => roleSids = r.readPackedVarints()
        case 9 => memids = r.readPackedDeltaZigzag()
        case 10 => types = r.readPackedVarints()
        case _ => r.skip(tag & 7)
      }
    }
    OsmRelation(id, tagsFrom(keys, vals, ctx), types.map(_.toInt),
      memids, roleSids.map(s => ctx.strings(s.toInt)), info)
  }

  /** PrimitiveBlock: stringtable(1), primitivegroup(2), granularity(17),
    * date_granularity(18), lat_offset(19), lon_offset(20).
    * PrimitiveGroup: nodes(1), dense(2), ways(3), relations(4).
    */
  def decodePrimitiveBlock(blockBytes: Array[Byte]): Iterator[OsmEntity] =
    decodePrimitiveBlock(blockBytes, keepNodes = true, keepWays = true,
      keepRelations = true)

  /** Variant with kind skipping: excluded kinds' group messages are
    * never parsed (a type-filtered scan skips the dense-node bulk of a
    * planet file entirely).
    */
  def decodePrimitiveBlock(blockBytes: Array[Byte], keepNodes: Boolean,
      keepWays: Boolean, keepRelations: Boolean): Iterator[OsmEntity] = {
    val r = Proto.reader(blockBytes)
    var strings = Array.empty[String]
    var granularity = 100L
    var dateGranularity = 1000L
    var latOffset = 0L
    var lonOffset = 0L
    val groups = ArrayBuffer.empty[Reader]
    while (r.hasMore) {
      val tag = r.readTag()
      (tag >> 3) match {
        case 1 => strings = parseStringTable(r.readSlice())
        case 2 => groups += r.readSlice()
        case 17 => granularity = r.readVarint()
        case 18 => dateGranularity = r.readVarint()
        case 19 => latOffset = r.readVarint()
        case 20 => lonOffset = r.readVarint()
        case _ => r.skip(tag & 7)
      }
    }
    val ctx = new BlockCtx(strings, granularity, latOffset, lonOffset, dateGranularity)
    groups.iterator.flatMap { g =>
      val out = ArrayBuffer.empty[Iterator[OsmEntity]]
      while (g.hasMore) {
        val tag = g.readTag()
        (tag >> 3) match {
          case 1 if keepNodes => out += Iterator.single(parseNode(g.readSlice(), ctx))
          case 2 if keepNodes => out += parseDense(g.readSlice(), ctx)
          case 3 if keepWays => out += Iterator.single(parseWay(g.readSlice(), ctx))
          case 4 if keepRelations => out += Iterator.single(parseRelation(g.readSlice(), ctx))
          case _ => g.skip(tag & 7)
        }
      }
      out.iterator.flatten
    }
  }
}
