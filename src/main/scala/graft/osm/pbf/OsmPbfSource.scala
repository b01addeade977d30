package graft.osm.pbf

import java.io.DataInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{Decimal, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.osm.{FileUnit, OsmFileRange, OsmFormat, OsmInputs, OsmScanBuilder, OsmSchemas,
  OsmSourceProvider}
import graft.osm.pbf.PbfDecode._

/** DataSource V2 for OSM PBF files: `spark.read.format("osm-pbf").load(path)`,
  * the PBF [[OsmFormat]] of the shared OSM source classes.
  *
  * Design (SURVEY.md §2A A2, §4.3):
  *  - PBF Blobs are independently decodable, so a file's units are its
  *    OSMData blobs and each input partition is a contiguous run of
  *    them; the driver enumerates blob spans by reading only the 4-byte
  *    prefixes + BlobHeaders (O(#blobs) I/O — split planning for a
  *    planet file touches ~KBs);
  *  - a unit weighs its compressed OSMData bytes, so the shared planner
  *    chooses the split size as Spark's `FilePartition.maxSplitBytes`
  *    chooses it: the OSMData bytes of all files spread over the
  *    session's default parallelism, no smaller than
  *    [[graft.osm.OsmScan.MinSplitBytes]] (1 MiB, so small files stay
  *    one task) and no larger than `maxPartitionBytes` (default 32 MiB ≈
  *    2x that decoded). A 5 MB extract fans out across every core; a
  *    100 TB corpus fans out to 100Ks of balanced 32 MiB tasks with no
  *    skew from file boundaries;
  *  - pruned columns are never materialized into rows (tags/nds/members
  *    decode is the expensive part of a planet scan), and the
  *    [[OsmPbfFilters]] are evaluated during decode.
  *
  * Semantics parity with the reference transcoder
  * (OsmPbf2Orc.java:146-281): union-wide rows, lowercase type strings,
  * NULL lat/lon for ways/relations, empty nds/members for nodes,
  * nanodegree→decimal(9,7)/(10,7) without a double round-trip,
  * epoch-millis timestamps, visible defaulting true, member-type
  * validation error on unknown enum.
  */
class OsmPbfSource extends OsmSourceProvider(_ => OsmPbfSource.Format)

object OsmPbfSource {
  /** Convenience entry: read a PBF as the planet DataFrame. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("osm-pbf").load(path)

  object Format extends OsmFormat("osm-pbf", "OsmPbfScan", OsmSchemas.Planet,
      OsmInputs.PbfExtensions) {
    override def pushes(f: Filter): Boolean = OsmPbfFilters.supported(f)
    override def describe(paths: Seq[String], pushed: Array[Filter]): String =
      s"${super.describe(paths, pushed)} pushed=[${pushed.mkString(", ")}]"

    /** The OSMData spans of `path`, found by reading only its frame heads
      * (O(#blobs) I/O), after rejecting a header that requires features
      * this reader does not implement.
      */
    override def units(path: String, length: Long, conf: Configuration): Seq[FileUnit] = {
      val file = new Path(path)
      val in = file.getFileSystem(conf).open(file)
      try {
        val data = new DataInputStream(in)
        val spans = PbfDecode.scanBlobSpans(data, n => in.seek(in.getPos + n), path)
        spans.find(_.blobType == "OSMHeader").foreach { h =>
          in.seek(h.dataStart)
          val header = PbfDecode.readHeaderBlock(data, h, path, length)
          try header.checkRequiredFeatures() catch PbfDecode.failAt(path, h.headerStart)
        }
        spans.filter(_.blobType == "OSMData")
          .map(s => FileUnit(s.headerStart, s.endOffset, s.dataSize))
      } finally in.close()
    }

    override def reader(range: OsmFileRange, required: StructType, pushed: Array[Filter],
        conf: Configuration): PartitionReader[InternalRow] =
      new OsmPbfPartitionReader(range, required, OsmPbfFilters.compile(pushed), conf)
  }
}

/** The shared scan builder over the PBF format, on the active session,
  * for callers that build a scan without a table.
  */
class OsmPbfScanBuilder(paths: Seq[String], options: CaseInsensitiveStringMap)
  extends OsmScanBuilder(OsmPbfSource.Format, paths, options, SparkSession.active)

class OsmPbfPartitionReader(part: OsmFileRange, required: StructType,
    pred: OsmPbfFilters.Compiled, conf: Configuration) extends PartitionReader[InternalRow] {

  private val in = {
    val hp = new Path(part.path)
    val stream = hp.getFileSystem(conf).open(hp)
    stream.seek(part.startOffset)
    stream
  }
  private val data = new DataInputStream(in)
  private var entities: Iterator[OsmEntity] = Iterator.empty
  private var current: InternalRow = _

  private val TypeNode = UTF8String.fromString("node")
  private val TypeWay = UTF8String.fromString("way")
  private val TypeRelation = UTF8String.fromString("relation")
  private val memberTypeStrings = Array(TypeNode, TypeWay, TypeRelation)

  // Tag keys/values/users repeat across rows (dictionary-coded in the
  // block string table); converting each distinct string to UTF8String
  // once per reader keeps the hot loop allocation-light.
  private val utf8Cache = new java.util.HashMap[String, UTF8String]()
  private def utf8(s: String): UTF8String = {
    var u = utf8Cache.get(s)
    if (u == null) { u = UTF8String.fromString(s); utf8Cache.put(s, u) }
    u
  }

  /** nanodegrees → Decimal(p,7): unscaled = round-half-up(nano / 100),
    * in pure long arithmetic (no BigDecimal in the per-node path).
    */
  private def nanoDecimal(nano: Long, precision: Int): Decimal = {
    val unscaled =
      if (nano >= 0) (nano + 50L) / 100L
      else -((-nano + 50L) / 100L)
    Decimal(unscaled, precision, 7)
  }

  private def tagsMap(tags: Array[(String, String)]): ArrayBasedMapData = {
    val keys = new Array[AnyRef](tags.length)
    val vals = new Array[AnyRef](tags.length)
    var i = 0
    while (i < tags.length) {
      keys(i) = utf8(tags(i)._1); vals(i) = utf8(tags(i)._2); i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  private val emptyArray = new GenericArrayData(Array.empty[Any])

  // one extractor per required column, resolved once (column pruning:
  // unselected columns are never converted)
  private val extractors: Array[OsmEntity => Any] = required.fields.map { f =>
    f.name match {
      case "id" => (e: OsmEntity) => e.id
      case "type" => {
        case _: OsmNode => TypeNode
        case _: OsmWay => TypeWay
        case _: OsmRelation => TypeRelation
      }: (OsmEntity => Any)
      case "tags" => (e: OsmEntity) => tagsMap(e.tags)
      case "lat" => {
        case n: OsmNode => nanoDecimal(n.latNano, 9)
        case _ => null
      }: (OsmEntity => Any)
      case "lon" => {
        case n: OsmNode => nanoDecimal(n.lonNano, 10)
        case _ => null
      }: (OsmEntity => Any)
      case "nds" => {
        case w: OsmWay =>
          new GenericArrayData(w.refs.map(r =>
            new GenericInternalRow(Array[Any](r)): Any))
        case _ => emptyArray
      }: (OsmEntity => Any)
      case "members" => {
        case r: OsmRelation =>
          new GenericArrayData(r.memberRefs.indices.map { i =>
            val t = r.memberTypes(i)
            if (t < 0 || t > 2) throw new IllegalArgumentException(
              s"unsupported relation member type: $t (relation ${r.id})")
            new GenericInternalRow(Array[Any](
              memberTypeStrings(t), r.memberRefs(i), utf8(r.memberRoles(i)))): Any
          }.toArray)
        case _ => emptyArray
      }: (OsmEntity => Any)
      case "changeset" => (e: OsmEntity) => e.info.changeset.map(Long.box).orNull
      case "timestamp" => (e: OsmEntity) =>
        e.info.timestampMs.map(ms => Long.box(ms * 1000L)).orNull
      case "uid" => (e: OsmEntity) => e.info.uid.map(Long.box).orNull
      case "user" => (e: OsmEntity) => e.info.user.map(utf8).orNull
      case "version" => (e: OsmEntity) => e.info.version
      case "visible" => (e: OsmEntity) => e.info.visible
      case other => throw new IllegalArgumentException(s"unknown planet column $other")
    }
  }

  private def toRow(e: OsmEntity): InternalRow = {
    val values = new Array[Any](extractors.length)
    var i = 0
    while (i < extractors.length) { values(i) = extractors(i)(e); i += 1 }
    new GenericInternalRow(values)
  }

  /** Offset of the blob being decoded, for error messages. */
  private var blobOffset = part.startOffset

  private def advanceBlob(): Boolean = {
    blobOffset = in.getPos
    if (blobOffset >= part.endOffset) return false
    val span = PbfDecode.readBlobHeader(data, blobOffset, part.path).getOrElse(
      throw new PbfFormatException(part.path, blobOffset,
        s"file ends before the partition's end offset ${part.endOffset}"))
    val blob = PbfDecode.readBlobData(data, span, part.path, part.endOffset)
    if (span.blobType == "OSMData") {
      entities = PbfDecode.decodePrimitiveBlock(PbfDecode.decompressBlob(blob),
        pred.keepNodes, pred.keepWays, pred.keepRelations)
        .filter(pred.keep)
      true
    } else advanceBlob()
  }

  /** One handler names the file and blob for whatever a corrupt block
    * raises, whether in the per-blob decode or in the lazy per-entity one.
    */
  override def next(): Boolean =
    try {
      var more = entities.hasNext
      while (!more && advanceBlob()) more = entities.hasNext
      if (more) current = toRow(entities.next())
      more
    } catch PbfDecode.failAt(part.path, blobOffset)

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}
