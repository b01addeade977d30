package graft.osm.pbf

import java.io.{DataInputStream, ObjectInputStream, ObjectOutputStream}
import java.util

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{Decimal, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.osm.{OsmInputs, OsmSchemas}
import graft.osm.pbf.PbfDecode._

/** DataSource V2 for OSM PBF files: `spark.read.format("osm-pbf").load(path)`.
  *
  * Design (SURVEY.md §2A A2, §4.3):
  *  - PBF Blobs are independently decodable, so each input partition is a
  *    contiguous run of OSMData blobs; the driver enumerates blob spans
  *    by reading only the 4-byte prefixes + BlobHeaders (O(#blobs) I/O —
  *    split planning for a planet file touches ~KBs);
  *  - the split size is chosen from the data, as Spark's
  *    `FilePartition.maxSplitBytes` chooses it: the compressed OSMData
  *    bytes of all files spread over the session's default parallelism,
  *    no smaller than [[OsmPbfScan.MinSplitBytes]] (1 MiB, so small
  *    files stay one task) and no larger than `maxPartitionBytes`
  *    (default 32 MiB ≈ 2x that decoded). A 5 MB extract fans out
  *    across every core; a 100 TB corpus fans out to 100Ks of balanced
  *    32 MiB tasks with no skew from file boundaries;
  *  - SupportsPushDownRequiredColumns: pruned columns are never
  *    materialized into rows (tags/nds/members decode is the expensive
  *    part of a planet scan).
  *
  * Semantics parity with the reference transcoder
  * (OsmPbf2Orc.java:146-281): union-wide rows, lowercase type strings,
  * NULL lat/lon for ways/relations, empty nds/members for nodes,
  * nanodegree→decimal(9,7)/(10,7) without a double round-trip,
  * epoch-millis timestamps, visible defaulting true, member-type
  * validation error on unknown enum.
  */
class OsmPbfSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "osm-pbf"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = OsmSchemas.Planet
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OsmPbfTable(OsmInputs.paths(properties.asScala.toMap))
  override def supportsExternalMetadata(): Boolean = false
}

object OsmPbfSource {
  /** Convenience entry: read a PBF as the planet DataFrame. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("osm-pbf").load(path)
}

class OsmPbfTable(paths: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"osm-pbf:${paths.mkString(",")}"
  override def schema(): StructType = OsmSchemas.Planet
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new OsmPbfScanBuilder(paths, options)
}

class OsmPbfScanBuilder(paths: Seq[String], options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType = OsmSchemas.Planet
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  // top-level pruning only: Spark's nested-schema pruning may hand us
  // structs pruned INSIDE nds/members arrays, but the decoder emits
  // full structs — echoing a nested-pruned schema would misalign
  // ordinals (see OsmXmlUtil.topLevelPrune).
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = graft.osm.OsmXmlUtil.topLevelPrune(OsmSchemas.Planet, requiredSchema)
  /** accepted filters are evaluated during decode but ALSO returned as
    * residual — Spark re-applies them exactly (the source only skips
    * rows that provably fail; see OsmPbfFilters).
    */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(OsmPbfFilters.supported)
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
  override def build(): Scan = {
    val spark = SparkSession.active
    val maxBytes = Option(options.get("maxPartitionBytes")).map(_.toLong)
      .getOrElse(32L * 1024 * 1024)
    new OsmPbfScan(paths, required, maxBytes, spark.sparkContext.defaultParallelism,
      OsmPbfFilters.compile(pushed), pushed.map(_.toString),
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
  }
}

/** A contiguous run of blobs in one file. */
case class OsmPbfInputPartition(path: String, startOffset: Long, endOffset: Long)
  extends InputPartition

object OsmPbfScan {
  /** The smallest split the planner aims for, in compressed OSMData
    * bytes, so that small files stay one task.
    */
  val MinSplitBytes: Long = 1L << 20
}

class OsmPbfScan(paths: Seq[String], required: StructType, maxPartBytes: Long,
    parallelism: Int, pred: OsmPbfFilters.Compiled, pushedDesc: Array[String],
    conf: SerializableHadoopConf) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"OsmPbfScan[${paths.mkString(",")}] pushed=[${pushedDesc.mkString(", ")}]"

  /** Groups each file's consecutive OSMData blobs into runs of at least
    * `min(maxPartBytes, max(MinSplitBytes, ceil(total / parallelism)))`
    * compressed bytes, where `total` sums the OSMData blobs of every file.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val files = OsmInputs.files(paths, OsmInputs.PbfExtensions, conf.value)
      .map(path => path -> dataSpans(path))
    val total = files.iterator.flatMap(_._2).map(_.dataSize.toLong).sum
    val target = math.min(maxPartBytes,
      math.max(OsmPbfScan.MinSplitBytes, (total + parallelism - 1) / parallelism))
    val parts = ArrayBuffer.empty[InputPartition]
    for ((path, spans) <- files) {
      var runStart = -1L
      var runEnd = -1L
      var runBytes = 0L
      def flush(): Unit = if (runStart >= 0) {
        parts += OsmPbfInputPartition(path, runStart, runEnd)
        runStart = -1L; runBytes = 0L
      }
      for (s <- spans) {
        if (runStart < 0) runStart = s.headerStart
        runEnd = s.endOffset
        runBytes += s.dataSize
        if (runBytes >= target) flush()
      }
      flush()
    }
    parts.toArray
  }

  /** The OSMData spans of `path`, found by reading only its frame heads
    * (O(#blobs) I/O), after rejecting a header that requires features
    * this reader does not implement.
    */
  private def dataSpans(path: String): Seq[BlobSpan] = {
    val file = new Path(path)
    val in = file.getFileSystem(conf.value).open(file)
    try {
      val data = new DataInputStream(in)
      val spans = PbfDecode.scanBlobSpans(data, n => in.seek(in.getPos + n), path)
      spans.find(_.blobType == "OSMHeader").foreach { h =>
        in.seek(h.dataStart)
        val header = PbfDecode.readHeaderBlock(data, h, path)
        try header.checkRequiredFeatures() catch PbfDecode.failAt(path, h.headerStart)
      }
      spans.filter(_.blobType == "OSMData")
    } finally in.close()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new OsmPbfReaderFactory(required, pred, conf)
}

class OsmPbfReaderFactory(required: StructType, pred: OsmPbfFilters.Compiled,
    conf: SerializableHadoopConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new OsmPbfPartitionReader(partition.asInstanceOf[OsmPbfInputPartition], required,
      pred, conf)
}

class OsmPbfPartitionReader(part: OsmPbfInputPartition, required: StructType,
    pred: OsmPbfFilters.Compiled,
    conf: SerializableHadoopConf) extends PartitionReader[InternalRow] {

  private val in = {
    val hp = new Path(part.path)
    val stream = hp.getFileSystem(conf.value).open(hp)
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
    val blob = PbfDecode.readBlobData(data, span, part.path)
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

/** java-serializable Hadoop Configuration (Spark's own wrapper is
  * private[spark]).
  */
class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
