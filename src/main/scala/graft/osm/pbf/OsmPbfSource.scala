package graft.osm.pbf

import java.io.DataInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.osm.{FileUnit, OsmFileRange, OsmFormat, OsmInputs, OsmScanBuilder, OsmSchemas,
  OsmSourceProvider}
import graft.osm.pbf.PbfDecode.PbfFormatException

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
  *  - each block decodes straight into one reused row over the scan's
  *    required columns; pruned columns are never written (tags/nds/members
  *    are the expensive part of a planet scan), and the [[OsmPbfFilters]]
  *    are evaluated during decode, before any tag is written.
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

/** Reads the OSMData blobs of `part` in file order; each row comes from
  * the current block's iterator, which writes every entity of the block
  * into one reused row.
  */
class OsmPbfPartitionReader(part: OsmFileRange, required: StructType,
    pred: OsmPbfFilters.Compiled, conf: Configuration) extends PartitionReader[InternalRow] {

  private val in = {
    val hp = new Path(part.path)
    val stream = hp.getFileSystem(conf).open(hp)
    stream.seek(part.startOffset)
    stream
  }
  private val data = new DataInputStream(in)
  private var rows: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _

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
      rows = PbfDecode.decodePrimitiveBlock(PbfDecode.decompressBlob(blob), required, pred)
      true
    } else advanceBlob()
  }

  /** One handler names the file and blob for whatever a corrupt block
    * raises, whether in the per-blob decode or in the lazy per-entity one.
    */
  override def next(): Boolean =
    try {
      var more = rows.hasNext
      while (!more && advanceBlob()) more = rows.hasNext
      if (more) current = rows.next()
      more
    } catch PbfDecode.failAt(part.path, blobOffset)

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}
