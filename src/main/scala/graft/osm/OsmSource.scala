package graft.osm

import java.util

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** Input paths and the one directory lister of the four OSM sources. */
private[osm] object OsmInputs {

  /** The file-name extensions each format's directory reads take. */
  val PbfExtensions: Seq[String] = Seq(".pbf")
  val ChangesetExtensions: Seq[String] =
    Seq(".xml", ".xml.gz", ".xml.bz2", ".osm", ".osm.gz", ".osm.bz2", ".osc", ".osc.gz")
  val OscExtensions: Seq[String] = Seq(".osc", ".osc.gz")
  val OsmXmlExtensions: Seq[String] = Seq(".osm", ".osm.gz", ".osm.bz2")

  /** `load(a, b, …)` arrives as a JSON-array `paths` property (decoded
    * verbatim — commas inside a path survive). A non-JSON `paths` or a
    * single-string `path` keeps the comma-separated convenience callers
    * of `.option("path(s)", "a,b")` relied on before round 4 (paths
    * containing commas must use the multi-arg `load` / JSON form).
    */
  def paths(props: Map[String, String]): Seq[String] =
    props.get("paths").map(decode)
      .orElse(props.get("path").map(commaSplit))
      .getOrElse(throw new IllegalArgumentException("no path specified"))

  private def decode(s: String): Seq[String] =
    if (s.trim.startsWith("[")) {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      mapper.readValue(s, classOf[Array[String]]).toSeq
    } else commaSplit(s)

  private def commaSplit(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  def hasExtension(name: String, extensions: Seq[String]): Boolean =
    extensions.exists(name.toLowerCase.endsWith)

  /** The input files of `paths`, each with its length in bytes. A file
    * path is taken as given, whatever its name. A directory is listed
    * RECURSIVELY (replication and split dumps nest, e.g.
    * AAA/BBB/CCC.osc.gz), keeping files whose name ends in one of
    * `extensions` (case-insensitive) and skipping names that start with
    * `_` or `.` (_SUCCESS, .crc and other markers) — a documented
    * contract: differently-named data files must be passed as explicit
    * file paths.
    */
  def files(paths: Seq[String], extensions: Seq[String],
      conf: Configuration): Seq[(String, Long)] =
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val status = fs.getFileStatus(hp)
      if (!status.isDirectory) Seq(p -> status.getLen)
      else {
        val out = ArrayBuffer.empty[(String, Long)]
        val it = fs.listFiles(hp, true)
        while (it.hasNext) {
          val f = it.next()
          val n = f.getPath.getName
          if (!n.startsWith("_") && !n.startsWith(".") && hasExtension(n, extensions))
            out += f.getPath.toString -> f.getLen
        }
        out.toSeq
      }
    }
}

/** One splittable unit of an input file: the bytes `[start, end)`,
  * weighing `bytes` in split planning.
  */
final case class FileUnit(start: Long, end: Long, bytes: Long)

/** One input partition of every OSM format: a run of consecutive units
  * of one file.
  */
case class OsmFileRange(path: String, startOffset: Long, endOffset: Long)
  extends InputPartition

/** One OSM input format as the shared DataSource V2 classes below see it:
  * what differs between the formats, and nothing else. `scanName`
  * prefixes the scan's description (and so the plan string).
  */
abstract class OsmFormat(val shortName: String, val scanName: String,
    val schema: StructType, val extensions: Seq[String]) extends Serializable {

  /** Whether the reader evaluates `f` while reading; none by default. */
  def pushes(f: Filter): Boolean = false

  /** The scan's description, which is also its plan string. */
  def describe(paths: Seq[String], pushed: Array[Filter]): String =
    s"$scanName[${paths.mkString(",")}]"

  /** The splittable units of the file `path` of `length` bytes, in file
    * order; [[OsmScan]] makes each run of consecutive units a partition,
    * and [[reader]] reads one. PBF's units are its OSMData blobs, a
    * splittable changeset file's are 64 KiB byte chunks ([[XmlSplit]]),
    * and any other file is one unit.
    */
  def units(path: String, length: Long, conf: Configuration): Seq[FileUnit]

  /** The `required` columns of the rows in `range`; `pushed` holds the
    * filters [[pushes]] accepted.
    */
  def reader(range: OsmFileRange, required: StructType, pushed: Array[Filter],
      conf: Configuration): PartitionReader[InternalRow]
}

/** TableProvider of one OSM format; `format` reads the options. The
  * table captures the session `load` runs in, on the loading thread, so
  * scans are built and planned without asking for an active session.
  */
abstract class OsmSourceProvider(format: CaseInsensitiveStringMap => OsmFormat)
    extends TableProvider with DataSourceRegister {
  override def shortName(): String = format(CaseInsensitiveStringMap.empty()).shortName
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    format(options).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OsmTable(format(new CaseInsensitiveStringMap(properties)),
      OsmInputs.paths(properties.asScala.toMap), SparkSession.active)
}

class OsmTable(format: OsmFormat, paths: Seq[String], spark: SparkSession)
    extends Table with SupportsRead {
  override def name(): String = s"${format.shortName}:${paths.mkString(",")}"
  override def schema(): StructType = format.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new OsmScanBuilder(format, paths, options, spark)
}

/** Column pruning and filter pushdown for every format. `build` takes
  * the Hadoop conf and the default parallelism from `spark`, the session
  * the table captured; nothing below it reads a session.
  */
class OsmScanBuilder(format: OsmFormat, paths: Seq[String],
    options: CaseInsensitiveStringMap, spark: SparkSession)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = format.schema
  private var pushed: Array[Filter] = Array.empty

  /** Top-level-only column pruning: keep the caller's column selection
    * but restore each kept column's FULL datatype. Spark's nested-schema
    * pruning (on by default) may hand us a schema with struct fields
    * pruned INSIDE arrays (e.g. members: array<struct<ref>>); the row
    * builders emit full structs, so echoing the nested-pruned schema in
    * readSchema() would misalign ordinals and crash. Declaring the full
    * nested type is always correct — Spark projects on top.
    */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fields.map(f => format.schema(f.name)))

  /** Accepted filters are evaluated while reading but ALSO returned as
    * residual: Spark re-applies them exactly, so a reader only skips
    * rows that provably fail.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(format.pushes)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new OsmScan(format, paths, required, pushed,
    Option(options.get("maxPartitionBytes")).map(_.toLong).getOrElse(32L << 20),
    spark.sparkContext.defaultParallelism,
    new SerializableConfiguration(spark.sessionState.newHadoopConf()))
}

object OsmScan {
  /** The smallest split the planner aims for, in unit bytes, so that
    * small files stay one task.
    */
  val MinSplitBytes: Long = 1L << 20
}

class OsmScan(format: OsmFormat, paths: Seq[String], required: StructType,
    pushed: Array[Filter], maxPartBytes: Long, parallelism: Int,
    conf: SerializableConfiguration) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = format.describe(paths, pushed)

  /** Cuts each file's consecutive units into runs of about `target =
    * min(maxPartBytes, max(MinSplitBytes, ceil(total / parallelism)))`
    * bytes, where `total` sums the units of every file — the way Spark's
    * `FilePartition.maxSplitBytes` sizes a file split. A run ends with
    * the unit that takes the file's running unit bytes to or past a
    * multiple of `target`, so a file of equal units splits into runs
    * that differ by at most one unit. A file of one unit is one
    * partition.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val files = OsmInputs.files(paths, format.extensions, conf.value)
      .map { case (path, length) => path -> format.units(path, length, conf.value) }
    val total = files.iterator.flatMap(_._2).map(_.bytes).sum
    val target = math.min(maxPartBytes,
      math.max(OsmScan.MinSplitBytes, (total + parallelism - 1) / parallelism))
    val parts = ArrayBuffer.empty[InputPartition]
    for ((path, units) <- files) {
      var runStart = -1L
      var runEnd = -1L
      var done = 0L
      for (u <- units) {
        if (runStart < 0) runStart = u.start
        runEnd = u.end
        done += u.bytes
        if (done / target > (done - u.bytes) / target) {
          parts += OsmFileRange(path, runStart, runEnd)
          runStart = -1L
        }
      }
      if (runStart >= 0) parts += OsmFileRange(path, runStart, runEnd)
    }
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new OsmReaderFactory(format, required, pushed, conf)
}

class OsmReaderFactory(format: OsmFormat, required: StructType, pushed: Array[Filter],
    conf: SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    format.reader(partition.asInstanceOf[OsmFileRange], required, pushed, conf.value)
}
