package graft.osm

import java.io.InputStream
import java.time.Instant
import java.time.format.DateTimeParseException
import java.util

import javax.xml.stream.{XMLInputFactory, XMLStreamException, XMLStreamReader}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.SparkSession
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

import graft.osm.pbf.SerializableHadoopConf

/** Input paths and the one directory lister of the four OSM sources. */
private[osm] object OsmInputs {

  /** The file-name extensions each format's directory reads take. */
  val PbfExtensions: Seq[String] = Seq(".pbf")
  val ChangesetExtensions: Seq[String] =
    Seq(".xml", ".xml.gz", ".osm", ".osm.gz", ".osc", ".osc.gz")
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

  /** The input files of `paths`. A file path is taken as given, whatever
    * its name. A directory is listed RECURSIVELY (replication and split
    * dumps nest, e.g. AAA/BBB/CCC.osc.gz), keeping files whose name ends
    * in one of `extensions` (case-insensitive) and skipping names that
    * start with `_` or `.` (_SUCCESS, .crc and other markers) — a
    * documented contract: differently-named data files must be passed as
    * explicit file paths.
    */
  def files(paths: Seq[String], extensions: Seq[String], conf: Configuration): Seq[String] =
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      if (!fs.getFileStatus(hp).isDirectory) Seq(p)
      else {
        val out = ArrayBuffer.empty[String]
        val it = fs.listFiles(hp, true)
        while (it.hasNext) {
          val f = it.next().getPath
          val n = f.getName
          if (!n.startsWith("_") && !n.startsWith(".") && hasExtension(n, extensions))
            out += f.toString
        }
        out.toSeq
      }
    }
}

/** Shared plumbing for the XML-based OSM sources (changesets, osmChange,
  * planet XML) — one copy of the codec-aware stream opening, InternalRow
  * conversion helpers, and the pruning policy, so a fix cannot drift
  * between sources.
  */
private[osm] object OsmXmlUtil {

  /** Open a path, transparently decompressing by extension (.gz etc.). */
  def openDecompressed(path: String, conf: Configuration): InputStream = {
    val hp = new Path(path)
    val raw = hp.getFileSystem(conf).open(hp)
    val codec = new CompressionCodecFactory(conf).getCodec(hp)
    if (codec != null) codec.createInputStream(raw) else raw
  }

  /** Run `build` (typically parser construction, which reads the XML
    * prolog); close `in` if it throws — Spark never calls close() on a
    * PartitionReader whose constructor failed, so without this the
    * filesystem stream leaks once per failed task attempt.
    */
  def closing[A](in: InputStream)(build: => A): A =
    try build catch { case t: Throwable => try in.close() catch { case _: Throwable => }; throw t }

  /** Streaming StAX reader: coalesced text, no DTD processing. A factory
    * per stream, since readers may be built on many task threads at once.
    */
  def newReader(in: InputStream): XMLStreamReader = {
    val factory = XMLInputFactory.newInstance()
    factory.setProperty(XMLInputFactory.IS_COALESCING, true)
    factory.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    factory.createXMLStreamReader(in)
  }

  /** Top-level-only column pruning: keep the caller's column selection
    * but restore each kept column's FULL datatype from `full`. Spark's
    * nested-schema pruning (on by default) may hand
    * SupportsPushDownRequiredColumns a schema with struct fields pruned
    * INSIDE arrays (e.g. members: array<struct<ref>>); our row builders
    * emit full structs, so echoing the nested-pruned schema in
    * readSchema() would misalign ordinals and crash. Declaring the full
    * nested type is always correct — Spark projects on top.
    */
  def topLevelPrune(full: StructType, pruned: StructType): StructType =
    StructType(pruned.fields.map(f => full(f.name)))

  /** Rows of the `required` columns, each converted by its `column`
    * extractor — unselected columns are never converted.
    */
  def rowsOf[A](records: Iterator[A], required: StructType,
      column: String => A => Any): Iterator[InternalRow] = {
    val extractors = required.fields.map(f => column(f.name))
    records.map { rec =>
      val values = new Array[Any](extractors.length)
      var i = 0
      while (i < extractors.length) { values(i) = extractors(i)(rec); i += 1 }
      new GenericInternalRow(values)
    }
  }

  def utf8(s: String): UTF8String = UTF8String.fromString(s)

  def tagsMap(tags: Seq[(String, String)]): ArrayBasedMapData = {
    val keys = new Array[AnyRef](tags.length)
    val vals = new Array[AnyRef](tags.length)
    var i = 0
    tags.foreach { case (k, v) => keys(i) = utf8(k); vals(i) = utf8(v); i += 1 }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  def dec(v: Option[java.math.BigDecimal], precision: Int): Any =
    v.map(b => Decimal(b.setScale(7, java.math.RoundingMode.HALF_UP), precision, 7)).orNull
}

/** The attributes of one XML element, with the typed reads the OSM
  * formats use: absent → None; decimals from the attribute string via
  * BigDecimal, never double (OsmChangesetXml2Orc.java:142-171).
  */
final class XmlAttrs(m: Map[String, String]) {
  def apply(n: String): Option[String] = m.get(n)
  def micros(n: String): Option[Long] = m.get(n).map { v =>
    val i = Instant.parse(v)
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
  def dec(n: String): Option[java.math.BigDecimal] = m.get(n).map(new java.math.BigDecimal(_))
  def lng(n: String): Option[Long] = m.get(n).flatMap(_.toLongOption)
}

/** A StAX pull iterator over one OSM XML file, streaming in O(1) memory.
  * Subclasses turn parse events into records in `step`; malformed
  * markup, timestamps and numbers fail as an IllegalArgumentException
  * naming `path` and the line.
  */
abstract class XmlRecords[A >: Null](in: InputStream, path: String) extends Iterator[A] {
  protected val r: XMLStreamReader =
    try OsmXmlUtil.newReader(in)
    catch { case e: XMLStreamException =>
      throw malformed(e, Option(e.getLocation).fold(1)(_.getLineNumber))
    }
  private var pending: A = null
  private var done = false

  /** Handle the event the reader stands on; a finished record, else null. */
  protected def step(event: Int): A

  protected def attributes(): XmlAttrs = new XmlAttrs((0 until r.getAttributeCount)
    .map(i => r.getAttributeLocalName(i) -> r.getAttributeValue(i)).toMap)

  protected def tag(): (String, String) =
    r.getAttributeValue(null, "k") -> r.getAttributeValue(null, "v")

  override def hasNext: Boolean = {
    try {
      while (pending == null && !done) {
        if (r.hasNext) pending = step(r.next())
        else { done = true; r.close(); in.close() }
      }
    } catch {
      case e @ (_: XMLStreamException | _: DateTimeParseException |
          _: IllegalArgumentException) =>
        throw malformed(e, r.getLocation.getLineNumber)
    }
    pending != null
  }

  override def next(): A = {
    if (!hasNext) throw new NoSuchElementException(s"no more records in $path")
    val rec = pending
    pending = null
    rec
  }

  private def malformed(e: Throwable, line: Int) = new IllegalArgumentException(
    s"malformed OSM XML in $path at line $line: ${e.getMessage}", e)
}

/** One XML format as the shared DataSource V2 classes below see it.
  * `scanName` prefixes the scan's description (and so the plan string);
  * `rows` reads the `required` columns of one decompressed file.
  */
final case class XmlFormat(shortName: String, scanName: String, schema: StructType,
    extensions: Seq[String],
    rows: (InputStream, String, StructType) => Iterator[InternalRow])

/** TableProvider of one XML format; `format` reads the options. One file
  * is one input partition (gzip/bz2 XML is not splittable; directories of
  * replication files fan out naturally), and column pruning skips the
  * conversion of unreferenced columns.
  */
abstract class XmlSourceProvider(format: CaseInsensitiveStringMap => XmlFormat)
    extends TableProvider with DataSourceRegister {
  override def shortName(): String = format(CaseInsensitiveStringMap.empty()).shortName
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    format(options).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new XmlTable(format(new CaseInsensitiveStringMap(properties)),
      OsmInputs.paths(properties.asScala.toMap))
}

class XmlTable(format: XmlFormat, paths: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"${format.shortName}:${paths.mkString(",")}"
  override def schema(): StructType = format.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new XmlScanBuilder(format, paths)
}

class XmlScanBuilder(format: XmlFormat, paths: Seq[String])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = format.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = OsmXmlUtil.topLevelPrune(format.schema, requiredSchema)
  override def build(): Scan = new XmlScan(format, paths, required,
    new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf()))
}

case class XmlInputPartition(path: String) extends InputPartition

class XmlScan(format: XmlFormat, paths: Seq[String], required: StructType,
    conf: SerializableHadoopConf) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"${format.scanName}[${paths.mkString(",")}]"
  override def planInputPartitions(): Array[InputPartition] =
    OsmInputs.files(paths, format.extensions, conf.value)
      .map(f => XmlInputPartition(f): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new XmlReaderFactory(format, required, conf)
}

class XmlReaderFactory(format: XmlFormat, required: StructType,
    conf: SerializableHadoopConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new XmlPartitionReader(format, partition.asInstanceOf[XmlInputPartition].path,
      required, conf)
}

class XmlPartitionReader(format: XmlFormat, path: String, required: StructType,
    conf: SerializableHadoopConf) extends PartitionReader[InternalRow] {
  private val in = OsmXmlUtil.openDecompressed(path, conf.value)
  private val rows = OsmXmlUtil.closing(in)(format.rows(in, path, required))
  private var current: InternalRow = _
  override def next(): Boolean = rows.hasNext && { current = rows.next(); true }
  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}
