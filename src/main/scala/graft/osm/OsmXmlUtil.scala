package graft.osm

import java.io.InputStream
import java.time.Instant
import java.time.format.DateTimeParseException

import javax.xml.stream.{XMLInputFactory, XMLStreamException, XMLStreamReader}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{Decimal, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared plumbing for the XML-based OSM sources (changesets, osmChange,
  * planet XML) — one copy of the codec-aware stream opening and the
  * InternalRow conversion helpers, so a fix cannot drift between sources.
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

  /** A coordinate [[XmlAttrs.coord]] already scaled and range-checked. */
  def dec(v: Option[java.math.BigDecimal], precision: Int): Any =
    v.map(Decimal(_, precision, 7)).orNull
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
  /** A coordinate at the schema's scale 7 (half-up), failing here, while
    * the parser can still name the line, unless it fits
    * decimal(precision, 7).
    */
  def coord(n: String, precision: Int): Option[java.math.BigDecimal] = dec(n).map { v =>
    val b = v.setScale(7, java.math.RoundingMode.HALF_UP)
    if (b.precision > precision) throw new IllegalArgumentException(
      s"$n=${m(n)} does not fit decimal($precision,7)")
    b
  }
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

/** One XML format: a whole file is its one unit (gzip/bz2 XML is not
  * splittable; directories of replication files fan out naturally), and
  * `rows` reads the `required` columns of one decompressed file.
  */
final class XmlFormat(shortName: String, scanName: String, schema: StructType,
    extensions: Seq[String], rows: (InputStream, String, StructType) => Iterator[InternalRow])
    extends OsmFormat(shortName, scanName, schema, extensions) {
  override def units(path: String, length: Long, conf: Configuration): Seq[FileUnit] =
    Seq(FileUnit(0L, length, length))
  override def reader(range: OsmFileRange, required: StructType, pushed: Array[Filter],
      conf: Configuration): PartitionReader[InternalRow] = new PartitionReader[InternalRow] {
    private val in = OsmXmlUtil.openDecompressed(range.path, conf)
    private val it = OsmXmlUtil.closing(in)(rows(in, range.path, required))
    private var current: InternalRow = _
    override def next(): Boolean = it.hasNext && { current = it.next(); true }
    override def get(): InternalRow = current
    override def close(): Unit = in.close()
  }
}
