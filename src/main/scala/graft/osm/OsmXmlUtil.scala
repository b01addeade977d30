package graft.osm

import java.io.{FilterInputStream, IOException, InputStream}
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

  /** Open a path, transparently decompressing by extension (.gz etc.).
    * Corrupt compressed data fails naming the file: as an
    * IllegalArgumentException while the decoder starts, as an IOException
    * (which StAX wraps) while it reads.
    */
  def openDecompressed(path: String, conf: Configuration): InputStream = {
    val hp = new Path(path)
    val raw = hp.getFileSystem(conf).open(hp)
    val codec = new CompressionCodecFactory(conf).getCodec(hp)
    def corrupt(e: Throwable) = s"${codec.getDefaultExtension} data error in $path: $e"
    if (codec == null) raw
    else closing(raw) {
      val in = try codec.createInputStream(raw) catch {
        case e @ (_: IOException | _: RuntimeException) =>
          throw new IllegalArgumentException(corrupt(e), e)
      }
      new FilterInputStream(in) {
        override def read(b: Array[Byte], off: Int, len: Int): Int =
          try super.read(b, off, len) catch {
            case e: RuntimeException => throw new IOException(corrupt(e), e)
          }
      }
    }
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

  /** Names a line of the whole file `path`, for [[XmlRecords]]. */
  def atLine(path: String): Int => String = line => s"$path at line $line"

  /** A coordinate [[XmlAttrs.coord]] already scaled and range-checked. */
  def dec(v: Option[java.math.BigDecimal], precision: Int): Any =
    v.map(Decimal(_, precision, 7)).orNull
}

/** The attributes of one XML element, names and values side by side
  * (an OSM element carries a dozen at most, so lookup is a linear scan),
  * with the typed reads the OSM formats use: absent → None; decimals
  * from the attribute string via BigDecimal, never double
  * (OsmChangesetXml2Orc.java:142-171).
  */
final class XmlAttrs(names: Array[String], values: Array[String]) {
  private def get(n: String): String = {
    var i = 0
    while (i < names.length) {
      if (names(i) == n) return values(i)
      i += 1
    }
    null
  }
  def apply(n: String): Option[String] = Option(get(n))
  def micros(n: String): Option[Long] = apply(n).map(XmlAttrs.micros)
  def dec(n: String): Option[java.math.BigDecimal] = apply(n).map(new java.math.BigDecimal(_))
  /** A coordinate at the schema's scale 7 (half-up), failing here, while
    * the parser can still name the line, unless it fits
    * decimal(precision, 7).
    */
  def coord(n: String, precision: Int): Option[java.math.BigDecimal] = dec(n).map { v =>
    val b = v.setScale(7, java.math.RoundingMode.HALF_UP)
    if (b.precision > precision) throw new IllegalArgumentException(
      s"$n=${get(n)} does not fit decimal($precision,7)")
    b
  }
  def lng(n: String): Option[Long] = apply(n).flatMap(_.toLongOption)
}

object XmlAttrs {
  /** Epoch microseconds of an ISO-8601 instant, as `Instant.parse` reads
    * it. The form OSM writes, `YYYY-MM-DDTHH:MM:SSZ` with every field in
    * range and a second of 0–59, is read here; every other string
    * (fractions, offsets, lower case, second 60, a field out of range) goes
    * to `Instant.parse`, so a bad timestamp still fails with its
    * DateTimeParseException.
    */
  def micros(v: String): Long = {
    val s = plainSeconds(v)
    if (s != Long.MinValue) s * 1000000L
    else {
      val i = Instant.parse(v)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
  }

  /** Epoch seconds of `v` in the plain form, else Long.MinValue. */
  private def plainSeconds(v: String): Long = {
    if (v.length != 20 || v.charAt(4) != '-' || v.charAt(7) != '-' || v.charAt(10) != 'T' ||
        v.charAt(13) != ':' || v.charAt(16) != ':' || v.charAt(19) != 'Z') return Long.MinValue
    def num(at: Int, n: Int): Int = {
      var x = 0
      var i = at
      while (i < at + n) {
        val d = v.charAt(i) - '0'
        if (d < 0 || d > 9) return -1
        x = x * 10 + d
        i += 1
      }
      x
    }
    val y = num(0, 4)
    val m = num(5, 2)
    val d = num(8, 2)
    val h = num(11, 2)
    val mi = num(14, 2)
    val s = num(17, 2)
    val leap = y % 4 == 0 && (y % 100 != 0 || y % 400 == 0)
    val monthDays = m match {
      case 2 => if (leap) 29 else 28
      case 4 | 6 | 9 | 11 => 30
      case _ => 31
    }
    if (y < 0 || m < 1 || m > 12 || d < 1 || d > monthDays || h < 0 || h > 23 ||
        mi < 0 || mi > 59 || s < 0 || s > 59) return Long.MinValue
    // days since 1970-01-01 of the proleptic Gregorian date (a year
    // counted from March, so the leap day ends it)
    val ym = if (m <= 2) y - 1 else y
    val era = Math.floorDiv(ym, 400)
    val yoe = ym - era * 400
    val doy = (153 * ((m + 9) % 12) + 2) / 5 + d - 1
    val days = era * 146097L + yoe * 365 + yoe / 4 - yoe / 100 + doy - 719468
    days * 86400L + h * 3600 + mi * 60 + s
  }
}

/** A StAX pull iterator over one OSM XML stream, in O(1) memory.
  * Subclasses turn parse events into records in `step`; malformed
  * markup, timestamps and numbers fail as an IllegalArgumentException
  * naming the place `at` gives for the line (the file and line, see
  * [[OsmXmlUtil.atLine]], or a split's start and a line inside it).
  */
abstract class XmlRecords[A >: Null](in: InputStream, at: Int => String) extends Iterator[A] {
  protected val r: XMLStreamReader =
    try OsmXmlUtil.newReader(in)
    catch { case e: XMLStreamException =>
      throw malformed(e, Option(e.getLocation).fold(1)(_.getLineNumber))
    }
  private var pending: A = null
  private var done = false

  /** Handle the event the reader stands on; a finished record, else null. */
  protected def step(event: Int): A

  protected def attributes(): XmlAttrs = {
    val n = r.getAttributeCount
    val names = new Array[String](n)
    val values = new Array[String](n)
    var i = 0
    while (i < n) {
      names(i) = r.getAttributeLocalName(i)
      values(i) = r.getAttributeValue(i)
      i += 1
    }
    new XmlAttrs(names, values)
  }

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
      // the StAX reader's lazily raised errors (in getText) wrap its own
      case e: RuntimeException if e.getCause.isInstanceOf[XMLStreamException] =>
        throw malformed(e, r.getLocation.getLineNumber)
    }
    pending != null
  }

  override def next(): A = {
    if (!hasNext) throw new NoSuchElementException("no more records")
    val rec = pending
    pending = null
    rec
  }

  private def malformed(e: Throwable, line: Int) = new IllegalArgumentException(
    s"malformed OSM XML in ${at(line)}: ${e.getMessage}", e)
}

/** One XML format; `rows` reads the `required` columns of one XML
  * stream, naming its lines with the function it gets. A file is one
  * unit, except where the format names its `record` tag — the elements
  * directly under the root that it reads, `changeset` for changeset
  * dumps — and the file is plain or bz2 UTF-8 XML: [[XmlSplit]] then cuts
  * it into fixed-size units and reads a partition from record start to
  * record start. gzip is not splittable, and OSC and planet XML name no
  * record tag, so they stay one task per file (directories of
  * replication files fan out naturally).
  */
final class XmlFormat(shortName: String, scanName: String, schema: StructType,
    extensions: Seq[String], record: Option[String],
    rows: (InputStream, Int => String, StructType) => Iterator[InternalRow])
    extends OsmFormat(shortName, scanName, schema, extensions) {
  override def units(path: String, length: Long, conf: Configuration): Seq[FileUnit] =
    if (record.isDefined && length > XmlSplit.ChunkBytes && XmlSplit.splittable(path, conf))
      XmlSplit.units(length)
    else Seq(FileUnit(0L, length, length))
  override def reader(range: OsmFileRange, required: StructType, pushed: Array[Filter],
      conf: Configuration): PartitionReader[InternalRow] = new PartitionReader[InternalRow] {
    private val (in, at) = record match {
      case Some(tag) if !XmlSplit.wholeFile(range, conf) => XmlSplit.open(range, tag, conf)
      case _ => (OsmXmlUtil.openDecompressed(range.path, conf), OsmXmlUtil.atLine(range.path))
    }
    private val it = OsmXmlUtil.closing(in)(rows(in, at, required))
    private var current: InternalRow = _
    override def next(): Boolean = it.hasNext && { current = it.next(); true }
    override def get(): InternalRow = current
    override def close(): Unit = in.close()
  }
}
