package graft.osm

import java.io.InputStream

import javax.xml.stream.XMLStreamConstants

import scala.collection.mutable

/** StAX pull-parse of osmChange (`.osc`) replication-diff XML — the
  * format OSM minutely/hourly/daily diffs ship in (osmosis
  * `--read-xml-change`). Entities arrive wrapped in
  * `<create>`/`<modify>`/`<delete>` containers; each entity row carries
  * its operation plus the same union-wide fields as the planet schema
  * (`visible` defaults to false inside `<delete>`, true otherwise — the
  * osmosis convention).
  *
  * Same [[XmlRecords]] streaming shape as [[ChangesetParse]]; root must
  * be `<osmChange>`.
  */
object OsmChangeParse {

  final case class ParsedChange(
      op: String, // create | modify | delete
      kind: String, // node | way | relation
      id: Long,
      tags: Seq[(String, String)],
      lat: Option[java.math.BigDecimal],
      lon: Option[java.math.BigDecimal],
      nds: Seq[Long],
      members: Seq[(String, Long, String)], // (type, ref, role)
      changeset: Option[Long],
      timestampMicros: Option[Long],
      uid: Option[Long],
      user: Option[String],
      version: Option[Long],
      visible: Boolean)

  private val Ops = Set("create", "modify", "delete")
  private val Kinds = Set("node", "way", "relation")

  /** The changes of `in`; `at` names a line of it in errors. */
  def iterator(in: InputStream, at: Int => String): Iterator[ParsedChange] =
    new ChangeIterator(in, at, planet = false)

  /** Planet/history `.osm` XML (osmosis `--read-xml`): same entity
    * elements directly under an `<osm>` root — no operation containers,
    * `op` is empty, `visible` defaults true (planet convention; history
    * dumps carry explicit visible="false" rows).
    */
  def planetIterator(in: InputStream, at: Int => String): Iterator[ParsedChange] =
    new ChangeIterator(in, at, planet = true)

  private final class ChangeIterator(in: InputStream, at: Int => String,
      planet: Boolean) extends XmlRecords[ParsedChange](in, at) {
    private var sawRoot = false
    private var op: String = _
    private var kind: String = _
    private var attrs: XmlAttrs = _
    private val tags = mutable.ArrayBuffer.empty[(String, String)]
    private val nds = mutable.ArrayBuffer.empty[Long]
    private val members = mutable.ArrayBuffer.empty[(String, Long, String)]

    protected def step(event: Int): ParsedChange = event match {
      case XMLStreamConstants.START_ELEMENT =>
        r.getLocalName match {
          case "osmChange" if !planet => sawRoot = true
          case "osm" if planet => sawRoot = true
          case o if !planet && Ops(o) && sawRoot => op = o
          case k if Kinds(k) && sawRoot && (planet || op != null) =>
            kind = k
            attrs = attributes()
            tags.clear(); nds.clear(); members.clear()
          case "tag" if kind != null => tags += tag()
          case "nd" if kind != null =>
            nds += r.getAttributeValue(null, "ref").toLong
          case "member" if kind != null =>
            members += ((r.getAttributeValue(null, "type"),
              r.getAttributeValue(null, "ref").toLong,
              Option(r.getAttributeValue(null, "role")).getOrElse("")))
          case "changeset" if planet && kind == null =>
            // a planet file never holds <changeset> ELEMENTS (entities
            // carry a changeset ATTRIBUTE) — this is a changeset dump
            // misrouted to the planet parser; silently skipping every
            // element would "succeed" with zero rows
            throw new IllegalArgumentException(
              "This looks like a changeset dump (<changeset> elements " +
                "under <osm>) — read it with the osm-changesets source " +
                "/ the --changesets CLI flag, not as planet XML.")
          case other if !sawRoot => throw new IllegalArgumentException(
            s"This does not appear to be an ${if (planet) "osm" else "osmChange"} " +
              s"file (root <$other>).")
          case _ => // bounds etc.
        }
        null
      case XMLStreamConstants.END_ELEMENT =>
        r.getLocalName match {
          case k if Kinds(k) && kind == k =>
            val rec = ParsedChange(
              if (planet) "" else op, kind,
              attrs("id").map(_.toLong).getOrElse(
                throw new IllegalArgumentException(s"$kind without id")),
              tags.toSeq,
              if (kind == "node") attrs.coord("lat", 9) else None,
              if (kind == "node") attrs.coord("lon", 10) else None,
              nds.toSeq, members.toSeq,
              attrs.lng("changeset"), attrs.micros("timestamp"), attrs.lng("uid"),
              attrs("user"), attrs.lng("version"),
              attrs("visible").map(_.toBoolean).getOrElse(op != "delete"))
            kind = null
            rec
          case o if Ops(o) => op = null; null
          case _ => null
        }
      case _ => null
    }
  }
}
