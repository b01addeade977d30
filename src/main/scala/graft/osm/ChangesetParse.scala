package graft.osm

import java.io.InputStream

import javax.xml.stream.XMLStreamConstants

import scala.collection.mutable

/** StAX pull-parse of OSM changeset XML into a neutral record — shared
  * by the DSv2 source (InternalRow path) and any direct consumer.
  * Null-handling parity per SURVEY §1.2 (absent attrs → None, see
  * [[XmlAttrs]]; root must be <osm>: ChangesetXmlHandler.java:57).
  */
object ChangesetParse {

  /** One <discussion><comment> entry: attrs + the nested <text> body.
    * The reference left discussion parsing as a TODO
    * (OsmPbf2Orc.java:193-195); real planet changeset dumps carry it,
    * so we parse it — surfaced as an OPT-IN column (schema parity with
    * the reference by default, see ChangesetXmlSource).
    */
  final case class ParsedComment(
      dateMicros: Option[Long],
      uid: Option[Long],
      user: Option[String],
      text: String)

  final case class ParsedChangeset(
      id: Long,
      tags: Seq[(String, String)],
      createdAtMicros: Option[Long],
      open: Boolean,
      closedAtMicros: Option[Long],
      commentsCount: Option[Long],
      minLat: Option[java.math.BigDecimal],
      maxLat: Option[java.math.BigDecimal],
      minLon: Option[java.math.BigDecimal],
      maxLon: Option[java.math.BigDecimal],
      numChanges: Option[Long],
      uid: Option[Long],
      user: Option[String],
      discussion: Seq[ParsedComment])

  /** The changesets of `in`; `at` names a line of it in errors. */
  def iterator(in: InputStream, at: Int => String): Iterator[ParsedChangeset] =
    new ChangesetIterator(in, at)

  private final class ChangesetIterator(in: InputStream, at: Int => String)
      extends XmlRecords[ParsedChangeset](in, at) {
    private var sawRoot = false
    private var attrs: XmlAttrs = _
    private val tags = mutable.ArrayBuffer.empty[(String, String)]
    private val discussion = mutable.ArrayBuffer.empty[ParsedComment]
    private var commentAttrs: XmlAttrs = null
    private var textBuf: java.lang.StringBuilder = null
    private var commentText: String = ""

    protected def step(event: Int): ParsedChangeset = event match {
      case XMLStreamConstants.START_ELEMENT =>
        r.getLocalName match {
          case "osm" => sawRoot = true
          case "changeset" =>
            if (!sawRoot) throw new IllegalArgumentException(
              "This does not appear to be an OSM changeset file.")
            attrs = attributes()
            tags.clear()
            discussion.clear()
          case "tag" if attrs != null => tags += tag()
          case "comment" if attrs != null =>
            commentAttrs = attributes()
            commentText = ""
          case "text" if commentAttrs != null =>
            textBuf = new java.lang.StringBuilder
          case other if !sawRoot => throw new IllegalArgumentException(
            s"This does not appear to be an OSM changeset file (root <$other>).")
          case _ => // discussion wrapper etc.
        }
        null
      case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA
          if textBuf != null =>
        textBuf.append(r.getText)
        null
      case XMLStreamConstants.END_ELEMENT if r.getLocalName == "text" &&
          textBuf != null =>
        commentText = textBuf.toString
        textBuf = null
        null
      case XMLStreamConstants.END_ELEMENT if r.getLocalName == "comment" &&
          commentAttrs != null =>
        discussion += ParsedComment(commentAttrs.micros("date"),
          commentAttrs.lng("uid"), commentAttrs("user"), commentText)
        commentAttrs = null
        textBuf = null
        commentText = ""
        null
      case XMLStreamConstants.END_ELEMENT if r.getLocalName == "changeset" =>
        val rec = ParsedChangeset(
          attrs("id").map(_.toLong).getOrElse(
            throw new IllegalArgumentException("changeset without id")),
          tags.toSeq,
          attrs.micros("created_at"),
          attrs("open").exists(_.toBoolean),
          attrs.micros("closed_at"),
          attrs.lng("comments_count"),
          attrs.coord("min_lat", 9), attrs.coord("max_lat", 9),
          attrs.coord("min_lon", 10), attrs.coord("max_lon", 10),
          attrs.lng("num_changes"),
          attrs.lng("uid"),
          attrs("user"),
          discussion.toSeq)
        attrs = null
        rec
      case _ => null
    }
  }
}
