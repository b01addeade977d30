package graft.osm

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.StructType

import graft.osm.ChangesetParse.ParsedChangeset

/** DataSource V2 for OSM changeset XML:
  * `spark.read.format("osm-changesets").load(path)` — an [[XmlFormat]]
  * of the shared OSM source classes (SURVEY §2A A3) over [[ChangesetParse]],
  * with `changeset` as its record tag: a plain or bz2 dump is split on
  * record boundaries ([[XmlSplit]]). The option is read case-insensitively
  * and leniently, the same for the inferred schema and the table.
  */
class ChangesetXmlSource extends OsmSourceProvider(o =>
  ChangesetXmlSource.format(o.getBoolean("discussion", false)))

object ChangesetXmlSource {
  /** Reference-parity 13 columns by default; `.option("discussion",
    * true)` appends the array-of-comment-structs column the reference
    * left as a TODO.
    */
  def schemaFor(withDiscussion: Boolean): StructType =
    if (withDiscussion) OsmSchemas.ChangesetsWithDiscussion
    else OsmSchemas.Changesets

  private[osm] def format(withDiscussion: Boolean): XmlFormat =
    new XmlFormat("osm-changesets", "ChangesetXmlScan", schemaFor(withDiscussion),
      OsmInputs.ChangesetExtensions, Some("changeset"), (in, at, required) =>
        OsmXmlUtil.rowsOf(ChangesetParse.iterator(in, at), required, column))

  import OsmXmlUtil.{dec, tagsMap, utf8}

  private def column(name: String): ParsedChangeset => Any = name match {
    case "id" => _.id
    case "tags" => c => tagsMap(c.tags)
    case "created_at" => _.createdAtMicros.map(Long.box).orNull
    case "open" => _.open
    case "closed_at" => _.closedAtMicros.map(Long.box).orNull
    case "comments_count" => _.commentsCount.map(Long.box).orNull
    case "min_lat" => c => dec(c.minLat, 9)
    case "max_lat" => c => dec(c.maxLat, 9)
    case "min_lon" => c => dec(c.minLon, 10)
    case "max_lon" => c => dec(c.maxLon, 10)
    case "num_changes" => _.numChanges.map(Long.box).orNull
    case "uid" => _.uid.map(Long.box).orNull
    case "user" => _.user.map(utf8).orNull
    case "discussion" => c =>
      new GenericArrayData(c.discussion.map { cm =>
        new GenericInternalRow(Array[Any](
          cm.dateMicros.map(Long.box).orNull,
          cm.uid.map(Long.box).orNull,
          cm.user.map(utf8).orNull,
          utf8(cm.text)))
      }.toArray[Any])
    case other => throw new IllegalArgumentException(s"unknown changesets column $other")
  }
}
