package graft.osm

import javax.xml.stream.XMLStreamConstants

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{StructField, StringType, StructType}

import graft.osm.OsmChangeParse.ParsedChange

/** DataSource V2 for osmChange (`.osc`) replication diffs:
  * `spark.read.format("osm-osc").load(path)` — an [[XmlFormat]] of the
  * shared OSM source classes over [[OsmChangeParse]].
  *
  * Schema = `op` ('create'|'modify'|'delete') + the 13 planet columns,
  * so a diff applies onto a planet table with a plain union + windowed
  * latest-version pick (`OsmQueries.latestVersionsWindow`) — the
  * replication-apply pipeline in two operators.
  */
class OsmChangeSource extends OsmSourceProvider(_ => OsmChangeSource.Format)

object OsmChangeSource {
  /** op + the planet columns (single source: OsmSchemas.Planet). */
  val Schema: StructType =
    StructType(StructField("op", StringType) +: OsmSchemas.Planet.fields)

  private[osm] val Format = new XmlFormat("osm-osc", "OsmChangeScan", Schema,
    OsmInputs.OscExtensions, None, (in, at, required) =>
      OsmXmlUtil.rowsOf(OsmChangeParse.iterator(in, at), required, column))

  import OsmXmlUtil.{dec, tagsMap, utf8}

  private[osm] def column(name: String): ParsedChange => Any = name match {
    case "op" => c => utf8(c.op)
    case "id" => _.id
    case "type" => c => utf8(c.kind)
    case "tags" => c => tagsMap(c.tags)
    case "lat" => c => dec(c.lat, 9)
    case "lon" => c => dec(c.lon, 10)
    case "nds" => c =>
      new GenericArrayData(c.nds.map(ref =>
        new GenericInternalRow(Array[Any](ref))).toArray[Any])
    case "members" => c =>
      new GenericArrayData(c.members.map { case (t, ref, role) =>
        new GenericInternalRow(Array[Any](utf8(t), ref, utf8(role)))
      }.toArray[Any])
    case "changeset" => _.changeset.map(Long.box).orNull
    case "timestamp" => _.timestampMicros.map(Long.box).orNull
    case "uid" => _.uid.map(Long.box).orNull
    case "user" => _.user.map(utf8).orNull
    case "version" => _.version.map(Long.box).orNull
    case "visible" => _.visible
    case other => throw new IllegalArgumentException(s"unknown osmChange column $other")
  }
}

/** DataSource V2 for planet/history `.osm` XML (the osmosis
  * `--read-xml` input): the same streaming parse with entities directly
  * under the `<osm>` root and no operation containers — rows land in
  * the 13-column planet schema (`op`-free), so the output is
  * immediately queryable by every planet operator and writable by
  * OrcSink. Split a planet-scale import into many files for parallelism.
  */
class OsmXmlSource extends OsmSourceProvider(_ => OsmXmlSource.Format)

object OsmXmlSource {
  private[osm] val Format = new XmlFormat("osm-xml", "OsmXmlScan", OsmSchemas.Planet,
    OsmInputs.OsmXmlExtensions, None, (in, at, required) =>
      OsmXmlUtil.rowsOf(OsmChangeParse.planetIterator(in, at), required,
        OsmChangeSource.column))
}

/** Façade: `OsmXml.read(spark, path)` — planet XML as the planet table. */
object OsmXml {
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("osm-xml").load(path)

  /** Bounds from the document-head `<bounds>` element, formatted exactly
    * like `OrcSink.pbfBounds` ("minlon,minlat,maxlon,maxlat",
    * trailing-zero-stripped) so XML- and PBF-sourced ORC tables carry
    * identical sidecar/footer metadata. Scans only the head (stops at
    * the first entity); for a directory, the first recognized file is
    * consulted.
    */
  def bounds(spark: SparkSession, path: String): Option[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val first = OsmInputs.files(Seq(path), OsmInputs.OsmXmlExtensions, conf).headOption
    first.flatMap { case (file, _) =>
      val in = OsmXmlUtil.openDecompressed(file, conf)
      try {
        // one record: Some(bounds) at <bounds>, None at the first entity
        val head = new XmlRecords[Option[String]](in, OsmXmlUtil.atLine(file)) {
          protected def step(event: Int): Option[String] =
            if (event != XMLStreamConstants.START_ELEMENT) null
            else r.getLocalName match {
              case "bounds" =>
                val a = attributes()
                def norm(n: String) = a.dec(n).map(_.stripTrailingZeros.toPlainString)
                for {
                  minlon <- norm("minlon"); minlat <- norm("minlat")
                  maxlon <- norm("maxlon"); maxlat <- norm("maxlat")
                } yield s"$minlon,$minlat,$maxlon,$maxlat"
              case "node" | "way" | "relation" => None
              case _ => null
            }
        }
        if (head.hasNext) head.next() else None
      } finally in.close()
    }
  }
}

/** Façade: `OsmChange.read(spark, path)` + the replication-apply
  * composition.
  */
object OsmChange {
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("osm-osc").load(path)

  /** Multi-path form. Paths travel as a JSON-array `paths` option (the
    * encoding Spark's own multi-arg `load` uses) rather than a comma
    * join, so a path containing a comma survives intact — including the
    * single-element case, which `load(paths: _*)` would route through
    * the comma-split `path` property (Replication batches use this).
    */
  def read(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(paths.toArray)
    spark.read.format("osm-osc").option("paths", json).load()
  }

  /** Apply a diff onto a planet table: union the diff rows (minus the
    * op column) with the base and keep the highest version per (type,
    * id) — deletes survive as visible=false rows, exactly the planet
    * history convention. Two operators, no custom plan: the
    * latest-version pick is the same windowed form as
    * `OsmQueries.latestVersionsWindow` (single shuffle on the entity
    * key at any scale).
    *
    * Replays are IDEMPOTENT: a base row and a diff row with equal
    * (version, timestamp) — e.g. re-applying an already-applied diff —
    * tie-break deterministically to the DIFF side via a source-priority
    * column, so applying the same diff twice yields the same table.
    */
  def applyDiff(planet: DataFrame, diff: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val merged = planet.withColumn("__src", lit(0))
      .unionByName(diff.drop("op").withColumn("__src", lit(1)))
    val w = Window.partitionBy(col("type"), col("id"))
      .orderBy(col("version").desc, col("timestamp").desc, col("__src").desc)
    merged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
  }
}
