package graft.osm

import java.io.DataInputStream
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.osm.pbf.PbfDecode

/** ORC sink with the reference's writer options + metadata sidecar
  * (SURVEY.md §2A A10, §4.3 item 2).
  *
  * Options parity with OsmPbf2Orc.java:84-98:
  *  - block padding off (smaller files on object stores, :85);
  *  - bloom filters: the reference considered `tags` and commented it
  *    out (:86) — MEASURED (SCALE.md, ProfileBloom): a tags bloom costs
  *    ~28% file size and is never consulted by Spark's reader (map-key
  *    equality does not push into the ORC SearchArgument; only
  *    IsNotNull(tags) reaches the scan), so the default here matches
  *    the reference's shipped behavior (off). Blooms DO pay on
  *    primitive high-cardinality columns probed by equality (`user`:
  *    -32% lookup time in the same measurement) — opt in per column
  *    via `bloomColumns`;
  *  - `osm.schema.version` + optional `bounds` stamped BOTH as a JSON
  *    sidecar (`_graft_metadata.json`) and into each part file's ORC
  *    footer (OrcMetadata raw-stripe rewrite) — footer parity with the
  *    reference for orc-core consumers, sidecar for directory listers.
  *
  * Scale notes: `sortWithinPartitions(type, id)` before write mirrors
  * the reference's observation that sorted runs compress better
  * (OsmPbf2Orc.java:92-94,119-120) without a global sort barrier; callers
  * wanting geographic locality can `repartitionByRange` on (type, id)
  * first — same two columns the reference planned as a sort order.
  */
object OrcSink {

  /** `sorted=false` by default: planet PBFs are already (type, id)
    * ordered, so preserving input order (like the reference's
    * single-pass writer) gets the compression benefit without paying a
    * redundant per-partition sort (~2x write time measured). Pass
    * sorted=true for unordered inputs.
    */
  def writePlanet(df: DataFrame, out: String, bounds: Option[String] = None,
      sorted: Boolean = false, bloomColumns: String = ""): Unit =
    write(if (sorted) df.sortWithinPartitions("type", "id") else df, out, bounds,
      bloomColumns)

  /** Geographically-clustered planet write: range-partition + sort by
    * the Z-order curve index so spatially-near rows co-locate in ORC
    * stripes (tight lat/lon stripe stats → bbox queries skip row
    * groups). This is the reference's planned-but-unshipped
    * `Sort.Geographic` order (OsmPbf2Orc.java:92-94).
    */
  def writePlanetGeoClustered(df: DataFrame, out: String,
      bounds: Option[String] = None, bloomColumns: String = ""): Unit = {
    import org.apache.spark.sql.functions.col
    val z = graft.functions.ZOrderFunctions.zorder(col("lat"), col("lon"))
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    write(df.withColumn("__z", z)
      .repartitionByRange(parts, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z"), out, bounds, bloomColumns)
  }

  def writeChangesets(df: DataFrame, out: String): Unit = write(df, out, None, "")

  /** The one ORC write: overwrite, block padding off, the optional bloom
    * columns, then the metadata — `osm.schema.version` and the optional
    * bounds — as the JSON sidecar and, for parity with the reference
    * (OsmPbf2Orc.java:90,122-125), in each part file's ORC footer so
    * orc-core consumers see them via getMetadataValue.
    */
  private def write(df: DataFrame, out: String, bounds: Option[String],
      bloomColumns: String): Unit = {
    val w = df.write
      .mode(SaveMode.Overwrite)
      .option("orc.block.padding", "false")
    (if (bloomColumns.nonEmpty) w.option("orc.bloom.filter.columns", bloomColumns)
     else w).orc(out)
    val meta = Seq(OsmSchemas.SchemaVersionKey -> OsmSchemas.SchemaVersion) ++
      bounds.map("bounds" -> _)
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val sidecar = new Path(out, "_graft_metadata.json")
    val os = sidecar.getFileSystem(conf).create(sidecar, true)
    try os.write(meta.map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")
      .getBytes(StandardCharsets.UTF_8))
    finally os.close()
    OrcMetadata.stampDirectory(out, conf, meta.toMap)
  }

  /** Read the OSMHeader bbox ("left,bottom,right,top" in degrees) from a
    * PBF, if present — parity with the reference stamping PBF bounds
    * into ORC metadata (OsmPbf2Orc.java:122-125). Driver-side, reads one
    * blob.
    */
  def pbfBounds(spark: org.apache.spark.sql.SparkSession, path: String): Option[String] = {
    val hp = new Path(path)
    val in = hp.getFileSystem(spark.sessionState.newHadoopConf()).open(hp)
    try PbfDecode.firstHeaderBlock(new DataInputStream(in), path).flatMap(_.bbox)
    finally in.close()
  }
}
