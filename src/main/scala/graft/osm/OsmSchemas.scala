package graft.osm

import org.apache.spark.sql.types._

/** The two canonical OSM table schemas, single source of truth.
  *
  * Column order, names, and types follow the reference's ORC
  * TypeDescription exactly:
  *  - planet: /root/reference/src/main/java/net/mojodna/osm2orc/standalone/OsmPbf2Orc.java:58-82
  *    (identical twin at osmosis/OrcWriter.java:48-72)
  *  - changesets: OsmChangesetXml2Orc.java:42-58
  *
  * Conventions the queries rely on (SURVEY.md §1.1-1.2):
  *  - the three element kinds are union-encoded into one wide row with a
  *    `type` discriminator ('node'|'way'|'relation');
  *  - way/relation rows carry NULL lat/lon; nodes carry empty (not null)
  *    nds/members;
  *  - lat is decimal(9,7), lon decimal(10,7) (one extra integer digit:
  *    ±180 vs ±90);
  *  - timestamps are UTC, millisecond precision (nanos forced 0,
  *    OsmPbf2Orc.java:167-168; JVM TZ pinned UTC at :55-56 — we pin
  *    spark.sql.session.timeZone instead).
  */
object OsmSchemas {

  val LatType: DecimalType = DecimalType(9, 7)
  val LonType: DecimalType = DecimalType(10, 7)

  val NdType: StructType = StructType(Seq(StructField("ref", LongType)))

  val MemberType: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("ref", LongType),
    StructField("role", StringType)))

  /** planet / planet_history (13 columns; shared physical schema —
    * "history" only means the input carries all versions + deletions).
    */
  val Planet: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("type", StringType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("lat", LatType),
    StructField("lon", LonType),
    StructField("nds", ArrayType(NdType)),
    StructField("members", ArrayType(MemberType)),
    StructField("changeset", LongType),
    StructField("timestamp", TimestampType),
    StructField("uid", LongType),
    StructField("user", StringType),
    StructField("version", LongType),
    StructField("visible", BooleanType)))

  /** changesets (13 columns). Bbox decimals parse from the XML string
    * via BigDecimal — never through double
    * (OsmChangesetXml2Orc.java:142-171).
    */
  val Changesets: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("created_at", TimestampType),
    StructField("open", BooleanType),
    StructField("closed_at", TimestampType),
    StructField("comments_count", LongType),
    StructField("min_lat", LatType),
    StructField("max_lat", LatType),
    StructField("min_lon", LonType),
    StructField("max_lon", LonType),
    StructField("num_changes", LongType),
    StructField("uid", LongType),
    StructField("user", StringType)))

  /** One changeset-discussion comment (`<discussion><comment>` + nested
    * `<text>`). The reference never implemented discussion parsing
    * (TODO at OsmPbf2Orc.java:193-195) — this EXCEEDS it, so the column
    * is opt-in (`.option("discussion", true)`) and the default schema
    * stays reference-parity.
    */
  val DiscussionCommentType: StructType = StructType(Seq(
    StructField("date", TimestampType),
    StructField("uid", LongType),
    StructField("user", StringType),
    StructField("text", StringType)))

  /** [[Changesets]] + the opt-in `discussion` column. */
  val ChangesetsWithDiscussion: StructType =
    StructType(Changesets.fields :+
      StructField("discussion", ArrayType(DiscussionCommentType)))

  /** ORC user-metadata the reference stamps (OsmPbf2Orc.java:90,122-125).
    * OrcSink's writer ([[OsmOrcFileFormat]]) adds it to each part file's
    * footer with addUserMetadata before close, and also writes it to a
    * JSON sidecar for directory listers.
    */
  val SchemaVersionKey = "osm.schema.version"
  val SchemaVersion = "0.6"
  val BoundsKey = "bounds"
}
