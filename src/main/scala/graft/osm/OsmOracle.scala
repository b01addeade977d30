package graft.osm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.Query.query

/** The reference's published workload (README.md:78-242) in DRIVER-
  * GATED form: each builder wraps an [[OsmQueries]] operator over the
  * committed converted fixture ([[OsmFixture]]) and projects an
  * oracle-comparable output — scalar columns only (the gate's row sort
  * rejects arrays/maps), aggregates aliased identically to the DuckDB
  * SQL of their declarations in [[queries]].
  *
  * These take the standard `(spark, sfDir)` query signature but read
  * the fixture, not sfDir — the OSM tables are the fixture's converted
  * planet/planet_history/changesets, which is the point: the gate now
  * checks the OSM-shaped forms themselves, not just their generic
  * twins (q05/q06/q07/q09/q11).
  */
object OsmOracle {

  /** The committed `.osm.pbf` twin of the history fixture (encoded by
    * OsmFixtureGen from the XML-converted parquet), converted LIVE by
    * the DSv2 PBF source — the reference's PRIMARY entry format
    * (OsmPbf2Orc.java:54-286) under the same DuckDB gate as the XML
    * path: o12/o13's oracle SQL reads the XML-converted parquet, so a
    * green hash proves PBF-decode == XML-decode row-for-row.
    */
  private def pbfHistory(spark: SparkSession): DataFrame =
    graft.osm.pbf.OsmPbfSource.read(
      spark, s"${OsmFixture.dir}/src/planet_history.osm.pbf")

  /** README ways-reassembly, gated: ordered coordinates flattened to a
    * `lat,lon;lat,lon` path string (order-sensitivity survives; the
    * array itself may not appear in gated output). Deleted nodes drop
    * their positions via the inner join, as in the reference workload.
    */
  def reassembledWayPaths(spark: SparkSession, sfDir: String): DataFrame =
    OsmQueries.reassembleWays(OsmFixture.planet(spark))
      .select(col("way_id"),
        size(col("coordinates")).cast("bigint").as("n_pts"),
        array_join(
          transform(col("coordinates"), c =>
            concat_ws(",", c.getItem(0).cast("string"),
              c.getItem(1).cast("string"))), ";").as("coord_path"))
      .orderBy(col("way_id"))

  /** README latest-version (join form), gated: scalar columns. */
  def latestVersionRows(spark: SparkSession, sfDir: String): DataFrame =
    OsmQueries.latestVersions(OsmFixture.history(spark))
      .select(col("type"), col("id"), col("version"), col("visible"),
        col("changeset"), col("uid"), col("user").as("usr"))
      .orderBy(col("type"), col("id"))

  /** README currently-deleted count per type, gated as-is. */
  def deletedCounts(spark: SparkSession, sfDir: String): DataFrame =
    OsmQueries.deletedCount(OsmFixture.history(spark))
      .select(col("type"), col("n_deleted"))

  /** README tag-usage by month, gated (month cast DATE — the q09
    * cross-engine date_trunc convention).
    */
  def tagUsagePerMonth(spark: SparkSession, sfDir: String): DataFrame =
    OsmQueries.tagUsageByMonth(OsmFixture.history(spark), "amenity")
      .select(col("month").cast("date").as("month"), col("n"))

  /** README nodes-in-bbox, gated: decimal comparison semantics. The
    * coordinates cast to strings IN-PLAN (the o01/o09 decimal-output
    * convention) so the gate hashes canonical text, not engine-side
    * decimal renderings.
    */
  def bboxNodes(spark: SparkSession, sfDir: String): DataFrame =
    OsmQueries.nodesInBbox(OsmFixture.planet(spark),
        minLon = -0.25, maxLon = -0.05, minLat = 51.05, maxLat = 51.25)
      .select(col("id"), col("lat").cast("string").as("lat"),
        col("lon").cast("string").as("lon"))
      .orderBy(col("id"))

  /** README changesets-by-editor (LIKE prefix on a map value). */
  def editorCounts(spark: SparkSession, sfDir: String): DataFrame =
    OsmQueries.changesetsByEditor(OsmFixture.changesets(spark), "JOSM")

  /** README changesets-intersecting-bbox on the decimal bbox columns
    * (NULL-bbox changesets fall out of the comparisons, both engines).
    */
  def intersectingChangesets(spark: SparkSession, sfDir: String): DataFrame =
    OsmQueries.changesetsIntersecting(OsmFixture.changesets(spark),
        minLon = -124.18, maxLon = -124.02, minLat = 41.05, maxLat = 41.3)
      .select(col("id"), col("num_changes"))
      .orderBy(col("id"))

  /** The tag-transitions window form (README's recommended history
    * idiom), gated as-is: lag over unique versions is deterministic.
    */
  def amenityTransitions(spark: SparkSession, sfDir: String): DataFrame =
    OsmQueries.tagTransitions(OsmFixture.history(spark), "amenity")
      .orderBy(col("type"), col("id"), col("version"))

  /** README all-geometries (node points UNION ALL reassembled ways),
    * gated with the o01 path flattening.
    */
  def geometryPaths(spark: SparkSession, sfDir: String): DataFrame =
    OsmQueries.allGeometries(OsmFixture.planet(spark))
      .select(col("id"), col("type"),
        size(col("coordinates")).cast("bigint").as("n_pts"),
        array_join(
          transform(col("coordinates"), c =>
            concat_ws(",", c.getItem(0).cast("string"),
              c.getItem(1).cast("string"))), ";").as("coord_path"))
      .orderBy(col("type"), col("id"))

  /** README changesets-with-comment (map-key existence + extraction). */
  def commentedChangesets(spark: SparkSession, sfDir: String): DataFrame =
    OsmQueries.changesetsWithComment(OsmFixture.changesets(spark))
      .select(col("id"),
        col("tags").getItem("comment").as("comment"),
        col("user").as("usr"), col("num_changes"))
      .orderBy(col("id"))

  /** Discussion array (the opt-in column EXCEEDING the reference's TODO
    * at OsmPbf2Orc.java:193-195) under the gate: the fixture generator
    * writes exactly `comments_count` comments with uid/text arithmetic
    * on (id, j), so the oracle recomputes n_comments from the parquet's
    * `comments_count` and first_uid/first_text from `id` alone — a
    * green hash proves the array-of-struct parse (count, order, attr
    * and nested-text extraction) end-to-end.
    */
  def discussionComments(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.format("osm-changesets").option("discussion", true)
      .load(s"${OsmFixture.dir}/src/changesets.osm")
      .filter(size(col("discussion")) > 0)
      .select(col("id"),
        size(col("discussion")).cast("bigint").as("n_comments"),
        element_at(col("discussion"), 1).getField("uid").as("first_uid"),
        element_at(col("discussion"), 1).getField("text").as("first_text"))
      .orderBy(col("id"))

  /** PBF-converted latest-versions (the o02 form over [[pbfHistory]]):
    * scalar metadata decode parity (type/id/version/visible/changeset/
    * uid/user) for the DenseInfo + Info paths.
    */
  def pbfLatestVersionRows(spark: SparkSession, sfDir: String): DataFrame =
    OsmQueries.latestVersions(pbfHistory(spark))
      .select(col("type"), col("id"), col("version"), col("visible"),
        col("changeset"), col("uid"), col("user").as("usr"))
      .orderBy(col("type"), col("id"))

  /** PBF-converted nodes-in-bbox (the o05 form, with the current
    * snapshot derived in-plan exactly as the fixture generator derives
    * the committed planet table): coordinate decode parity for the
    * delta-zigzag nanodegree path, string-cast per the decimal-output
    * convention.
    */
  def pbfBboxNodes(spark: SparkSession, sfDir: String): DataFrame =
    OsmQueries.nodesInBbox(
        OsmQueries.latestVersionsWindow(pbfHistory(spark))
          .filter(col("visible")),
        minLon = -0.25, maxLon = -0.05, minLat = 51.05, maxLat = 51.25)
      .select(col("id"), col("lat").cast("string").as("lat"),
        col("lon").cast("string").as("lon"))
      .orderBy(col("id"))

  /** Super-relation transitive expansion (o15): the iterative-fixpoint
    * recursion over the fixture's relation hierarchy (superroute →
    * routes → multipolygons → ways/nodes, a depth-3 DAG with shared
    * children), gated against DuckDB's WITH RECURSIVE — green hash
    * proves the driver-loop recursion and a declarative recursive CTE
    * compute the same closure, including the min-depth collapse of
    * multi-path members.
    */
  def superRelationMembers(spark: SparkSession, sfDir: String): DataFrame =
    OsmQueries.expandRelations(OsmFixture.planet(spark), maxDepth = 5)
      .orderBy(col("root_id"), col("member_type"), col("ref"))

  /** Way bbox + Manhattan length in exact nanodegree integers (o16):
    * every output column is a bigint (or NULL for single-point ways,
    * identically in both engines), so the geometry aggregation is
    * hash-gated without any float canonicalization caveat.
    */
  def wayGeomStats(spark: SparkSession, sfDir: String): DataFrame =
    OsmQueries.wayGeomStats(OsmFixture.planet(spark))
      .orderBy(col("way_id"))

  /** Closed-ring shoelace areas + winding (o21): exact integer
    * nanodegree² doubled areas, anchored at the first vertex.
    */
  def polygonAreas(spark: SparkSession, sfDir: String): DataFrame =
    OsmQueries.polygonAreas(OsmFixture.planet(spark))

  def polygonCentroids(spark: SparkSession, sfDir: String): DataFrame =
    OsmQueries.polygonCentroids(OsmFixture.planet(spark))

  /** PBF-converted tag-usage-by-month (the o04 form over
    * [[pbfHistory]]): tags-map (keys_vals string-table runs) and
    * timestamp (DenseInfo delta + date granularity) decode parity —
    * the two dimensions o12/o13 don't reach.
    */
  def pbfTagUsagePerMonth(spark: SparkSession, sfDir: String): DataFrame =
    OsmQueries.tagUsageByMonth(pbfHistory(spark), "amenity")
      .select(col("month").cast("date").as("month"), col("n"))

  /** PBF-converted current snapshot, derived in-plan exactly as the
    * fixture generator derives the committed planet table (latest
    * visible versions) — the shared base for o17/o18.
    */
  private def pbfPlanet(spark: SparkSession): DataFrame =
    OsmQueries.latestVersionsWindow(pbfHistory(spark)).filter(col("visible"))

  /** PBF-converted ways reassembly (o17): the o01 form over
    * [[pbfPlanet]], gated against o01's oracle SQL reading the
    * XML-converted parquet — hash-green proves the PBF Way `refs`
    * delta decode (OsmPbf2Orc.java:227-235 territory) yields the same
    * ordered nd lists as the XML path, position-for-position (the
    * coord_path string is order-sensitive). This closes the last PBF
    * decode dimension the o12/o13/o14 scalar gates don't reach for
    * ways.
    */
  def pbfReassembledWayPaths(spark: SparkSession, sfDir: String): DataFrame =
    OsmQueries.reassembleWays(pbfPlanet(spark))
      .select(col("way_id"),
        size(col("coordinates")).cast("bigint").as("n_pts"),
        array_join(
          transform(col("coordinates"), c =>
            concat_ws(",", c.getItem(0).cast("string"),
              c.getItem(1).cast("string"))), ";").as("coord_path"))
      .orderBy(col("way_id"))

  /** PBF-converted relation members, flat WITH-ORDINALITY projection
    * (o18): one row per (relation, position) with member type, ref,
    * and role — gated against the XML-converted parquet. Hash-green
    * proves the PBF Relation member decode (memids delta, roles_sid
    * string-table, member-type enum — OsmPbf2Orc.java:247-277
    * territory) byte-equal to the XML path, including member ORDER
    * and role strings, which o15's closure query cannot distinguish.
    */
  def pbfRelationMembers(spark: SparkSession, sfDir: String): DataFrame =
    pbfPlanet(spark).filter(col("type") === "relation")
      .select(col("id").as("rel_id"),
        posexplode(col("members")).as(Seq("pos", "m")))
      .select(col("rel_id"), (col("pos") + 1).cast("int").as("idx"),
        col("m.type").as("member_type"), col("m.ref").as("ref"),
        col("m.role").as("role"))
      .orderBy(col("rel_id"), col("idx"))

  /** Z-order (Morton) clustering index over the fixture's nodes (o19)
    * — puts the custom CODEGEN'D Catalyst expression
    * [[graft.functions.ZOrderExpr]] itself under the DuckDB gate: the
    * oracle replays the 21-bit coordinate scaling (the exact
    * double-divide/multiply/truncate sequence) and the full Morton bit
    * interleave as generated integer arithmetic, so a single wrong bit
    * in the native expression's spread tables hash-mismatches. `zcell`
    * (the 12 coarsest interleaved bits — the spread places bit b at
    * position 3b, so the curve tops out at bit 61) is the stripe-level
    * clustering key the ORC sink sorts by ([[graft.osm.OrcSink]]) —
    * rows sharing a cell are spatial neighbors, which is what keeps
    * stripe min/max tight at planet scale.
    */
  def zorderNodes(spark: SparkSession, sfDir: String): DataFrame = {
    val z = graft.functions.ZOrderFunctions.zorder(col("lat"), col("lon"))
    OsmFixture.planet(spark)
      .filter(col("type") === "node" && col("lat").isNotNull &&
        col("lon").isNotNull)
      .select(col("id"), col("version"), z.as("zval"))
      .withColumn("zcell", shiftright(col("zval"), 50).cast("int"))
      .orderBy(col("id"), col("version"))
  }

  /** Z-range-pruned bbox scan (o20) — o19's index USED: the o05 bbox
    * query answered through the z-curve the ORC sink clusters by.
    * Because the Morton code is monotone in each coordinate (z =
    * spread(lon) + 2·spread(lat) on disjoint bit positions, spread
    * strictly increasing), every point of the bbox satisfies
    * z(minLat, minLon) <= zval <= z(maxLat, maxLon) — so that LITERAL
    * range is a lossless prefilter (a superset of the bbox), and on
    * z-sorted storage it is exactly the stripe min/max pruning window
    * a 100 TB planet scan rides. The exact bbox refine
    * ([[OsmQueries.nodesInBbox]], o05's own predicate) then drops the
    * false positives the curve's excursions admit.
    *
    * The GATE is the losslessness proof: the oracle is the PLAIN bbox
    * filter with no z logic anywhere — one true row dropped by the
    * range prefilter and the hashes diverge. ZRangeSpec additionally
    * measures that the prefilter genuinely prunes (candidates strictly
    * between the bbox count and the corpus count).
    */
  def zrangeBboxNodes(spark: SparkSession, sfDir: String): DataFrame = {
    val zmin = graft.functions.ZCurve.fromLatLon(51.05, -0.25)
    val zmax = graft.functions.ZCurve.fromLatLon(51.25, -0.05)
    val pre = OsmFixture.planet(spark)
      .withColumn("zval",
        graft.functions.ZOrderFunctions.zorder(col("lat"), col("lon")))
      .filter(col("zval").between(zmin, zmax)) // index predicate: literals
    OsmQueries.nodesInBbox(pre,
        minLon = -0.25, maxLon = -0.05, minLat = 51.05, maxLat = 51.25)
      .select(col("id"), col("lat").cast("string").as("lat"),
        col("lon").cast("string").as("lon"), col("zval"))
      .orderBy(col("id"))
  }

  /** Hilbert clustering index over the fixture's nodes (o23) — o19's
    * sibling with the adjacency-preserving curve: the codegen'd
    * [[graft.functions.HilbertExpr]] under the DuckDB gate, whose
    * oracle replays the 16-bit coordinate scaling and ALL sixteen
    * quadrant-rotation rounds as generated CASE arithmetic — one wrong
    * rotate/reflect and the hash diverges. `hcell` (the 8 coarsest
    * curve bits) is the stripe-clustering key variant; unlike zcell,
    * consecutive hcells are always spatially adjacent, which is the
    * property that keeps bbox scans from touching teleport stripes.
    */
  def hilbertNodes(spark: SparkSession, sfDir: String): DataFrame = {
    val h = graft.functions.HilbertFunctions.hilbert(col("lat"), col("lon"))
    OsmFixture.planet(spark)
      .filter(col("type") === "node" && col("lat").isNotNull &&
        col("lon").isNotNull)
      .select(col("id"), col("version"), h.as("hval"))
      .withColumn("hcell", shiftright(col("hval"), 24).cast("int"))
      .orderBy(col("id"), col("version"))
  }

  /** Changeset impact audit (o25) — the cross-TABLE integrity query an
    * OSM QA pipeline runs over the converted outputs (the reference's
    * two sinks, changesets and planet, joined on the changeset FK —
    * README.md:78-242's workload spans both but never joins them):
    * per changeset, the touched-element census by type, the bbox of
    * its touched NODES (exact decimals, stringified the o20 way), the
    * declared-vs-actual `num_changes` delta, and whether the node
    * bbox sits inside the changeset's declared bbox (SQL three-valued
    * logic where either side is absent — an open changeset with no
    * bounds audits as NULL, not false). Left join keeps empty
    * changesets visible.
    *
    * Scale shape: one groupBy on the changeset FK over planet (the
    * natural partition key for this audit at planet scale) + a
    * broadcast-sized changesets dim join.
    */
  def changesetImpact(spark: SparkSession, sfDir: String): DataFrame = {
    val p = OsmFixture.planet(spark)
    val touched = p.groupBy(col("changeset"))
      .agg(
        sum(when(col("type") === "node", 1L).otherwise(0L)).as("n_nodes"),
        sum(when(col("type") === "way", 1L).otherwise(0L)).as("n_ways"),
        sum(when(col("type") === "relation", 1L).otherwise(0L)).as("n_rels"),
        count(lit(1)).as("n_total"),
        min(when(col("type") === "node", col("lat"))).as("nmin_lat"),
        max(when(col("type") === "node", col("lat"))).as("nmax_lat"),
        min(when(col("type") === "node", col("lon"))).as("nmin_lon"),
        max(when(col("type") === "node", col("lon"))).as("nmax_lon"))
    OsmFixture.changesets(spark)
      .select(col("id"), col("min_lat"), col("max_lat"), col("min_lon"),
        col("max_lon"), col("num_changes"))
      .join(touched, col("id") === col("changeset"), "left")
      .select(col("id"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_ways"), lit(0L)).as("n_ways"),
        coalesce(col("n_rels"), lit(0L)).as("n_rels"),
        coalesce(col("n_total"), lit(0L)).as("n_total"),
        col("num_changes"),
        (col("num_changes") - coalesce(col("n_total"), lit(0L))).as("delta"),
        col("nmin_lat").cast("string").as("node_min_lat"),
        col("nmax_lat").cast("string").as("node_max_lat"),
        col("nmin_lon").cast("string").as("node_min_lon"),
        col("nmax_lon").cast("string").as("node_max_lon"),
        (col("nmin_lat") >= col("min_lat") && col("nmax_lat") <= col("max_lat") &&
          col("nmin_lon") >= col("min_lon") && col("nmax_lon") <= col("max_lon"))
          .as("in_bounds"))
      .orderBy(col("id"))
  }

  /** Multipolygon ring assembly (o27) — [[OsmQueries.multipolygonRings]]
    * over the fixture snapshot: ring grouping, stitched closure (with
    * way reversal), and exact o21 shoelace area/winding per ring, all
    * under the DuckDB gate replaying the same label + walk rounds as
    * generated CTEs.
    */
  def multipolygonRings(spark: SparkSession, sfDir: String): DataFrame =
    OsmQueries.multipolygonRings(OsmFixture.planet(spark))

  /** Replication-maintained table, end-to-end (o26) — the reference's
    * live-pipeline equivalent (OrcWriter.java:242-272, the osmosis
    * `--read-xml-change → --write-orc` flow) driven THROUGH the real
    * Structured Streaming machinery under the DuckDB gate: initialize
    * gen-init from the fixture history, stream the two committed
    * fixture diffs ([[OsmFixture.dir]]/src/replication) through
    * [[graft.streaming.Replication.start]] with maxFilesPerTrigger = 1
    * (two separate micro-batches — two generation writes, a pointer
    * swing each, and a retirement pass), await AvailableNow
    * termination, and read the LIVE table back through the `_CURRENT`
    * pointer. The oracle replays the maintained-table semantics from
    * the base parquet plus the diffs' parsed rows as literal VALUES:
    * one window rn = 1 per (type, id) over base ∪ diffs ordered by
    * (version DESC, timestamp DESC, diff-over-base) — exactly
    * [[graft.osm.OsmChange.applyDiff]] folded over both batches (the
    * fixture diffs carry strictly increasing versions, so batch order
    * cannot matter — the idempotence/ordering contract Replication
    * documents). Hash-green proves file discovery, the `.osc` decode,
    * the fold, generation naming, pointer atomicity, and retirement
    * leave EXACTLY the table the batch operator defines.
    */
  def replicationMaintained(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val work = java.nio.file.Files.createTempDirectory("graft-o26-")
    // the returned plan stays lazy over the generation files — clean
    // the work tree at JVM exit, not eagerly
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      rm(work.toFile)
    }))
    val tableDir = s"$work/table"
    val diffDir = s"$work/diffs"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(diffDir))
    Seq("001.osc", "002.osc").foreach { f =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"${OsmFixture.dir}/src/replication/$f"),
        java.nio.file.Paths.get(s"$diffDir/$f"))
    }
    graft.streaming.Replication.initialize(OsmFixture.history(spark), tableDir)
    val q = graft.streaming.Replication.start(spark, diffDir, tableDir,
      checkpointDir = s"$work/ck", maxFilesPerTrigger = 1,
      trigger = Trigger.AvailableNow())
    q.awaitTermination()
    graft.streaming.Replication.currentTable(spark, tableDir)
      .select(col("type"), col("id"), col("version"), col("visible"),
        col("changeset"), col("uid"), col("user").as("usr"),
        col("lat").cast("string").as("lat_s"),
        col("lon").cast("string").as("lon_s"),
        size(col("tags")).cast("int").as("n_tags"),
        size(col("nds")).cast("int").as("n_nds"))
      .orderBy(col("type"), col("id"))
  }

  /** Curve-locality comparison (o24) — the layout decision o19/o23
    * exist to inform, made measurable: for the o20 bbox's nodes, each
    * curve's cell footprint at the SAME granularity (a 2048×2048 world
    * grid — z's top 11 coordinate bits densely re-interleaved vs
    * Hilbert's top 22 curve bits). `n_cells` is how many stripes a
    * cell-clustered
    * layout must touch; `span` (max − min + 1) is what a min/max-
    * pruned contiguous scan reads — the number Hilbert's
    * adjacency-preservation shrinks and Morton's quadrant teleports
    * inflate. The gate hash-pins both pipelines' cell arithmetic in
    * one result; CurveLocalitySpec asserts the measured ordering.
    */
  def curveLocality(spark: SparkSession, sfDir: String): DataFrame = {
    val nodes = OsmFixture.planet(spark)
      .filter(col("type") === "node" &&
        col("lon").between(-0.25, -0.05) && col("lat").between(51.05, 51.25))
    // dense 22-bit Morton cell (2048×2048 world grid — ~0.1-0.2°
    // cells, fine enough that the o20 bbox spans several): the shipped
    // spread is 3-spaced (bit b of lon at 3b, of lat at 3b+1), so the
    // top-11 coordinate bits (b = 10..20) are REPACKED into a dense
    // 2-D interleave — without this the span would count the sparse
    // encoding's impossible cell values and the comparison to
    // Hilbert's dense bits would be meaningless
    val zv = graft.functions.ZOrderFunctions.zorder(col("lat"), col("lon"))
    val zcell = (0 until 11).map { b =>
      shiftleft(shiftright(zv, 30 + 3 * b).bitwiseAND(lit(1L)), 2 * b) +
        shiftleft(shiftright(zv, 31 + 3 * b).bitwiseAND(lit(1L)), 2 * b + 1)
    }.reduce(_ + _)
    val z = nodes.select(lit("zorder").as("curve"), zcell.as("cell"))
    val h = nodes.select(lit("hilbert").as("curve"),
      shiftright(graft.functions.HilbertFunctions.hilbert(col("lat"), col("lon")),
        10).as("cell"))
    z.unionAll(h)
      .groupBy(col("curve"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("cell")).as("n_cells"),
        min(col("cell")).as("cell_min"), max(col("cell")).as("cell_max"),
        (max(col("cell")) - min(col("cell")) + 1).as("span"))
      .orderBy(col("curve"))
  }

  /** DuckDB mirror of OsmQueries.multipolygonRings (o27): the same
    * deterministic two-phase assembly as generated CTE rounds —
    * `labelRounds` min-way-id label propagations over the shared-
    * endpoint graph, then `walkRounds` ring-walk extensions carrying
    * (refs, used, cur_end) as LIST columns, candidate picked per round
    * by (way_id ASC, forward before reversed), reversal via
    * list_reverse — then the o21 anchored shoelace over each stitched
    * sequence. One algorithm, two engines (the s18/m38 iterative-chain
    * discipline).
    */
  private def multipolygonSql(labelRounds: Int, walkRounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH mw AS (
       |  SELECT DISTINCT r.id AS rel_id, r.members[i].role AS role,
       |    r.members[i].ref AS way_id
       |  FROM (SELECT id, members FROM $OsmP
       |        WHERE type = 'relation' AND tags['type'][1] = 'multipolygon') r,
       |       UNNEST(range(1, len(r.members) + 1)) AS t(i)
       |  WHERE r.members[i].type = 'way'
       |    AND r.members[i].role IN ('outer', 'inner')),
       |wseq AS (SELECT id AS way_id, list_transform(nds, x -> x.ref) AS refs
       |  FROM $OsmP WHERE type = 'way'),
       |ways AS (SELECT mw.rel_id, mw.role, mw.way_id, w.refs,
       |    w.refs[1] AS a, w.refs[len(w.refs)] AS b
       |  FROM mw JOIN wseq w USING (way_id)),
       |eps AS (SELECT DISTINCT rel_id, role, way_id, ep FROM
       |  (SELECT rel_id, role, way_id, unnest([a, b]) AS ep FROM ways)),
       |nbrs AS (SELECT DISTINCT x.rel_id, x.role, x.way_id, y.way_id AS nb
       |  FROM eps x JOIN eps y
       |  ON x.rel_id = y.rel_id AND x.role = y.role AND x.ep = y.ep),
       |l0 AS (SELECT rel_id, role, way_id, way_id AS lbl FROM ways)""".stripMargin
    for (r <- 1 to labelRounds) {
      val p = s"l${r - 1}"
      sb ++= s""",
       |l$r AS MATERIALIZED (SELECT l.rel_id, l.role, l.way_id,
       |    least(l.lbl, coalesce(m.mlbl, l.lbl)) AS lbl
       |  FROM $p l LEFT JOIN (
       |    SELECT n.rel_id, n.role, n.way_id, min(q.lbl) AS mlbl
       |    FROM nbrs n JOIN $p q ON q.rel_id = n.rel_id
       |      AND q.role = n.role AND q.way_id = n.nb
       |    GROUP BY 1, 2, 3) m
       |  ON m.rel_id = l.rel_id AND m.role = l.role
       |    AND m.way_id = l.way_id)""".stripMargin
    }
    sb ++= s""",
       |comp AS MATERIALIZED (SELECT w.rel_id, w.role, w.way_id, w.refs, w.a, w.b, l.lbl
       |  FROM ways w JOIN l$labelRounds l
       |  USING (rel_id, role, way_id)),
       |w0 AS MATERIALIZED (SELECT rel_id, role, lbl, refs, [way_id] AS used,
       |    refs[1] AS start_ref, refs[len(refs)] AS cur_end,
       |    (refs[len(refs)] = refs[1] AND len(refs) >= 4) AS closed
       |  FROM comp WHERE way_id = lbl)""".stripMargin
    for (r <- 1 to walkRounds) {
      val p = s"w${r - 1}"
      sb ++= s""",
       |cand$r AS (
       |  SELECT s.rel_id, s.role, s.lbl, s.refs, s.used, s.start_ref,
       |    c.way_id AS cw, c.refs AS crefs, c.a AS ca, c.b AS cb,
       |    CASE WHEN c.a = s.cur_end THEN 0 ELSE 1 END AS dir,
       |    row_number() OVER (PARTITION BY s.rel_id, s.role, s.lbl
       |      ORDER BY c.way_id,
       |        CASE WHEN c.a = s.cur_end THEN 0 ELSE 1 END) AS rn
       |  FROM $p s JOIN comp c
       |    ON c.rel_id = s.rel_id AND c.role = s.role AND c.lbl = s.lbl
       |    AND NOT list_contains(s.used, c.way_id)
       |    AND (c.a = s.cur_end OR c.b = s.cur_end)
       |  WHERE NOT s.closed),
       |ext$r AS (
       |  SELECT rel_id, role, lbl, refs, used, start_ref, cur_end,
       |    (cur_end = start_ref AND len(refs) >= 4) AS closed
       |  FROM (SELECT rel_id, role, lbl,
       |      list_concat(refs, CASE WHEN dir = 0 THEN crefs[2:]
       |        ELSE list_reverse(crefs)[2:] END) AS refs,
       |      list_append(used, cw) AS used, start_ref,
       |      CASE WHEN dir = 0 THEN cb ELSE ca END AS cur_end
       |    FROM cand$r WHERE rn = 1)),
       |w$r AS MATERIALIZED (
       |  SELECT s.* FROM $p s LEFT JOIN ext$r e
       |    ON e.rel_id = s.rel_id AND e.role = s.role AND e.lbl = s.lbl
       |  WHERE e.lbl IS NULL
       |  UNION ALL SELECT * FROM ext$r)""".stripMargin
    }
    sb ++= s""",
       |rings AS (SELECT rel_id, role, lbl, refs, closed,
       |    CAST(row_number() OVER (PARTITION BY rel_id
       |      ORDER BY role DESC, lbl) AS INT) AS ring_idx,
       |    CAST(len(used) AS INT) AS n_ways
       |  FROM w$walkRounds),
       |rv AS (SELECT rel_id, ring_idx, i AS pos, refs[CAST(i AS INT)] AS ref
       |  FROM rings, UNNEST(range(1, len(refs) + 1)) t(i)),
       |mpnodes AS (SELECT id AS ref,
       |    CAST(lat * 10000000 AS BIGINT) AS lat_nano,
       |    CAST(lon * 10000000 AS BIGINT) AS lon_nano
       |  FROM $OsmP WHERE type = 'node'),
       |cen AS (SELECT rv.rel_id, rv.ring_idx, pos,
       |    lon_nano - first_value(lon_nano) OVER pw AS cx,
       |    lat_nano - first_value(lat_nano) OVER pw AS cy
       |  FROM rv JOIN mpnodes n USING (ref)
       |  WINDOW pw AS (PARTITION BY rv.rel_id, rv.ring_idx ORDER BY pos)),
       |crx AS (SELECT rel_id, ring_idx, cx, cy,
       |    lag(cx) OVER pw AS pcx, lag(cy) OVER pw AS pcy
       |  FROM cen WINDOW pw AS (PARTITION BY rel_id, ring_idx ORDER BY pos)),
       |geo AS (SELECT rel_id, ring_idx, CAST(count(*) AS BIGINT) AS n_pts,
       |    CAST(sum(pcx * cy - cx * pcy) AS BIGINT) AS a2
       |  FROM crx GROUP BY 1, 2)
       |SELECT r.rel_id, r.ring_idx, r.role, r.n_ways, r.closed, g.n_pts,
       |  CASE WHEN r.closed THEN abs(g.a2) END AS area2_nano,
       |  CASE WHEN NOT r.closed THEN 'open'
       |       WHEN g.a2 > 0 THEN 'CCW' WHEN g.a2 < 0 THEN 'CW'
       |       ELSE 'degenerate' END AS orientation
       |FROM rings r LEFT JOIN geo g USING (rel_id, ring_idx)
       |ORDER BY r.rel_id, r.ring_idx""".stripMargin
    sb.toString
  }

  // The committed OSM fixture's canonical parquet location — embedded
  // in the o-query oracle SQL (DuckDB reads the same converted bytes
  // the Spark side reads; no view registration involved).
  private val OsmP = s"read_parquet('${OsmFixture.CanonicalDir}/planet/*.parquet')"

  private val OsmH = s"read_parquet('${OsmFixture.CanonicalDir}/planet_history/*.parquet')"

  private val OsmC = s"read_parquet('${OsmFixture.CanonicalDir}/changesets/*.parquet')"

  /** 21-bit coordinate scaling, the ZCurve.scale mirror: the identical
    * IEEE sequence (subtract, divide, multiply by 2^21) then
    * trunc-toward-zero (matching Scala's Double→Long) and the clamp.
    */
  private def zScaleSql(v: String, min: String, range: String): String =
    s"greatest(0, least(2097151, CAST(trunc(((($v) - ($min)) / $range) * 2097152.0e0) AS BIGINT)))"

  /** The ZCurve.spread mirror: every low bit b of `v` lands at 3b (the
    * shipped spread uses the 3-D Morton masks — verified bit-for-bit
    * against the Scala implementation in ZOrderSpec).
    */
  private def zSpreadSql(v: String): String =
    (0 until 21).map(b => s"((($v >> $b) & 1) << ${3 * b})").mkString(" + ")

  /** 16-bit coordinate scaling, the HilbertCurve.scale mirror (same
    * IEEE sequence as [[zScaleSql]], narrower grid).
    */
  private def hScaleSql(v: String, min: String, range: String): String =
    s"greatest(0, least(65535, CAST(trunc(((($v) - ($min)) / $range) * 65536.0e0) AS BIGINT)))"

  /** The HilbertCurve.xy2d loop unrolled: round k works at scale bit
    * s = 2^(15-k); each round reads h_k's (x, y, d) and emits the
    * rotated frame plus the quadrant's s² contribution — the exact
    * transform order of the Scala walk (d from the CURRENT quadrant
    * bits, then ry=0 rotate with the rx=1 reflection folded in).
    */
  private def hilbertRoundsSql(): String =
    (0 until 16).map { k =>
      val s = 1L << (15 - k)
      s"""h${k + 1} AS (
         |  SELECT id, version,
         |    CASE WHEN (y & $s) > 0 THEN x
         |         WHEN (x & $s) > 0 THEN 65535 - y ELSE y END AS x,
         |    CASE WHEN (y & $s) > 0 THEN y
         |         WHEN (x & $s) > 0 THEN 65535 - x ELSE x END AS y,
         |    d + CAST(${s * s} AS BIGINT) *
         |      (CASE WHEN (x & $s) > 0 AND (y & $s) > 0 THEN 2
         |            WHEN (x & $s) > 0 THEN 3
         |            WHEN (y & $s) > 0 THEN 1 ELSE 0 END) AS d
         |  FROM h$k)""".stripMargin
    }.mkString(",\n")

  /** The o-family declarations, each gated by DuckDB SQL over the same
    * converted fixture parquet the builders read.
    */
  val queries: Seq[Query] = Seq(
    // —— OSM README workload over the committed converted fixture.
    //    DuckDB has no WITH ORDINALITY: 1-based positions come from
    //    UNNEST(range(...)) + list indexing. Map extraction yields a
    //    LIST here — [1] unwraps to the scalar the Spark side reads. ——
    query("o01_reassemble_ways", reassembledWayPaths) oracle
      s"""WITH nodes AS (SELECT id AS node_id, lat, lon FROM $OsmP WHERE type = 'node'),
         |wx AS (SELECT w.id AS way_id, i AS idx, w.nds[i].ref AS ref
         |       FROM (SELECT id, nds FROM $OsmP WHERE type = 'way') w,
         |            UNNEST(range(1, len(w.nds) + 1)) AS t(i))
         |SELECT way_id, count(*) AS n_pts,
         |  string_agg(CAST(n.lat AS VARCHAR) || ',' || CAST(n.lon AS VARCHAR), ';' ORDER BY idx) AS coord_path
         |FROM wx JOIN nodes n ON wx.ref = n.node_id
         |GROUP BY way_id ORDER BY way_id""".stripMargin,

    // o26: the replication-maintained table — the Spark side RUNS the
    // Structured Streaming pipeline (two .osc micro-batches, generation
    // writes, pointer swings, retirement) and reads the live table
    // back; the oracle replays the maintained-table semantics as one
    // window over base ∪ the diffs' parsed rows (literal VALUES — the
    // committed fixtures/osm/src/replication files' exact decode, see
    // replicationMaintained). Strictly increasing versions
    // make the fold batch-order-free, so a single window is exact.
    query("o26_replication_table", replicationMaintained) oracle
      s"""WITH base AS (
         |  SELECT type, id, version, visible, changeset, uid,
         |    "user" AS usr,
         |    CAST(lat AS VARCHAR) AS lat_s, CAST(lon AS VARCHAR) AS lon_s,
         |    CAST(cardinality(tags) AS INT) AS n_tags,
         |    CAST(len(nds) AS INT) AS n_nds,
         |    "timestamp" AS ts, 0 AS src
         |  FROM $OsmH),
         |diff(type, id, version, visible, changeset, uid, usr, lat_s,
         |     lon_s, n_tags, n_nds, ts, src) AS (VALUES
         |  ('node', CAST(1 AS BIGINT), CAST(2 AS BIGINT), true,
         |    CAST(901 AS BIGINT), CAST(42 AS BIGINT), 'repl',
         |    '51.5000000', '-0.1000000', 2, 0,
         |    TIMESTAMP '2024-01-01 00:00:00', 1),
         |  ('node', CAST(9001 AS BIGINT), CAST(1 AS BIGINT), true,
         |    CAST(901 AS BIGINT), CAST(42 AS BIGINT), 'repl',
         |    '51.9010000', '-0.9010000', 1, 0,
         |    TIMESTAMP '2024-01-01 00:00:01', 1),
         |  ('node', CAST(5 AS BIGINT), CAST(2 AS BIGINT), false,
         |    CAST(901 AS BIGINT), CAST(42 AS BIGINT), 'repl',
         |    NULL, NULL, 0, 0, TIMESTAMP '2024-01-01 00:00:02', 1),
         |  ('node', CAST(1 AS BIGINT), CAST(3 AS BIGINT), true,
         |    CAST(902 AS BIGINT), CAST(42 AS BIGINT), 'repl',
         |    '51.6000000', '-0.2000000', 1, 0,
         |    TIMESTAMP '2024-01-02 00:00:00', 1),
         |  ('way', CAST(10010 AS BIGINT), CAST(2 AS BIGINT), true,
         |    CAST(902 AS BIGINT), CAST(42 AS BIGINT), 'repl',
         |    NULL, NULL, 1, 2, TIMESTAMP '2024-01-02 00:00:01', 1),
         |  ('node', CAST(9001 AS BIGINT), CAST(2 AS BIGINT), false,
         |    CAST(902 AS BIGINT), CAST(42 AS BIGINT), 'repl',
         |    NULL, NULL, 0, 0, TIMESTAMP '2024-01-02 00:00:02', 1)),
         |u AS (SELECT * FROM base UNION ALL SELECT * FROM diff),
         |r AS (SELECT *, row_number() OVER (PARTITION BY type, id
         |    ORDER BY version DESC, ts DESC, src DESC) AS rn FROM u)
         |SELECT type, id, version, visible, changeset, uid, usr, lat_s,
         |  lon_s, n_tags, n_nds
         |FROM r WHERE rn = 1 ORDER BY type, id""".stripMargin,

    // o27: multipolygon ring assembly — label + walk rounds generated
    // to mirror OsmQueries.multipolygonRings exactly (see
    // multipolygonSql); parameters are part of the gate
    query("o27_multipolygon_rings", multipolygonRings) oracle multipolygonSql(labelRounds = 6,
      walkRounds = 8),

    query("o02_latest_versions", latestVersionRows) oracle
      s"""WITH h AS (SELECT * FROM $OsmH),
         |latest AS (SELECT type, id, max(version) AS version FROM h GROUP BY type, id)
         |SELECT h.type, h.id, h.version, h.visible, h.changeset, h.uid, h."user" AS usr
         |FROM h JOIN latest USING (type, id, version) ORDER BY h.type, h.id""".stripMargin,

    query("o03_deleted_count", deletedCounts) oracle
      s"""WITH h AS (SELECT * FROM $OsmH),
         |latest AS (SELECT type, id, max(version) AS version FROM h GROUP BY type, id)
         |SELECT h.type, count(*) AS n_deleted
         |FROM h JOIN latest USING (type, id, version)
         |WHERE NOT h.visible GROUP BY h.type ORDER BY h.type""".stripMargin,

    query("o04_tag_usage_month", tagUsagePerMonth) oracle
      s"""SELECT CAST(date_trunc('month', "timestamp") AS DATE) AS month, count(*) AS n
         |FROM $OsmH WHERE tags['amenity'][1] IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    query("o05_bbox_nodes", bboxNodes) oracle
      s"""SELECT id, CAST(lat AS VARCHAR) AS lat, CAST(lon AS VARCHAR) AS lon
         |FROM $OsmP WHERE type = 'node'
         |AND lon BETWEEN -0.25e0 AND -0.05e0 AND lat BETWEEN 51.05e0 AND 51.25e0
         |ORDER BY id""".stripMargin,

    query("o06_editor_counts", editorCounts) oracle
      s"""SELECT tags['created_by'][1] AS editor, count(id) AS n FROM $OsmC
         |WHERE tags['created_by'][1] LIKE 'JOSM%' GROUP BY 1 ORDER BY 1""".stripMargin,

    query("o07_changesets_bbox", intersectingChangesets) oracle
      s"""SELECT id, num_changes FROM $OsmC
         |WHERE min_lon <= -124.02e0 AND max_lon >= -124.18e0
         |  AND min_lat <= 41.3e0 AND max_lat >= 41.05e0
         |ORDER BY id""".stripMargin,

    query("o08_tag_transitions", amenityTransitions) oracle
      s"""WITH v AS (SELECT type, id, version, tags['amenity'][1] AS value FROM $OsmH),
         |lagged AS (SELECT type, id, version, value,
         |  lag(value, 1) OVER (PARTITION BY type, id ORDER BY version) AS prev_value FROM v)
         |SELECT type, id, version, value, prev_value FROM lagged
         |WHERE value IS NOT NULL AND (prev_value IS NULL OR prev_value <> value)
         |ORDER BY type, id, version""".stripMargin,

    query("o09_all_geometries", geometryPaths) oracle
      s"""WITH nodes AS (SELECT id AS node_id, lat, lon FROM $OsmP WHERE type = 'node'),
         |wx AS (SELECT w.id AS way_id, i AS idx, w.nds[i].ref AS ref
         |       FROM (SELECT id, nds FROM $OsmP WHERE type = 'way') w,
         |            UNNEST(range(1, len(w.nds) + 1)) AS t(i)),
         |ways AS (SELECT way_id AS id, 'way' AS type, count(*) AS n_pts,
         |  string_agg(CAST(n.lat AS VARCHAR) || ',' || CAST(n.lon AS VARCHAR), ';' ORDER BY idx) AS coord_path
         |  FROM wx JOIN nodes n ON wx.ref = n.node_id GROUP BY way_id),
         |pts AS (SELECT id, 'node' AS type, CAST(1 AS BIGINT) AS n_pts,
         |  CAST(lat AS VARCHAR) || ',' || CAST(lon AS VARCHAR) AS coord_path
         |  FROM $OsmP WHERE type = 'node')
         |SELECT * FROM pts UNION ALL SELECT * FROM ways ORDER BY type, id""".stripMargin,

    query("o10_commented_changesets", commentedChangesets) oracle
      s"""SELECT id, tags['comment'][1] AS comment, "user" AS usr, num_changes
         |FROM $OsmC WHERE tags['comment'][1] IS NOT NULL ORDER BY id""".stripMargin,

    // o11: the Spark side parses the discussion ARRAY from the fixture
    // XML; the oracle recomputes every projected value from the
    // parquet's scalar columns (the generator's (id, j) arithmetic) —
    // count parity + first-comment attr/text parity.
    query("o11_discussion_comments", discussionComments) oracle
      s"""SELECT id, comments_count AS n_comments,
         |  CAST((id + 1) % 7 AS BIGINT) AS first_uid,
         |  'c1 on ' || id AS first_text
         |FROM $OsmC WHERE comments_count > 0 ORDER BY id""".stripMargin,

    // o12/o13: the Spark side converts the committed .osm.pbf LIVE via
    // the DSv2 PBF source; the oracle reads the XML-converted parquet.
    // Hash-green == PBF decode and XML decode agree row-for-row.
    query("o12_pbf_latest_versions", pbfLatestVersionRows) oracle
      s"""WITH h AS (SELECT * FROM $OsmH),
         |latest AS (SELECT type, id, max(version) AS version FROM h GROUP BY type, id)
         |SELECT h.type, h.id, h.version, h.visible, h.changeset, h.uid, h."user" AS usr
         |FROM h JOIN latest USING (type, id, version) ORDER BY h.type, h.id""".stripMargin,

    query("o13_pbf_bbox_nodes", pbfBboxNodes) oracle
      s"""SELECT id, CAST(lat AS VARCHAR) AS lat, CAST(lon AS VARCHAR) AS lon
         |FROM $OsmP WHERE type = 'node'
         |AND lon BETWEEN -0.25e0 AND -0.05e0 AND lat BETWEEN 51.05e0 AND 51.25e0
         |ORDER BY id""".stripMargin,

    // o14: tags + timestamp decode parity for the PBF path (o04's SQL
    // over the XML-converted parquet)
    query("o14_pbf_tag_usage", pbfTagUsagePerMonth) oracle
      s"""SELECT CAST(date_trunc('month', "timestamp") AS DATE) AS month, count(*) AS n
         |FROM $OsmH WHERE tags['amenity'][1] IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // o15: the Spark side runs a bounded iterative-fixpoint driver
    // loop; the oracle is a genuine recursive CTE over the same member
    // edges, depth-capped identically — hash-green proves the two
    // recursion styles compute the same closure (min depth per
    // multi-path member included).
    query("o15_super_relations", superRelationMembers) oracle
      s"""WITH RECURSIVE
         |edges AS (
         |  SELECT r.id AS rel_id, r.members[i].type AS member_type, r.members[i].ref AS ref
         |  FROM (SELECT id, members FROM $OsmP WHERE type = 'relation') r,
         |       UNNEST(range(1, len(r.members) + 1)) AS t(i)),
         |expand AS (
         |  SELECT rel_id AS root_id, member_type, ref, 1 AS depth FROM edges
         |  UNION ALL
         |  SELECT x.root_id, e.member_type, e.ref, x.depth + 1
         |  FROM expand x JOIN edges e ON x.ref = e.rel_id
         |  WHERE x.member_type = 'relation' AND x.depth < 5)
         |SELECT root_id, member_type, ref, min(depth) AS depth
         |FROM expand GROUP BY root_id, member_type, ref
         |ORDER BY root_id, member_type, ref""".stripMargin,

    // o16: every column bigint via exact ×10^7 nanodegree scaling of
    // the scale-7 decimals — integer-exact geometry, no float
    // canonicalization caveat anywhere.
    query("o16_way_geom", wayGeomStats) oracle
      s"""WITH nodes AS (SELECT id AS node_id,
         |    CAST(lat * 10000000 AS BIGINT) AS lat_nano,
         |    CAST(lon * 10000000 AS BIGINT) AS lon_nano
         |  FROM $OsmP WHERE type = 'node'),
         |wx AS (SELECT w.id AS way_id, i AS idx, w.nds[i].ref AS ref
         |       FROM (SELECT id, nds FROM $OsmP WHERE type = 'way') w,
         |            UNNEST(range(1, len(w.nds) + 1)) AS t(i)),
         |seg AS (SELECT way_id, lat_nano, lon_nano,
         |    lag(lat_nano) OVER (PARTITION BY way_id ORDER BY idx) AS plat,
         |    lag(lon_nano) OVER (PARTITION BY way_id ORDER BY idx) AS plon
         |  FROM wx JOIN nodes n ON wx.ref = n.node_id)
         |SELECT way_id, count(*) AS n_pts,
         |  min(lat_nano) AS min_lat_nano, max(lat_nano) AS max_lat_nano,
         |  min(lon_nano) AS min_lon_nano, max(lon_nano) AS max_lon_nano,
         |  CAST(sum(abs(lat_nano - plat) + abs(lon_nano - plon)) AS BIGINT) AS manhattan_nano
         |FROM seg GROUP BY way_id ORDER BY way_id""".stripMargin,

    // o21: closed-ring shoelace in exact integer nanodegrees², the
    // coordinates anchored at the ring's first vertex (translation-
    // invariant exactly; keeps every cross product inside int64)
    // o22: exact floor-nanodegree centroids — HUGEINT-internal sums
    // (partial sums overflow int64 on degree-wide rings), sign-folded
    // numerator + positive shift so // is floor on both engines
    query("o22_polygon_centroids", polygonCentroids) oracle
      s"""WITH nodes AS (SELECT id AS node_id,
         |    CAST(lat * 10000000 AS BIGINT) AS lat_nano,
         |    CAST(lon * 10000000 AS BIGINT) AS lon_nano
         |  FROM $OsmP WHERE type = 'node'),
         |wx AS (SELECT w.id AS way_id, i AS idx, w.nds[i].ref AS ref
         |       FROM (SELECT id, nds FROM $OsmP WHERE type = 'way') w,
         |            UNNEST(range(1, len(w.nds) + 1)) AS t(i)),
         |cw AS (SELECT way_id FROM (
         |    SELECT way_id, max(idx) AS n,
         |      max(CASE WHEN idx = 1 THEN ref END) AS fr,
         |      arg_max(ref, idx) AS lr
         |    FROM wx GROUP BY 1) t WHERE n >= 4 AND fr = lr),
         |c AS (SELECT wx.way_id, idx,
         |    first_value(lon_nano) OVER pw AS ax,
         |    first_value(lat_nano) OVER pw AS ay,
         |    lon_nano - first_value(lon_nano) OVER pw AS cx,
         |    lat_nano - first_value(lat_nano) OVER pw AS cy
         |  FROM wx JOIN cw USING (way_id) JOIN nodes n ON wx.ref = n.node_id
         |  WINDOW pw AS (PARTITION BY wx.way_id ORDER BY idx)),
         |cr AS (SELECT way_id, ax, ay, cx, cy,
         |    lag(cx) OVER pw AS pcx, lag(cy) OVER pw AS pcy
         |  FROM c WINDOW pw AS (PARTITION BY way_id ORDER BY idx)),
         |agg AS (SELECT way_id, CAST(count(*) AS BIGINT) AS n_pts,
         |    max(ax) AS ax, max(ay) AS ay,
         |    CAST(sum(pcx * cy - cx * pcy) AS HUGEINT) AS area2d,
         |    sum(CAST(pcx + cx AS HUGEINT) * (pcx * cy - cx * pcy)) AS cxn,
         |    sum(CAST(pcy + cy AS HUGEINT) * (pcx * cy - cx * pcy)) AS cyn
         |  FROM cr GROUP BY way_id),
         |f AS (SELECT way_id, n_pts, ax, ay,
         |    CAST(area2d AS BIGINT) AS area2,
         |    (CASE WHEN area2d < 0 THEN -cxn ELSE cxn END
         |      + CAST(2000000000 AS HUGEINT) * (3 * abs(area2d)))
         |      // (3 * abs(area2d)) - 2000000000 AS offx,
         |    (CASE WHEN area2d < 0 THEN -cyn ELSE cyn END
         |      + CAST(2000000000 AS HUGEINT) * (3 * abs(area2d)))
         |      // (3 * abs(area2d)) - 2000000000 AS offy
         |  FROM agg WHERE area2d <> 0)
         |SELECT way_id, n_pts, area2,
         |  CAST(ax + offx AS BIGINT) AS cen_lon_nano,
         |  CAST(ay + offy AS BIGINT) AS cen_lat_nano
         |FROM f ORDER BY way_id""".stripMargin,

    query("o21_polygon_areas", polygonAreas) oracle
      s"""WITH nodes AS (SELECT id AS node_id,
         |    CAST(lat * 10000000 AS BIGINT) AS lat_nano,
         |    CAST(lon * 10000000 AS BIGINT) AS lon_nano
         |  FROM $OsmP WHERE type = 'node'),
         |wx AS (SELECT w.id AS way_id, i AS idx, w.nds[i].ref AS ref
         |       FROM (SELECT id, nds FROM $OsmP WHERE type = 'way') w,
         |            UNNEST(range(1, len(w.nds) + 1)) AS t(i)),
         |cw AS (SELECT way_id FROM (
         |    SELECT way_id, max(idx) AS n,
         |      max(CASE WHEN idx = 1 THEN ref END) AS fr,
         |      arg_max(ref, idx) AS lr
         |    FROM wx GROUP BY 1) t WHERE n >= 4 AND fr = lr),
         |c AS (SELECT wx.way_id, idx,
         |    lon_nano - first_value(lon_nano)
         |      OVER (PARTITION BY wx.way_id ORDER BY idx) AS cx,
         |    lat_nano - first_value(lat_nano)
         |      OVER (PARTITION BY wx.way_id ORDER BY idx) AS cy
         |  FROM wx JOIN cw USING (way_id) JOIN nodes n ON wx.ref = n.node_id),
         |cr AS (SELECT way_id, cx, cy,
         |    lag(cx) OVER (PARTITION BY way_id ORDER BY idx) AS pcx,
         |    lag(cy) OVER (PARTITION BY way_id ORDER BY idx) AS pcy
         |  FROM c)
         |SELECT way_id, CAST(count(*) AS BIGINT) AS n_pts,
         |  CAST(abs(sum(pcx * cy - cx * pcy)) AS BIGINT) AS area2_nano,
         |  CASE WHEN sum(pcx * cy - cx * pcy) > 0 THEN 'CCW'
         |       WHEN sum(pcx * cy - cx * pcy) < 0 THEN 'CW'
         |       ELSE 'degenerate' END AS orientation
         |FROM cr GROUP BY way_id ORDER BY way_id""".stripMargin,

    // o17: the Spark side reassembles ways from the LIVE PBF-converted
    // snapshot; the oracle is o01's SQL over the XML-converted parquet.
    // Hash-green proves the PBF Way refs delta decode yields the same
    // ORDERED nd lists as the XML path (coord_path is order-sensitive).
    query("o17_pbf_reassemble", pbfReassembledWayPaths) oracle
      s"""WITH nodes AS (SELECT id AS node_id, lat, lon FROM $OsmP WHERE type = 'node'),
         |wx AS (SELECT w.id AS way_id, i AS idx, w.nds[i].ref AS ref
         |       FROM (SELECT id, nds FROM $OsmP WHERE type = 'way') w,
         |            UNNEST(range(1, len(w.nds) + 1)) AS t(i))
         |SELECT way_id, count(*) AS n_pts,
         |  string_agg(CAST(n.lat AS VARCHAR) || ',' || CAST(n.lon AS VARCHAR), ';' ORDER BY idx) AS coord_path
         |FROM wx JOIN nodes n ON wx.ref = n.node_id
         |GROUP BY way_id ORDER BY way_id""".stripMargin,

    // o18: flat relation-member projection WITH ORDINALITY from the
    // PBF-converted snapshot vs the XML-converted parquet — gates the
    // PBF memids delta / roles_sid string-table / member-type enum
    // decode including member ORDER and role strings.
    query("o18_pbf_members", pbfRelationMembers) oracle
      s"""SELECT r.id AS rel_id, CAST(i AS INT) AS idx,
         |  r.members[i].type AS member_type, r.members[i].ref AS ref,
         |  r.members[i].role AS role
         |FROM (SELECT id, members FROM $OsmP WHERE type = 'relation') r,
         |     UNNEST(range(1, len(r.members) + 1)) AS t(i)
         |ORDER BY rel_id, idx""".stripMargin,

    // o19: the custom codegen'd zorder(lat, lon) expression under the
    // gate — the oracle regenerates the 21-bit scale (same IEEE
    // divide/multiply then trunc-toward-zero) and the Morton
    // interleave as explicit per-bit integer arithmetic
    query("o19_zorder_nodes", zorderNodes) oracle
      s"""WITH n AS (
         |  SELECT id, version, CAST(lat AS DOUBLE) AS lat, CAST(lon AS DOUBLE) AS lon
         |  FROM $OsmP WHERE type = 'node' AND lat IS NOT NULL AND lon IS NOT NULL),
         |s AS (SELECT id, version,
         |        ${zScaleSql("lon", "-180.0e0", "360.0e0")} AS lons,
         |        ${zScaleSql("lat", "-90.0e0", "180.0e0")} AS lats
         |      FROM n),
         |z AS (SELECT id, version,
         |        (${zSpreadSql("lons")}) + 2 * (${zSpreadSql("lats")}) AS zval
         |      FROM s)
         |SELECT id, version, zval, CAST(zval >> 50 AS INT) AS zcell
         |FROM z ORDER BY id, version""".stripMargin,

    // o23: the codegen'd hilbert(lat, lon) expression under the gate —
    // the oracle replays the 16-bit scale and all sixteen
    // quadrant-rotation rounds as generated CASE arithmetic (rx/ry
    // pick the quadrant, d accumulates s² sub-squares, ry=0 rotates
    // with an rx=1 reflection)
    query("o23_hilbert_nodes", hilbertNodes) oracle
      s"""WITH n AS (
         |  SELECT id, version, CAST(lat AS DOUBLE) AS lat, CAST(lon AS DOUBLE) AS lon
         |  FROM $OsmP WHERE type = 'node' AND lat IS NOT NULL AND lon IS NOT NULL),
         |h0 AS (SELECT id, version,
         |        ${hScaleSql("lon", "-180.0e0", "360.0e0")} AS x,
         |        ${hScaleSql("lat", "-90.0e0", "180.0e0")} AS y,
         |        CAST(0 AS BIGINT) AS d
         |      FROM n),
         |${hilbertRoundsSql()}
         |SELECT id, version, d AS hval, CAST(d >> 24 AS INT) AS hcell
         |FROM h16 ORDER BY id, version""".stripMargin,

    // o25: the two converted sinks joined on the changeset FK —
    // per-changeset element census, touched-node bbox (stringified
    // decimals), num_changes delta, three-valued containment audit
    query("o25_changeset_impact", changesetImpact) oracle
      s"""WITH t AS (
         |  SELECT changeset,
         |    CAST(sum(CASE WHEN type = 'node' THEN 1 ELSE 0 END) AS BIGINT) AS n_nodes,
         |    CAST(sum(CASE WHEN type = 'way' THEN 1 ELSE 0 END) AS BIGINT) AS n_ways,
         |    CAST(sum(CASE WHEN type = 'relation' THEN 1 ELSE 0 END) AS BIGINT) AS n_rels,
         |    CAST(count(*) AS BIGINT) AS n_total,
         |    min(CASE WHEN type = 'node' THEN lat END) AS nmin_lat,
         |    max(CASE WHEN type = 'node' THEN lat END) AS nmax_lat,
         |    min(CASE WHEN type = 'node' THEN lon END) AS nmin_lon,
         |    max(CASE WHEN type = 'node' THEN lon END) AS nmax_lon
         |  FROM $OsmP GROUP BY 1
         |)
         |SELECT c.id,
         |  CAST(COALESCE(n_nodes, 0) AS BIGINT) AS n_nodes,
         |  CAST(COALESCE(n_ways, 0) AS BIGINT) AS n_ways,
         |  CAST(COALESCE(n_rels, 0) AS BIGINT) AS n_rels,
         |  CAST(COALESCE(n_total, 0) AS BIGINT) AS n_total,
         |  c.num_changes,
         |  c.num_changes - CAST(COALESCE(n_total, 0) AS BIGINT) AS delta,
         |  CAST(nmin_lat AS VARCHAR) AS node_min_lat,
         |  CAST(nmax_lat AS VARCHAR) AS node_max_lat,
         |  CAST(nmin_lon AS VARCHAR) AS node_min_lon,
         |  CAST(nmax_lon AS VARCHAR) AS node_max_lon,
         |  (nmin_lat >= c.min_lat AND nmax_lat <= c.max_lat AND
         |   nmin_lon >= c.min_lon AND nmax_lon <= c.max_lon) AS in_bounds
         |FROM $OsmC c LEFT JOIN t ON c.id = t.changeset
         |ORDER BY c.id""".stripMargin,

    // o24: both curves' cell footprints over the o20 bbox at equal
    // 2048x2048 granularity — the oracle replays BOTH pipelines
    // (Morton scale+spread+dense repack, Hilbert scale+16 rotation
    // rounds) and the same shift/aggregate
    query("o24_curve_locality", curveLocality) oracle
      s"""WITH n AS (
         |  SELECT id, version, CAST(lat AS DOUBLE) AS lat, CAST(lon AS DOUBLE) AS lon
         |  FROM $OsmP WHERE type = 'node'
         |  AND lon BETWEEN -0.25e0 AND -0.05e0 AND lat BETWEEN 51.05e0 AND 51.25e0),
         |zs AS (SELECT id, version,
         |        ${zScaleSql("lon", "-180.0e0", "360.0e0")} AS lons,
         |        ${zScaleSql("lat", "-90.0e0", "180.0e0")} AS lats
         |      FROM n),
         |zv AS (SELECT id, version,
         |        (${zSpreadSql("lons")}) + 2 * (${zSpreadSql("lats")}) AS z
         |      FROM zs),
         |zc AS (SELECT 'zorder' AS curve,
         |        ${(0 until 11).map(b =>
                    s"(((z >> ${30 + 3 * b}) & 1) << ${2 * b}) + (((z >> ${31 + 3 * b}) & 1) << ${2 * b + 1})")
                    .mkString(" + ")} AS cell
         |      FROM zv),
         |h0 AS (SELECT id, version,
         |        ${hScaleSql("lon", "-180.0e0", "360.0e0")} AS x,
         |        ${hScaleSql("lat", "-90.0e0", "180.0e0")} AS y,
         |        CAST(0 AS BIGINT) AS d
         |      FROM n),
         |${hilbertRoundsSql()},
         |hc AS (SELECT 'hilbert' AS curve, d >> 10 AS cell FROM h16),
         |u AS (SELECT * FROM zc UNION ALL SELECT * FROM hc)
         |SELECT curve, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT cell) AS BIGINT) AS n_cells,
         |  CAST(min(cell) AS BIGINT) AS cell_min,
         |  CAST(max(cell) AS BIGINT) AS cell_max,
         |  CAST(max(cell) - min(cell) + 1 AS BIGINT) AS span
         |FROM u GROUP BY 1 ORDER BY curve""".stripMargin,

    // o20: the z-range-pruned bbox scan's LOSSLESSNESS gate — the
    // oracle is the PLAIN o05 bbox filter with no z logic in the
    // selection (zval recomputed per matched row only for the output
    // column); a single true row dropped by Spark's z-range prefilter
    // hash-mismatches
    query("o20_zrange_bbox", zrangeBboxNodes) oracle
      s"""WITH n AS (
         |  SELECT id, lat, lon, CAST(lat AS DOUBLE) AS latd, CAST(lon AS DOUBLE) AS lond
         |  FROM $OsmP WHERE type = 'node'
         |  AND lon BETWEEN -0.25e0 AND -0.05e0 AND lat BETWEEN 51.05e0 AND 51.25e0),
         |s AS (SELECT id, lat, lon,
         |        ${zScaleSql("lond", "-180.0e0", "360.0e0")} AS lons,
         |        ${zScaleSql("latd", "-90.0e0", "180.0e0")} AS lats
         |      FROM n)
         |SELECT id, CAST(lat AS VARCHAR) AS lat, CAST(lon AS VARCHAR) AS lon,
         |  (${zSpreadSql("lons")}) + 2 * (${zSpreadSql("lats")}) AS zval
         |FROM s ORDER BY id""".stripMargin,
  )
}
