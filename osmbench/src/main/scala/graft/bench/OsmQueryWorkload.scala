package graft.bench

import java.time.{Instant, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.osm.{ChangesetXml, OrcSink, OsmChange, OsmQueries}
import graft.osm.PbfFixtureEncoder.Entity
import graft.osm.pbf.OsmPbfSource

/** `osm-query`: the README query mix over ORC tables that setup converts
  * from a seeded multi-version history PBF (and its latest-visible
  * snapshot) and a seeded changeset file, plus one write per pass: an OSC
  * diff read, merged with `applyDiff` and written with `writePlanet`.
  * Every answer is checked against what the generator's model implies.
  */
final class OsmQueryWorkload(ctx: Ctx) extends Workload {
  import ctx._

  val shape: OsmGen.PlanetShape = OsmGen.PlanetShape.of(if (tiny) 6000 else 12000)
  val changesets: Int = if (tiny) 1000 else 5000
  val diffSize: Int = if (tiny) 50 else 500
  // query box (degrees): minLon, maxLon, minLat, maxLat
  val Box: (Double, Double, Double, Double) = (-20.0, 40.0, 30.0, 60.0)

  private val historyOrc = dir("history.orc")
  private val planetOrc = dir("planet.orc")
  private val csOrc = dir("changesets.orc")
  private val diffOut = dir("applied.orc")
  private var osc = ""
  private var historyRows = 0L
  private var model: Model = _

  /** Answers implied by the generated entities. */
  final class Model(history: Seq[Entity]) {
    var diff: OsmGen.DiffModel = OsmGen.DiffModel(0, 0, 0)
    private def key(e: Entity) = (e.kind, e.id)
    val latest: IndexedSeq[Entity] = history.groupBy(key).values.map(_.maxBy(_.version)).toVector
    val planet: IndexedSeq[Entity] = latest.filter(_.visible)
    def rank(kind: String): Long = OsmGen.Kinds.indexOf(kind) + 1L

    val latestAnswer: Seq[Any] = Seq(latest.size.toLong, latest.map(_.version).sum,
      latest.count(!_.visible).toLong)
    val deleted: Map[String, Long] = latest.filter(!_.visible).groupBy(_.kind)
      .map { case (k, es) => k -> es.size.toLong }
    val deletedAnswer: Seq[Any] = Seq(deleted.size.toLong, deleted.values.sum,
      deleted.map { case (k, n) => rank(k) * n }.sum)

    val tagMonths: Map[Long, Long] = history.filter(_.tags.exists(_._1 == "amenity"))
      .groupBy { e =>
        val d = Instant.ofEpochSecond(e.tsSec).atZone(ZoneOffset.UTC)
        d.getYear * 12L + d.getMonthValue
      }.map { case (m, es) => m -> es.size.toLong }
    val tagAnswer: Seq[Any] = Seq(tagMonths.size.toLong, tagMonths.values.sum,
      tagMonths.map { case (m, n) => m * n }.sum)

    private val (minLon, maxLon, minLat, maxLat) = Box
    private def within(v: Long, lo: Double, hi: Double) = v >= lo * 1e7 && v <= hi * 1e7
    private val bboxNodes = planet.filter(e => e.kind == "node" &&
      within(e.lonUnits, minLon, maxLon) && within(e.latUnits, minLat, maxLat))
    val bboxAnswer: Seq[Any] = Seq(bboxNodes.size.toLong, bboxNodes.map(_.id).sum)

    private val planetNodes: Set[Long] = planet.filter(_.kind == "node").map(_.id).toSet
    private val wayPoints: Seq[Long] = planet.filter(_.kind == "way")
      .map(_.nds.count(planetNodes)).filter(_ > 0).map(_.toLong)
    val waysAnswer: Seq[Any] = Seq(wayPoints.size.toLong, wayPoints.sum)
    val geometriesAnswer: Seq[Any] = Seq(wayPoints.size.toLong + planetNodes.size,
      wayPoints.sum + planetNodes.size)

    /** expandRelations: per relation, every member reachable through
      * relation members present in the planet, at its minimum depth <= 8.
      */
    val expandAnswer: Seq[Any] = {
      val rels = planet.filter(_.kind == "relation").map(e => e.id -> e.members).toMap
      var rows, depthSum = 0L
      rels.foreach { case (root, members) =>
        val best = mutable.Map.empty[(String, Long), Int]
        var level = members.map(m => (m._1, m._2)).distinct
        var d = 1
        while (level.nonEmpty && d <= 8) {
          level.foreach(m => if (!best.contains(m)) best(m) = d)
          level = level.filter(_._1 == "relation").map(_._2).distinct
            .flatMap(r => rels.getOrElse(r, Nil)).map(m => (m._1, m._2)).distinct
          d += 1
        }
        rows += best.size
        depthSum += best.values.map(_.toLong).sum
      }
      Seq(rows, depthSum)
    }

    val planetVersions: Long = planet.map(_.version).sum
    def appliedAnswer: Seq[Any] = Seq(planet.size + diff.created,
      planetVersions + diff.versionDelta, diff.deleted)
  }

  private lazy val cs: Seq[OsmGen.Changeset] = (0 until changesets).map(OsmGen.changeset(seed, _))
  private lazy val csAnswers: Map[String, Seq[Any]] = {
    val (minLon, maxLon, minLat, maxLat) = Box
    val withComment = cs.filter(_.tags.exists(_._1 == "comment"))
    val josm = cs.map(_.tags.head._2).filter(_.startsWith("JOSM"))
    val hits = cs.filter(c => c.minLon <= maxLon * 1e7 && c.maxLon >= minLon * 1e7 &&
      c.minLat <= maxLat * 1e7 && c.maxLat >= minLat * 1e7)
    Map(
      "changesetsWithComment" -> Seq(withComment.size.toLong, withComment.map(_.id).sum),
      "changesetsByEditor" -> Seq(josm.distinct.size.toLong, josm.size.toLong),
      "changesetsIntersecting" -> Seq(hits.size.toLong, hits.map(_.id).sum))
  }

  def prepare(rep: Int): Unit = {
    val hist = dir(s"history-$rep.osm.pbf")
    val entities = OsmGen.writeHistory(hist, seed, shape)
    historyRows = entities.size.toLong
    OrcSink.writePlanet(OsmPbfSource.read(spark, hist), historyOrc,
      bounds = OrcSink.pbfBounds(spark, hist))
    model = new Model(entities)
    val snap = dir(s"planet-$rep.osm.pbf")
    OsmGen.writePbf(snap, OsmGen.Bbox, model.planet.sortBy(e => (model.rank(e.kind), e.id))
      .grouped(OsmGen.EntitiesPerBlob))
    OrcSink.writePlanet(OsmPbfSource.read(spark, snap), planetOrc,
      bounds = OrcSink.pbfBounds(spark, snap))
    val xml = dir(s"changesets-$rep.osm")
    OsmGen.writeChangesets(xml, seed, changesets)
    OrcSink.writeChangesets(ChangesetXml.read(spark, xml), csOrc)
    osc = dir(s"diff-$rep.osc")
    model.diff = OsmGen.writeDiff(osc, seed, model.planet, diffSize)
    Seq(hist, snap, xml).foreach(p => java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
  }

  private lazy val history = spark.read.orc(historyOrc)
  private lazy val planet = spark.read.orc(planetOrc)
  private lazy val changesetsDf = spark.read.orc(csOrc)

  // latestVersions (join form) must equal latestVersionsWindow; checked once
  private lazy val latestFormsAgree: Option[String] =
    if (Checks.planetHash(OsmQueries.latestVersions(history)) ==
        Checks.planetHash(OsmQueries.latestVersionsWindow(history))) None
    else Some("latestVersions and latestVersionsWindow disagree")

  private def query(name: String, build: => DataFrame, exprs: Seq[Column],
      expected: => Seq[Any], extra: => Option[String] = None): Op =
    Op(name, () => {
      val got = tracer.span(s"osmq.$name")(runObserved(build, name, exprs))
      () => extra.orElse(
        if (got.map(v => v.asInstanceOf[Number].longValue) != expected) Some(s"$name: got $got, expected $expected")
        else None)
    })

  private def n: Column = count(lit(1))
  private def s(c: Column): Column = coalesce(sum(c), lit(0L)).cast("long")

  lazy val ops: Seq[Op] = {
    val (minLon, maxLon, minLat, maxLat) = Box
    Seq(
      query("reassembleWays", OsmQueries.reassembleWays(planet),
        Seq(n, s(size(col("coordinates")))), model.waysAnswer),
      query("nodesInBbox", OsmQueries.nodesInBbox(planet, minLon, maxLon, minLat, maxLat),
        Seq(n, s(col("id"))), model.bboxAnswer),
      query("tagUsageByMonth", OsmQueries.tagUsageByMonth(history, "amenity"),
        Seq(n, s(col("n")), s(col("n") * (year(col("month")) * 12 + month(col("month"))))),
        model.tagAnswer),
      query("latestVersionsWindow", OsmQueries.latestVersionsWindow(history),
        Seq(n, s(col("version")), s(when(!col("visible"), 1L).otherwise(0L))),
        model.latestAnswer, latestFormsAgree),
      query("deletedCount", OsmQueries.deletedCount(history),
        Seq(n, s(col("n_deleted")), s(col("n_deleted") * OsmQueries.typeRank(col("type")))),
        model.deletedAnswer),
      query("changesetsWithComment", OsmQueries.changesetsWithComment(changesetsDf),
        Seq(n, s(col("id"))), csAnswers("changesetsWithComment")),
      query("changesetsByEditor", OsmQueries.changesetsByEditor(changesetsDf, "JOSM"),
        Seq(n, s(col("n"))), csAnswers("changesetsByEditor")),
      query("changesetsIntersecting",
        OsmQueries.changesetsIntersecting(changesetsDf, minLon, maxLon, minLat, maxLat),
        Seq(n, s(col("id"))), csAnswers("changesetsIntersecting")),
      query("allGeometries", OsmQueries.allGeometries(planet),
        Seq(n, s(size(col("coordinates")))), model.geometriesAnswer),
      query("wayGeomStats", OsmQueries.wayGeomStats(planet),
        Seq(n, s(col("n_pts"))), model.waysAnswer),
      query("expandRelations", OsmQueries.expandRelations(planet),
        Seq(n, s(col("depth"))), model.expandAnswer),
      Op("diffApply", () => {
        tracer.span("osc.diffApply") {
          OrcSink.writePlanet(OsmChange.applyDiff(planet, OsmChange.read(spark, osc)), diffOut)
        }
        () => {
          val r = planted(spark.read.orc(diffOut))
            .agg(n, s(col("version")), s(when(!col("visible"), 1L).otherwise(0L))).head()
          val got = Seq(r.getLong(0), r.getLong(1), r.getLong(2))
          if (got != model.appliedAnswer) Some(s"diffApply: got $got, expected ${model.appliedAnswer}")
          else None
        }
      }))
  }

  def stamp: Seq[(String, String)] = Seq(
    "history_rows" -> historyRows.toString, "entities" -> shape.entities.toString,
    "planet_rows" -> model.planet.size.toString, "changesets" -> changesets.toString,
    "diff_elements" -> (2 * diffSize + diffSize / 2).toString)

  override def metrics(execs: Seq[Exec]): Seq[Metric] = Seq(
    Metric("diff_apply_s", Main.median(execs.filter(_.op == "diffApply").map(_.seconds)), "s"))

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  override def probe(): Seq[Metric] = {
    def noop(df: => DataFrame) = Main.median((1 to 3).map(_ =>
      time(df.write.format("noop").mode("overwrite").save())))
    val parse = noop(OsmChange.read(spark, osc))
    val apply = noop(OsmChange.applyDiff(planet, OsmChange.read(spark, osc)))
    val write = Main.median((1 to 3).map(_ => time(OrcSink.writePlanet(
      OsmChange.applyDiff(planet, OsmChange.read(spark, osc)), diffOut))))
    Seq(Metric("osc.parse_s", parse, "s"), Metric("osc.apply_s", apply - parse, "s"),
      Metric("orc.write_s", write - apply, "s"))
  }
}
