package graft.bench

import java.io.{BufferedOutputStream, DataInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import graft.osm.PbfFixtureEncoder.Entity
import graft.osm.{PbfFixtureEncoder, PbfTestData}

/** splitmix64: a seeded, allocation-free stream. One per entity (seeded
  * from the workload seed and the entity's index), so any entity can be
  * regenerated without replaying the ones before it.
  */
final class Rng(seed: Long) {
  private var s = seed
  def long(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def int(n: Int): Int = java.lang.Long.remainderUnsigned(long(), n.toLong).toInt
  def unit(): Double = (long() >>> 11) * (1.0 / (1L << 53))
  def chance(p: Double): Boolean = unit() < p
  /** 0, 1, 2, ... with geometric tail: most draws small, a few large. */
  def skewed(max: Int, power: Double): Int = math.floor(max * math.pow(unit(), power)).toInt
}

object Rng {
  def at(seed: Long, stream: Long, index: Long): Rng =
    new Rng(seed * 0x100000001B3L ^ stream * 0x9E3779B97F4A7C15L ^ index)
}

/** Per-type fingerprint of an OSM table, computed both by the generator
  * while it writes an input and by Spark over a table the program wrote
  * (see [[Checks.planetFingerprint]]). Every field is an exact integer.
  */
final case class TypeStats(rows: Long = 0, idSum: Long = 0, versionSum: Long = 0,
    tags: Long = 0, nds: Long = 0, ndRefSum: Long = 0, members: Long = 0,
    latSum: Long = 0, lonSum: Long = 0, tsSum: Long = 0, invisible: Long = 0) {
  def +(e: Entity): TypeStats = TypeStats(rows + 1, idSum + e.id, versionSum + e.version,
    tags + e.tags.size, nds + e.nds.size, ndRefSum + e.nds.sum, members + e.members.size,
    latSum + e.latUnits, lonSum + e.lonUnits, tsSum + e.tsSec,
    invisible + (if (e.visible) 0 else 1))
}

/** Seeded OSM inputs, encoded with the program's own test-side PBF
  * writers (`PbfFixtureEncoder` for the data blocks, `PbfTestData` for
  * the framing and the bbox header).
  */
object OsmGen {
  val Kinds: Seq[String] = Seq("node", "way", "relation")
  val EntitiesPerBlob = 8000

  // lat/lon box of generated nodes, in scale-7 units (1e-7 degrees)
  val LatMin: Long = -60L * 10000000L
  val LatMax: Long = 70L * 10000000L
  val LonMin: Long = -170L * 10000000L
  val LonMax: Long = 170L * 10000000L

  private val TagKeys = Array("amenity", "name", "highway", "building", "shop",
    "addr:street", "addr:housenumber", "source", "surface", "landuse", "natural",
    "barrier", "power", "railway", "tourism", "leisure", "oneway", "ref")
  private val TagValues = Array("yes", "residential", "service", "cafe", "school",
    "track", "footway", "house", "asphalt", "bing", "survey", "wood", "water",
    "tower", "primary", "no", "parking", "restaurant", "fence", "1")
  val Roles: Array[String] = Array("", "outer", "inner", "stop", "platform", "forward")

  private def tags(r: Rng, n: Int): Seq[(String, String)] = {
    // distinct keys: a map column keeps one value per key
    val keys = mutable.LinkedHashSet.empty[String]
    while (keys.size < n) keys += TagKeys(r.int(TagKeys.length))
    keys.toSeq.map(k => k -> TagValues(r.int(TagValues.length)))
  }

  private def info(r: Rng, id: Long, kind: String, version: Long, tsSec: Long,
      visible: Boolean, tg: Seq[(String, String)], lat: Long, lon: Long,
      nds: Seq[Long], members: Seq[(String, Long, String)]): Entity = {
    val uid = 1L + r.int(5000)
    Entity(id, kind, tg, lat, lon, nds, members, changeset = 1L + r.int(1000000),
      tsSec = tsSec, uid = uid, user = s"u$uid", version = version, visible = visible)
  }

  /** One entity of the `ingest` planet. Node ids are 1..nodes, way and
    * relation ids restart at 1 (ids are per-type in OSM).
    */
  final case class PlanetShape(nodes: Int, ways: Int, relations: Int) {
    def entities: Long = nodes.toLong + ways + relations
  }
  object PlanetShape {
    /** ~88 % nodes, ~11 % ways, ~1 % relations, like a real extract. */
    def of(entities: Int): PlanetShape = {
      val rel = math.max(1, entities / 100)
      val ways = math.max(1, entities * 11 / 100)
      PlanetShape(entities - rel - ways, ways, rel)
    }
  }

  def planetEntity(seed: Long, shape: PlanetShape, kind: Int, idx: Int): Entity = {
    val r = Rng.at(seed, kind.toLong, idx.toLong)
    val id = idx.toLong + 1
    val version = 1L + r.skewed(4, 3.0)
    val ts = 1300000000L + r.int(300000000)
    kind match {
      case 0 =>
        // mostly untagged; the tagged tenth has a skewed tag count
        val tg = if (r.chance(0.1)) tags(r, 1 + r.skewed(11, 3.0)) else Nil
        info(r, id, "node", version, ts, visible = true, tg,
          LatMin + (r.unit() * (LatMax - LatMin)).toLong,
          LonMin + (r.unit() * (LonMax - LonMin)).toLong, Nil, Nil)
      case 1 =>
        val n = 2 + r.skewed(198, 8.0)
        val start = 1L + r.int(shape.nodes)
        val nds = (0 until n).scanLeft(start)((p, _) => p + 1 + r.int(3)).take(n)
          .map(x => 1L + (x - 1) % shape.nodes)
        info(r, id, "way", version, ts, visible = true,
          tags(r, 1 + r.skewed(5, 2.0)), 0L, 0L, nds, Nil)
      case _ =>
        // one relation in twenty is a super-relation over plain ones, so
        // hierarchies are two levels deep, as in real data
        val superRel = idx % 20 == 0 && shape.relations > 20
        val n = 1 + r.skewed(40, 3.0)
        val members = (0 until n).map { _ =>
          val u = r.unit()
          if (superRel && u < 0.5) {
            val j = r.int(shape.relations - 1)
            ("relation", 1L + (if (j % 20 == 0) j + 1 else j), "")
          }
          else if (u < 0.3) ("node", 1L + r.int(shape.nodes), Roles(r.int(Roles.length)))
          else ("way", 1L + r.int(shape.ways), Roles(r.int(3)))
        }
        info(r, id, "relation", version, ts, visible = true,
          ("type" -> Seq("multipolygon", "route", "boundary")(r.int(3))) +: tags(r, r.skewed(3, 2.0)),
          0L, 0L, Nil, members)
    }
  }

  /** Write `blocks` as OSMData blobs after a bbox header. Each block is
    * encoded by PbfFixtureEncoder.encode, whose own (bbox-less) header
    * frame is skipped so the file carries one header, the one with the
    * bounds the sink stamps into its footers.
    */
  def writePbf(path: String, bbox: (Long, Long, Long, Long),
      blocks: Iterator[Seq[Entity]]): Long = {
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    try {
      val (left, right, top, bottom) = bbox
      out.write(PbfTestData.frameBlob("OSMHeader",
        PbfTestData.headerBlock(left, right, top, bottom), compress = true))
      var blobs = 0L
      blocks.foreach { b =>
        val bytes = PbfFixtureEncoder.encode(b, nodesPerBlock = EntitiesPerBlob)
        out.write(bytes, firstFrameLength(bytes), bytes.length - firstFrameLength(bytes))
        blobs += 1
      }
      blobs
    } finally out.close()
  }

  private def firstFrameLength(bytes: Array[Byte]): Int = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val headerLen = in.readInt()
    val r = graft.osm.pbf.Proto.reader(bytes.slice(4, 4 + headerLen))
    var datasize = 0
    while (r.hasMore) {
      val tag = r.readTag()
      if ((tag >> 3) == 3) datasize = r.readVarint().toInt else r.skip(tag & 7)
    }
    4 + headerLen + datasize
  }

  /** Nanodegree bbox (left, right, top, bottom) of the generated nodes. */
  val Bbox: (Long, Long, Long, Long) = (LonMin * 100, LonMax * 100, LatMax * 100, LatMin * 100)

  /** The `ingest` planet: entities in (type, id) order, 8k per blob. */
  def writePlanet(path: String, seed: Long, shape: PlanetShape): (Map[String, TypeStats], Long) = {
    val stats = mutable.Map.empty[String, TypeStats].withDefaultValue(TypeStats())
    val counts = Seq(shape.nodes, shape.ways, shape.relations)
    val blocks = Iterator.range(0, 3).flatMap { k =>
      Iterator.range(0, counts(k), EntitiesPerBlob).map { from =>
        val b = (from until math.min(counts(k), from + EntitiesPerBlob))
          .map(i => planetEntity(seed, shape, k, i))
        b.foreach(e => stats(e.kind) = stats(e.kind) + e)
        b
      }
    }
    val blobs = writePbf(path, Bbox, blocks)
    (stats.toMap, blobs)
  }

  // ---- changesets ----

  val Editors: Array[String] = Array("JOSM/1.5 (18463 en)", "iD 2.20.1",
    "JOSM/1.5 (17919 de)", "StreetComplete 45.2", "Potlatch 2", "Vespucci 17.1",
    "iD 2.21.0", "Every Door 4.0")

  final case class ChangesetStats(rows: Long = 0, idSum: Long = 0, tags: Long = 0,
      withComment: Long = 0, open: Long = 0, numChangesSum: Long = 0,
      commentsSum: Long = 0, latSum: Long = 0, lonSum: Long = 0)

  final case class Changeset(id: Long, createdSec: Long, closedSec: Option[Long],
      user: String, uid: Long, minLat: Long, maxLat: Long, minLon: Long, maxLon: Long,
      numChanges: Long, comments: Long, tags: Seq[(String, String)])

  def changeset(seed: Long, idx: Int): Changeset = {
    val r = Rng.at(seed, 7L, idx.toLong)
    val lat = LatMin + (r.unit() * (LatMax - LatMin - 10000000L)).toLong
    val lon = LonMin + (r.unit() * (LonMax - LonMin - 10000000L)).toLong
    val created = 1300000000L + idx.toLong * 60
    val open = r.chance(0.02)
    val tg = Seq("created_by" -> Editors(r.skewed(Editors.length, 2.0))) ++
      (if (r.chance(0.6)) Seq("comment" -> s"edit ${r.int(100000)}") else Nil) ++
      (if (r.chance(0.3)) Seq("source" -> "survey") else Nil)
    val uid = 1L + r.int(5000)
    Changeset(idx.toLong + 1, created, if (open) None else Some(created + r.int(3600)),
      s"u$uid", uid, lat, lat + r.int(10000000), lon, lon + r.int(10000000),
      1L + r.int(500), r.int(3).toLong, tg)
  }

  private def deg(units: Long): String =
    java.math.BigDecimal.valueOf(units, 7).toPlainString

  private def iso(sec: Long): String = java.time.Instant.ofEpochSecond(sec).toString

  private def xmlAttr(s: String): String =
    s.replace("&", "&amp;").replace("\"", "&quot;").replace("<", "&lt;")

  def writeChangesets(path: String, seed: Long, n: Int): ChangesetStats = {
    val out = new java.io.OutputStreamWriter(
      new BufferedOutputStream(new FileOutputStream(path), 1 << 20), UTF_8)
    var st = ChangesetStats()
    try {
      out.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n")
      (0 until n).foreach { i =>
        val c = changeset(seed, i)
        out.write(s"""  <changeset id="${c.id}" created_at="${iso(c.createdSec)}"""")
        c.closedSec.foreach(t => out.write(s""" closed_at="${iso(t)}""""))
        out.write(s""" open="${c.closedSec.isEmpty}" user="${c.user}" uid="${c.uid}"""" +
          s""" min_lat="${deg(c.minLat)}" max_lat="${deg(c.maxLat)}"""" +
          s""" min_lon="${deg(c.minLon)}" max_lon="${deg(c.maxLon)}"""" +
          s""" num_changes="${c.numChanges}" comments_count="${c.comments}">""" + "\n")
        c.tags.foreach { case (k, v) =>
          out.write(s"""    <tag k="${xmlAttr(k)}" v="${xmlAttr(v)}"/>""" + "\n")
        }
        out.write("  </changeset>\n")
        st = ChangesetStats(st.rows + 1, st.idSum + c.id, st.tags + c.tags.size,
          st.withComment + (if (c.tags.exists(_._1 == "comment")) 1 else 0),
          st.open + (if (c.closedSec.isEmpty) 1 else 0), st.numChangesSum + c.numChanges,
          st.commentsSum + c.comments, st.latSum + c.minLat + c.maxLat,
          st.lonSum + c.minLon + c.maxLon)
      }
      out.write("</osm>\n")
    } finally out.close()
    st
  }

  // ---- multi-version history (osm-query) ----

  /** Every version of one entity, oldest first. The last version of about
    * one entity in twenty is a deletion (visible = false).
    */
  def historyVersions(seed: Long, shape: PlanetShape, kind: Int, idx: Int): Seq[Entity] = {
    val base = planetEntity(seed, shape, kind, idx)
    val r = Rng.at(seed, 10L + kind, idx.toLong)
    val versions = 1 + r.skewed(4, 2.0)
    val deleted = r.chance(0.05)
    // versions spread over 2019..2023 so tag usage spans many months
    var ts = 1546300800L + r.int(60000000)
    (1 to versions).map { v =>
      ts += 86400L * (1 + r.int(120))
      val tg = if (kind == 0 && r.chance(0.3)) ("amenity" -> "cafe") +: base.tags.filter(_._1 != "amenity")
        else base.tags
      base.copy(version = v.toLong, tsSec = ts, tags = tg,
        visible = !(deleted && v == versions), changeset = 1L + r.int(1000000))
    }
  }

  def writeHistory(path: String, seed: Long, shape: PlanetShape): IndexedSeq[Entity] = {
    val counts = Seq(shape.nodes, shape.ways, shape.relations)
    val all = (0 until 3).flatMap(k => (0 until counts(k))
      .flatMap(i => historyVersions(seed, shape, k, i))).toVector
    writePbf(path, Bbox, all.grouped(EntitiesPerBlob).map(_.toSeq))
    all
  }

  /** One OSC diff against the latest visible snapshot: `modify` a few
    * nodes and ways, `create` new nodes, `delete` some nodes. Returns
    * (rows added, rows made invisible, version sum added).
    */
  final case class DiffModel(created: Long, deleted: Long, versionDelta: Long)

  def writeDiff(path: String, seed: Long, planet: Seq[Entity], n: Int): DiffModel = {
    val r = Rng.at(seed, 20L, 0L)
    val nodes = planet.filter(_.kind == "node").toVector
    val ways = planet.filter(_.kind == "way").toVector
    val picked = mutable.LinkedHashSet.empty[(String, Long)]
    def pick(from: Seq[Entity]): Entity = {
      var e = from(r.int(from.size))
      while (picked((e.kind, e.id))) e = from(r.int(from.size))
      picked += ((e.kind, e.id)); e
    }
    val modified = (0 until n).map(i => pick(if (i % 2 == 0) nodes else ways))
    val deleted = (0 until n / 2).map(_ => pick(nodes))
    val maxNode = nodes.map(_.id).max
    val created = (1 to n).map(i => nodes(r.int(nodes.size)).copy(id = maxNode + i,
      version = 1L, tags = Seq("amenity" -> "cafe")))
    val ts = 1700000000L
    def elem(e: Entity, version: Long, body: Boolean): String = {
      val head = s"""<${e.kind} id="${e.id}" version="$version" changeset="9999999"""" +
        s""" timestamp="${iso(ts)}" uid="42" user="diff"""" +
        (if (e.kind == "node" && body) s""" lat="${deg(e.latUnits)}" lon="${deg(e.lonUnits)}"""" else "")
      if (!body) head + "/>"
      else head + ">" + e.tags.map { case (k, v) => s"""<tag k="$k" v="$v"/>""" }.mkString +
        e.nds.map(x => s"""<nd ref="$x"/>""").mkString + s"</${e.kind}>"
    }
    val out = new java.io.OutputStreamWriter(new FileOutputStream(path), UTF_8)
    try {
      out.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osmChange version=\"0.6\">\n")
      out.write("<modify>\n"); modified.foreach(e => out.write(elem(e, e.version + 1, body = true) + "\n"))
      out.write("</modify>\n<create>\n"); created.foreach(e => out.write(elem(e, 1L, body = true) + "\n"))
      out.write("</create>\n<delete>\n"); deleted.foreach(e => out.write(elem(e, e.version + 1, body = false) + "\n"))
      out.write("</delete>\n</osmChange>\n")
    } finally out.close()
    DiffModel(created.size.toLong, deleted.size.toLong, modified.size.toLong + deleted.size + created.size)
  }
}
