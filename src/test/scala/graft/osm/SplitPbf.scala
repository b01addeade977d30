package graft.osm

import java.nio.file.{Files, Path}

import graft.osm.PbfFixtureEncoder.Entity

/** A PBF large enough for split planning to fan out: its OSMData blobs
  * hold several MiB of zlib data, above `OsmPbfScan.MinSplitBytes`.
  * Random names and coordinates keep zlib from shrinking it below that.
  */
object SplitPbf {

  lazy val entities: Seq[Entity] = {
    val rnd = new scala.util.Random(42)
    def word(n: Int) = rnd.alphanumeric.take(n).mkString
    val nodeCount = 80000
    val nodes = (1 to nodeCount).map { i =>
      val id = i.toLong
      Entity(id, "node", Seq("name" -> word(48), "amenity" -> "cafe"),
        latUnits = rnd.nextLong(1800000000L) - 900000000L,
        lonUnits = rnd.nextLong(3600000000L) - 1800000000L,
        nds = Nil, members = Nil, changeset = 1000L + id / 100,
        tsSec = 1500000000L + id, uid = id % 97, user = s"user${id % 97}",
        version = 1L + id % 3, visible = id % 50 != 0)
    }
    val ways = (1 to 2000).map { i =>
      val id = i.toLong
      Entity(id, "way", Seq("highway" -> "residential"), 0L, 0L,
        nds = Seq.fill(5)(1L + rnd.nextInt(nodeCount)), members = Nil,
        changeset = 5000L + id, tsSec = 1600000000L + id, uid = 3L, user = "ways",
        version = 1L, visible = true)
    }
    val relations = (1 to 200).map { i =>
      val id = i.toLong
      Entity(id, "relation", Seq("type" -> "route"), 0L, 0L, nds = Nil,
        members = Seq(("way", id, "outer"), ("node", id * 7, "stop")),
        changeset = 9000L + id, tsSec = 1700000000L + id, uid = 4L, user = "relations",
        version = 2L, visible = true)
    }
    nodes ++ ways ++ relations
  }

  /** Write the file into `dir` and return its path. */
  def write(dir: Path): String = {
    val f = dir.resolve("split.osm.pbf")
    Files.write(f, PbfFixtureEncoder.encode(entities))
    f.toString
  }
}
