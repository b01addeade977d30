package graft.osm

import org.apache.spark.sql.SparkSession

import graft.osm.pbf.OsmPbfSource

/** CLI parity with the reference's entry point
  * (/root/reference/src/main/java/net/mojodna/osm2orc/Osm2Orc.java:12-41):
  *
  *   graft.osm.Main [--changesets|--xml] <input> <output.orc>
  *
  * PBF mode converts an OSM PBF to the planet ORC table; --changesets
  * converts changeset XML (optionally .gz) to the changesets ORC table;
  * --xml converts planet/history `.osm` XML (the osmosis --read-xml
  * input; also auto-detected from a `.osm`/`.osm.gz`/`.osm.bz2`
  * extension) to the planet ORC table.
  * `-` reads stdin (Osm2Orc.java:21-24,33-36): the stream is staged to
  * the default Hadoop filesystem first — a Spark job needs a seekable,
  * re-readable input that every executor can open, which a pipe is not
  * (and a driver-local temp file only would be in local mode).
  */
object Main {

  /** Stage stdin onto the DEFAULT Hadoop filesystem (returned as the
    * input path) — on a cluster that is HDFS/object storage, which every
    * executor can open; a driver-local temp file would only work in
    * local mode. The staged file lives under hadoop.tmp.dir and is
    * deleted on JVM exit.
    */
  private[osm] def stageStdin(in: java.io.InputStream,
      conf: org.apache.hadoop.conf.Configuration, suffix: String): String = {
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    val dir = new org.apache.hadoop.fs.Path(
      conf.get("hadoop.tmp.dir", System.getProperty("java.io.tmpdir", "/tmp")))
    val p = new org.apache.hadoop.fs.Path(dir,
      s"graft-stdin-${java.util.UUID.randomUUID()}$suffix")
    val out = fs.create(p, true)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    } finally out.close()
    fs.deleteOnExit(p)
    fs.makeQualified(p).toString
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.osm.Main [--changesets|--xml] <input|-> <output.orc>"
    val (flags, rest) = args.partition(a => a == "--changesets" || a == "--xml")
    if (rest.length != 2) { System.err.println(usage); sys.exit(1) }
    val Array(rawInput, output) = rest
    val changesets = flags.filter(_ == "--changesets")
    val xml = flags.contains("--xml") ||
      OsmInputs.hasExtension(rawInput, OsmInputs.OsmXmlExtensions)

    val builder = SparkSession.builder()
      .appName("graft-osm2orc")
      .config("spark.sql.session.timeZone", "UTC")
    // spark-submit injects the master; default to local[*] for direct runs
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master("local[*]")).getOrCreate()

    val input =
      if (rawInput == "-")
        stageStdin(System.in, spark.sessionState.newHadoopConf(),
          if (changesets.nonEmpty) ".xml"
          else if (xml) ".osm" else ".osm.pbf")
      else rawInput

    if (changesets.nonEmpty)
      OrcSink.writeChangesets(ChangesetXml.read(spark, input), output)
    else if (xml)
      OrcSink.writePlanet(OsmXml.read(spark, input), output,
        bounds = OsmXml.bounds(spark, input))
    else
      OrcSink.writePlanet(OsmPbfSource.read(spark, input), output,
        bounds = OrcSink.pbfBounds(spark, input))
    spark.stop()
  }
}
