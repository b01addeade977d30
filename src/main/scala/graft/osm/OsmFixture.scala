package graft.osm

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Locator for the repo-committed converted-fixture parquet — the
  * SURVEY §5.3 oracle path: a deterministic OSM history + changeset
  * XML pair (fixtures/osm/src/) transcoded by THIS engine's own
  * sources ([[OsmXml]], [[ChangesetXml]]) into parquet that both the
  * Spark queries and the driver's DuckDB oracle read. Regenerate with
  * `sbt "Test/runMain graft.osm.OsmFixtureGen"`.
  *
  * Resolution: `SPARK_GRAFT_OSM_FIXTURE` env override, else
  * `fixtures/osm` under the working directory, else the canonical
  * checkout location (the o-query oracle SQL in OsmOracle embeds the same
  * canonical absolute path — DuckDB gets no env indirection).
  */
object OsmFixture {
  val CanonicalDir = "/root/repo/fixtures/osm"

  def dir: String = sys.env.get("SPARK_GRAFT_OSM_FIXTURE").getOrElse {
    val cwd = new java.io.File("fixtures/osm")
    if (cwd.isDirectory) cwd.getAbsolutePath else CanonicalDir
  }

  /** Current snapshot (latest visible versions) — the reference's
    * `planet` table shape.
    */
  def planet(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dir/planet")

  /** Full history — the reference's `planet_history` table shape. */
  def history(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dir/planet_history")

  def changesets(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dir/changesets")
}
