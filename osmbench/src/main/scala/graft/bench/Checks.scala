package graft.bench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Order-insensitive answers computed by Spark over a table or a query
  * result, to compare with the generator's own answers.
  */
object Checks {

  /** Sum of per-row 64-bit hashes, widened so it cannot overflow. */
  def rowHashSum(cols: Column*): Column =
    sum(xxhash64(cols: _*).cast("decimal(38,0)"))

  /** Content hash of an OSM planet-schema table. Tag maps are hashed as
    * sorted entry arrays, so the map's entry order does not matter.
    */
  def planetHash(df: DataFrame): BigDecimal = BigDecimal(df.agg(rowHashSum(
    col("id"), col("type"), array_sort(map_entries(col("tags"))), col("lat"), col("lon"),
    col("nds"), col("members"), col("changeset"), col("timestamp"), col("uid"),
    col("user"), col("version"), col("visible"))).head().getDecimal(0))

  def changesetsHash(df: DataFrame): BigDecimal = BigDecimal(df.agg(rowHashSum(
    df.columns.map(c => if (c == "tags") array_sort(map_entries(col(c))) else col(c)): _*))
    .head().getDecimal(0))

  /** Hash of any query result: each row rendered as JSON, then hashed. */
  def resultHash: Column = rowHashSum(to_json(struct(col("*"))))

  private def lsum(c: Column): Column = coalesce(sum(c), lit(0L)).cast("long")

  def planetFingerprint(df: DataFrame): Map[String, TypeStats] =
    df.groupBy(col("type")).agg(
      count(lit(1)), lsum(col("id")), lsum(col("version")), lsum(size(col("tags"))),
      lsum(size(col("nds"))),
      lsum(aggregate(col("nds"), lit(0L), (a, x) => a + x.getField("ref"))),
      lsum(size(col("members"))),
      lsum((col("lat") * 10000000).cast("long")), lsum((col("lon") * 10000000).cast("long")),
      lsum(unix_seconds(col("timestamp"))), lsum(when(!col("visible"), 1L).otherwise(0L)))
      .collect().map { r =>
        r.getString(0) -> TypeStats(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9), r.getLong(10),
          r.getLong(11))
      }.toMap

  def changesetFingerprint(df: DataFrame): OsmGen.ChangesetStats = {
    val r: Row = df.agg(count(lit(1)), lsum(col("id")), lsum(size(col("tags"))),
      lsum(when(col("tags").getItem("comment").isNotNull, 1L).otherwise(0L)),
      lsum(when(col("open"), 1L).otherwise(0L)), lsum(col("num_changes")),
      lsum(col("comments_count")),
      lsum(((col("min_lat") + col("max_lat")) * 10000000).cast("long")),
      lsum(((col("min_lon") + col("max_lon")) * 10000000).cast("long"))).head()
    OsmGen.ChangesetStats(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))
  }
}
