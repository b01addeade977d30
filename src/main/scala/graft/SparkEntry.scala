package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{DedupQueries, MultimodalQueries, Relational, RelationalQueries,
  SamplingQueries, SimilarityQueries, TextQueries}

/** Driver contract — see SURVEY.md §7.
  *
  * Every query is declared once, beside its operator family, as a
  * [[Query]]: name, DataFrame builder and gate (DuckDB oracle SQL, or
  * the specs that check it when no SQL can). [[queries]] and
  * [[oracleSql]] are derived from that one list.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** Every declared query, family by family. */
  val all: Seq[Query] = RelationalQueries.all ++ DedupQueries.all ++
    TextQueries.all ++ SimilarityQueries.all ++ SamplingQueries.all ++
    MultimodalQueries.all ++ osm.OsmOracle.queries

  /** name → builder. Builds no oracle SQL. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  /** name → DuckDB SQL for every oracle-gated query; evaluates each
    * declaration's SQL thunk on every call.
    */
  def oracleSql: Map[String, String] =
    all.collect { case Query(name, _, Oracle(sql), _) => name -> sql() }.toMap

  /** The named declarations in name order, or every one when `names` is
    * empty; an unknown name fails fast (a silent zero-match filter would
    * run nothing and exit 0).
    */
  def select(names: Iterable[String]): Seq[Query] = {
    val wanted = names.toSet
    val unknown = wanted -- queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    all.filter(q => wanted.isEmpty || wanted(q.name)).sortBy(_.name)
  }
}
