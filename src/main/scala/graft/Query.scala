package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a declared query's result is checked. */
sealed trait Gate

/** DuckDB SQL over the same tables. Column names and types align with the
  * builder's pair by pair, and every double aggregate is rounded at (or
  * finer than) the decimal grid of its exact value, so summation order
  * cannot flip a comparison. A thunk: declaring builds no SQL.
  */
final case class Oracle(sql: () => String) extends Gate

/** No SQL mirror can exist; the named spec classes check it, for `reason`. */
final case class SpecGated(specs: Seq[String], reason: String) extends Gate

/** One declared query. `resample` asks Bench for a third timed pass: the
  * queries that recompute the whole canonicalize pipeline under per-query
  * cache isolation, the bench's largest variance.
  */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
    gate: Gate, resample: Boolean)

object Query {

  /** Starts a declaration that only `oracle` or `specGated` finish, so
    * no query can lack a gate:
    * `query("q02_range_filter", Relational.rangeFilter) oracle "SELECT ..."`.
    */
  def query(name: String, build: (SparkSession, String) => DataFrame,
      resample: Boolean = false): Decl = new Decl(name, build, resample)

  final class Decl private[Query] (name: String,
      build: (SparkSession, String) => DataFrame, resample: Boolean) {
    def oracle(sql: => String): Query = Query(name, build, Oracle(() => sql), resample)
    def specGated(specs: Seq[String], reason: String): Query =
      Query(name, build, SpecGated(specs, reason), resample)
  }
}
