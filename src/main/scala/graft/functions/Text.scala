package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Canonical tokenization / shingling used by every text operator.
  *
  * The exact same definition is mirrored in the DuckDB oracle SQL
  * (see graft.OracleSql.Toks): tokens are the non-empty
  * pieces of `lower(text)` split on runs of non-alphanumerics;
  * positions are 1-based; a k-shingle is k consecutive tokens joined
  * by a single space.
  *
  * Everything here stays inside Catalyst (higher-order functions, no
  * UDFs) so whole-stage codegen applies and the expressions survive
  * column pruning / predicate pushdown at 100 TB scale.
  */
object Text {

  /** Non-empty lowercase tokens, in document order. */
  def toks(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= lit(""))

  /** Word k-shingles ("w1 w2 w3" for k=3); empty array when the doc
    * has fewer than k tokens.
    *
    * Built by zipping k shifted slices of the token array rather than
    * per-position element_at: higher-order lambdas are interpreted (no
    * codegen), so an inlined `tk` expression would be re-evaluated on
    * every element access — zip_with touches each slice exactly once.
    * Callers should still materialize `tk` behind a projection (see
    * tokenized) so the split/filter runs once per row.
    */
  def shingles(tk: Column, k: Int = 3): Column = {
    require(k >= 2, "shingle size must be >= 2")
    val n = size(tk) - (k - 1)
    val grams = (2 until k).foldLeft(
      zip_with(slice(tk, lit(1), n), slice(tk, lit(2), n), (a, b) => concat(a, lit(" "), b))) {
      (acc, off) =>
        zip_with(acc, slice(tk, lit(off + 1), n), (a, b) => concat(a, lit(" "), b))
    }
    when(size(tk) >= k, grams).otherwise(array().cast("array<string>"))
  }

  /** (doc_id, tk) with the token array materialized behind a projection
    * boundary — CollapseProject keeps a non-cheap multi-referenced
    * expression from being inlined into downstream lambdas.
    */
  def tokenized(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(org.apache.spark.sql.functions.col(idCol), toks(org.apache.spark.sql.functions.col(textCol)).as("tk"))

  /** Whitespace-ish token count (cheap, no explode). */
  def tokenCount(text: Column): Column = size(toks(text))
}
