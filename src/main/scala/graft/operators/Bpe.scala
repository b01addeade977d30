package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Text

/** LEARNED byte-pair encoding — the real tokenizer-training surface a
  * training-data pipeline needs (t05's regex tokenizer counts
  * BPE-ish pieces against a FIXED inventory; this learns the
  * inventory from the corpus itself, the published BPE algorithm of
  * Sennrich et al. 2016, arXiv:1508.07909).
  *
  * Scale shape: learning runs on the WORD-FREQUENCY AGGREGATE, not the
  * raw corpus — 100 TB of text reduces to a vocab-sized symbol table
  * after one shuffle ([[wordCounts]]), and every learning round after
  * that is vocab-sized work (a pair-count aggregate + a TakeOrdered
  * argmax + a rewrite of the symbol table). The merge list itself is
  * tiny (`numMerges` rows) and broadcasts to the encode pass, which is
  * embarrassingly parallel per partition.
  *
  * Everything is deterministic: pair counts are exact long sums, the
  * per-round argmax breaks ties totally (count desc, then (left,
  * right) lexicographic), and encoding applies merges in rank order —
  * so two runs (or two cluster sizes) learn byte-identical merge
  * tables, which is what makes the t21 gate entry stable run-to-run.
  */
object Bpe {

  /** One learned merge: rank `rank` (0 = learned first) joins adjacent
    * symbols `left`+`right` into one.
    */
  case class Merge(rank: Int, left: String, right: String)

  /** Word-frequency table (word, wcount) over the canonical tokens —
    * the one corpus-sized shuffle in the whole algorithm.
    */
  def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(Text.toks(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wcount"))

  /** Merge every non-overlapping (l, r) adjacency, leftmost first —
    * the canonical application order ("aaa" under (a,a) → ["aa","a"]).
    */
  private[operators] def applyMergeOnce(s: Seq[String], l: String,
      r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == l && s(i + 1) == r) {
        out += l + r; i += 2
      } else { out += s(i); i += 1 }
    }
    out.toSeq
  }

  /** Learn up to `numMerges` merges from a (word, wcount) table.
    *
    * Each round: flat-map adjacent symbol pairs weighted by word
    * count, aggregate, take the argmax under the total order
    * (count desc, left asc, right asc — `orderBy.limit(1)` plans as
    * TakeOrdered, no global sort), then rewrite the symbol table with
    * its lineage TRUNCATED (`localCheckpoint`, eager). Truncation is
    * load-bearing, not an optimization nicety: an iterated map over a
    * merely-persisted Dataset accretes the whole round chain into
    * every subsequent logical plan (caching stores data, not plans),
    * and by ~20 rounds analysis/plan-string work dwarfs the actual
    * vocab-sized compute. At cluster scale pass `checkpointDir` to
    * snapshot reliably (survives executor loss during the learning
    * loop; the table is vocab-sized either way). Stops early when
    * no adjacent pair remains.
    */
  def learnMerges(words: DataFrame, numMerges: Int,
      checkpointDir: Option[String] = None): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = words.sparkSession
    import spark.implicits._
    // Reliable-checkpoint option: when a dir is given, round snapshots
    // go through Dataset.checkpoint (HDFS-durable — survives executor
    // loss on a real cluster); default stays executor-local
    // localCheckpoint, which is faster and fine single-JVM.
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def snap[T](ds: Dataset[T]): Dataset[T] =
      if (checkpointDir.isDefined) ds.checkpoint() else ds.localCheckpoint()
    var syms: Dataset[(Seq[String], Long)] = snap(words
      .select(col("word").cast("string"), col("wcount").cast("long"))
      .as[(String, Long)]
      .map { case (w, c) => (w.map(_.toString): Seq[String], c) })
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var done = false
    while (merges.length < numMerges && !done) {
      val top = syms.flatMap { case (s, c) =>
          if (s.length < 2) Iterator.empty
          else s.sliding(2).map(p => (p(0), p(1), c))
        }.toDF("left", "right", "w")
        .groupBy("left", "right").agg(sum("w").as("cnt"))
        .orderBy(desc("cnt"), asc("left"), asc("right"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, r) = (top(0).getString(0), top(0).getString(1))
        merges += Merge(merges.length, l, r)
        val next = // eager snapshot: materializes BEFORE the parent drops
          snap(syms.map { case (s, c) => (applyMergeOnce(s, l, r), c) })
        syms.unpersist()
        syms = next
      }
    }
    syms.unpersist()
    merges.toSeq
  }

  /** Encode one word with a learned rank table: repeatedly apply the
    * lowest-ranked merge present until none applies — the canonical
    * BPE encode, and by construction re-encoding a training word
    * reproduces exactly the symbols training left it with.
    */
  def encodeWord(word: String, ranks: Map[(String, String), Int]): Seq[String] = {
    var s: Seq[String] = word.map(_.toString)
    var continue = s.length >= 2
    while (continue) {
      var bestRank = Int.MaxValue
      var bi = -1
      var i = 0
      while (i + 1 < s.length) {
        val rk = ranks.getOrElse((s(i), s(i + 1)), Int.MaxValue)
        if (rk < bestRank) { bestRank = rk; bi = i }
        i += 1
      }
      if (bi < 0) continue = false
      else s = applyMergeOnce(s, s(bi), s(bi + 1))
    }
    s
  }

  /** t21 gate entry: per-document token statistics under the
    * corpus-learned BPE — learn on the word-frequency aggregate
    * (bounded driver loop), broadcast the rank table, encode
    * per-partition. Not SQL-expressible (the merge list is the fixed
    * point of an iterated argmax), so the gate records rows-only;
    * BpeSpec carries the correctness weight: the distributed learner
    * is proven merge-for-merge equal to a sequential reference
    * implementation, and the gated counts are recomputed per-doc.
    */
  def tokenStats(spark: SparkSession, sfDir: String,
      numMerges: Int = 20): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val merges = learnMerges(wordCounts(docs), numMerges)
    val ranks = merges.map(m => (m.left, m.right) -> m.rank).toMap
    val bc = spark.sparkContext.broadcast(ranks)
    docs.select(col("doc_id").cast("long"), Text.toks(col("text")).as("tk"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val rk = bc.value
        // Word frequencies are Zipfian: memoize encode lengths per
        // DISTINCT word within the partition so the O(len²) encode
        // runs once per word form, not once per occurrence.
        val memo = scala.collection.mutable.HashMap.empty[String, Int]
        it.map { case (id, toks) =>
          var nSym = 0L
          toks.foreach { w =>
            nSym += memo.getOrElseUpdate(w, encodeWord(w, rk).length)
          }
          (id, toks.length.toLong, nSym)
        }
      }.toDF("doc_id", "n_words", "n_bpe_tokens")
      .orderBy("doc_id")
  }

  /** t22 gate entry: the learned merge table ITSELF, hash-gated
    * against a generated DuckDB iterative-CTE chain (the kmeansSql
    * precedent — TextQueries.bpeSql replays the identical algorithm
    * declaratively: per round a pair-count aggregate, the total-order
    * argmax (count desc, left, right), and a list_reduce leftmost-
    * non-overlapping rewrite). Hash-green proves the distributed
    * learning loop merge-for-merge equal to an independent engine's
    * replay — upgrading t21's spec-only correctness signal to a real
    * oracle for the learning fixed point.
    */
  def learnedMerges(spark: SparkSession, sfDir: String,
      numMerges: Int = 20): DataFrame = {
    import spark.implicits._
    val merges = learnMerges(wordCounts(Tables.documents(spark, sfDir)), numMerges)
    merges.map(m => (m.rank, m.left, m.right))
      .toDF("rnk", "lhs", "rhs").orderBy("rnk")
  }
}
