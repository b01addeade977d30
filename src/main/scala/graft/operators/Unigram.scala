package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{IntLog, Text}

/** Unigram-LM (SentencePiece-style) tokenizer trainer — the THIRD
  * production subword family next to learned BPE ([[Bpe]], t21/t22)
  * and WordPiece greedy longest-match ([[TextAnalysis.wordPieceEncode]],
  * t33): a piece VOCABULARY with probabilities is learned by
  * expectation-maximization and words are segmented by Viterbi under
  * the learned piece costs (Kudo 2018, arXiv:1804.10959).
  *
  * House adaptations, all load-bearing for the hash gate:
  *  - HARD EM (Viterbi-EM): the E-step segments each distinct word by
  *    the best single segmentation instead of summing over all of them
  *    — expected counts become exact integer counts, so every quantity
  *    in the loop lives on the integer grid and a DuckDB CTE chain
  *    replays the whole training run bit-for-bit
  *    (TextQueries.unigramSql). Kudo's soft E-step differs only in
  *    using forward-backward fractional counts; the
  *    seed-prune-resegment structure is identical.
  *  - Piece costs are FIXED-POINT INTEGER logs:
  *    cost(p) = log2Fixed(T) - log2Fixed(freq_p) ~ -2^F*log2(freq_p/T),
  *    with [[IntLog.log2Fixed]]'s exact shift-and-square grid — no
  *    IEEE `ln` anywhere (cross-engine last-ulp risk).
  *  - The Viterbi tie-break is TOTAL: (cost asc, piece-count asc,
  *    '|'-joined path string asc). Compared paths always segment the
  *    same prefix with the same piece count, so the strings have equal
  *    length and byte-wise comparison agrees between the JVM and
  *    DuckDB's binary collation; prefix-optimal substructure holds
  *    because appending an identical suffix to equal-length strings
  *    preserves their order.
  *
  * Scale shape (the Bpe.learnMerges contract): learning runs on the
  * WORD-FREQUENCY AGGREGATE — 100 TB of text reduces to a vocab-sized
  * (word, wcount) table after one shuffle, cached across rounds. Each
  * EM round is ONE distributed job (broadcast the piece-cost map,
  * Viterbi per distinct word in mapPartitions, map-combinable
  * groupBy(piece) usage sum) plus a parameter-sized driver collect of
  * the usage table (bounded by the seed size, the Bpe argmax-collect
  * idiom — never corpus-proportional). The vocabulary itself never
  * exceeds |singles| + `seedMultis` rows.
  */
object Unigram {

  /** Longest word admitted to training (longer words route to a
    * byte-fallback encoder — the wordPieceEncode convention).
    */
  val MaxWordLen = 12

  /** Longest candidate piece (SentencePiece's
    * --max_sentencepiece_length, default 16; 6 here keeps the oracle's
    * DP unroll at word-length rounds x 6 candidate spans).
    */
  val MaxPieceLen = 6

  /** Seed vocabulary: every single character plus this many most
    * frequent multi-character substrings (freq DESC, piece ASC).
    */
  val SeedMultis = 120

  /** Multi-char pieces kept after each EM round (usage DESC, piece
    * ASC) — the shrink-toward-target prune schedule; its length is the
    * round count. Single characters are never pruned (segmentation can
    * then never dead-end, so no [UNK] exists by construction).
    */
  val KeepSchedule: Seq[Int] = Seq(80, 56, 40)

  /** The distinct-word frame (word, wcount), length-capped. */
  def words(spark: SparkSession, sfDir: String): DataFrame =
    Bpe.wordCounts(Tables.documents(spark, sfDir))
      .filter(length(col("word")).between(1, MaxWordLen))

  /** Every (piece, freq) substring of the word frame, lengths 1 to
    * [[MaxPieceLen]], freq = occurrence-position count weighted by
    * wcount (overlaps count — the standard seed statistic).
    */
  def substringFreqs(words: DataFrame): DataFrame =
    words
      .withColumn("s", explode(sequence(lit(1), length(col("word")))))
      .withColumn("n", explode(sequence(lit(1),
        least(lit(MaxPieceLen), length(col("word")) - col("s") + 1))))
      .select(col("word").substr(col("s"), col("n")).as("piece"),
        col("wcount"))
      .groupBy("piece").agg(sum("wcount").as("freq"))

  /** Viterbi segmentation of one word under integer piece costs —
    * minimize (sum of costs, piece count, '|'-joined path), pieces up
    * to [[MaxPieceLen]] chars. Single-char coverage in `cost` keeps
    * dp total. Shared verbatim by the distributed E-step, the final
    * encode, and the spec's sequential reference.
    */
  def viterbi(word: String, cost: Map[String, Long]): Seq[String] = {
    val L = word.length
    // per position: (cost, npieces, path, pieces-reversed)
    val dp = new Array[(Long, Int, String, List[String])](L + 1)
    dp(0) = (0L, 0, "", Nil)
    var j = 1
    while (j <= L) {
      var best: (Long, Int, String, List[String]) = null
      var n = 1
      while (n <= math.min(MaxPieceLen, j)) {
        val prev = dp(j - n)
        if (prev != null) {
          val piece = word.substring(j - n, j)
          cost.get(piece).foreach { c =>
            val path =
              if (prev._3.isEmpty) piece else prev._3 + "|" + piece
            val cand = (prev._1 + c, prev._2 + 1, path, piece :: prev._4)
            if (best == null ||
                (cand._1 < best._1 || (cand._1 == best._1 &&
                  (cand._2 < best._2 || (cand._2 == best._2 &&
                    cand._3 < best._3)))))
              best = cand
          }
        }
        n += 1
      }
      dp(j) = best
      j += 1
    }
    dp(L)._4.reverse
  }

  /** Piece costs for a vocabulary snapshot: cost = log2F(T) -
    * log2F(freq), T = total frequency mass. Driver-side on the
    * parameter-sized vocab (the same exact grid as the Column form).
    */
  def costsOf(vocab: Seq[(String, Long)]): Map[String, Long] = {
    val t = vocab.iterator.map(_._2).sum
    val lt = IntLog.log2FixedRef(t)
    vocab.iterator
      .map { case (p, f) => p -> (lt - IntLog.log2FixedRef(f)) }.toMap
  }

  /** One distributed E-step: Viterbi-segment every distinct word under
    * `cost` and sum wcount per used piece. ONE job — broadcast map,
    * mapPartitions, map-combinable aggregate.
    */
  private def usageCounts(words: DataFrame,
      cost: Map[String, Long]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cost)
    words.select(col("word").cast("string"), col("wcount").cast("long"))
      .as[(String, Long)]
      .mapPartitions { it =>
        val c = bc.value
        // Zipfian word frequencies: memoize per distinct form (the
        // Bpe.tokenStats idiom) — here the frame IS distinct, so this
        // is just cheap insurance against future callers
        it.flatMap { case (w, wc) => viterbi(w, c).map(p => (p, wc)) }
      }
      .toDF("piece", "w")
      .groupBy("piece").agg(sum("w").as("usage"))
  }

  /** Run the full training loop; returns the final (piece, freq)
    * vocabulary, sorted by piece. Driver loop is bounded by
    * [[KeepSchedule]].size rounds; each round is one distributed job
    * plus a vocab-sized collect.
    */
  def train(spark: SparkSession, sfDir: String): Seq[(String, Long)] = {
    val w = graft.Caches.track(words(spark, sfDir))
    val seed = substringFreqs(w)
    val singles = seed.filter(length(col("piece")) === 1)
      .orderBy("piece").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val multis = seed.filter(length(col("piece")) >= 2)
      .orderBy(desc("freq"), asc("piece")).limit(SeedMultis).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val singleSet = singles.map(_._1).toSet
    var vocab: Seq[(String, Long)] = (singles ++ multis).sortBy(_._1)
    for (keep <- KeepSchedule) {
      val usage = usageCounts(w, costsOf(vocab)).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      // singles survive with a floor-1 frequency; multis re-rank by
      // usage and prune to the round's budget
      val nextSingles =
        singleSet.toSeq.sorted.map(p => (p, math.max(usage.getOrElse(p, 0L), 1L)))
      val nextMultis = usage.toSeq
        .filter { case (p, u) => p.length >= 2 && u > 0 }
        .sortBy { case (p, u) => (-u, p) }
        .take(keep)
      vocab = (nextSingles ++ nextMultis).sortBy(_._1)
    }
    vocab
  }

  /** t44 gate entry: the trained vocabulary itself — (piece, freq,
    * cost) on the exact integer grid, hash-gated against a generated
    * DuckDB CTE chain (TextQueries.unigramSql) that replays seed, every
    * EM round (fixed-point costs, Viterbi DP, usage re-count, prune),
    * and the final cost assignment. Hash-green proves the whole
    * learning fixed point equal on an independent engine — the t22
    * upgrade, applied to the unigram family.
    */
  def trainedVocab(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val vocab = train(spark, sfDir)
    val costs = costsOf(vocab)
    vocab.map { case (p, f) => (p, f, costs(p)) }
      .toDF("piece", "freq", "cost")
      .orderBy("piece")
  }

  /** t45 gate entry: Viterbi segmentation of every distinct word under
    * the final trained costs — (word, pos, piece), 1-based positions,
    * the t33 output shape. Same generated-oracle chain plus one more
    * DP round over the final vocabulary.
    */
  def encodeTable(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cost = costsOf(train(spark, sfDir))
    val bc = spark.sparkContext.broadcast(cost)
    words(spark, sfDir)
      .select(col("word").cast("string")).as[String]
      .mapPartitions { it =>
        val c = bc.value
        it.flatMap { w =>
          viterbi(w, c).zipWithIndex.map { case (p, i) => (w, i + 1, p) }
        }
      }
      .toDF("word", "pos", "piece")
      .orderBy("word", "pos")
  }
}
