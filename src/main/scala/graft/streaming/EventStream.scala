package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.operators.Relational

/** Structured Streaming over the events stream (SURVEY.md §2.9 / §2A A12).
  *
  * The reference's only streaming surface is the push-based Osmosis sink
  * (OrcWriter.java:242-272) — the initialize/process/complete lifecycle maps directly
  * onto readStream → transform → writeStream here. Beyond that parity we
  * add the standard streaming analytics a pipeline needs: watermarked
  * tumbling-window aggregation (late-data tolerant) and gap-based
  * sessionization via flatMapGroupsWithState.
  *
  * Scale: state is partitioned by group key across executors; watermarks
  * bound state size; `spark.sql.shuffle.partitions` sizes the state
  * store fan-out.
  */
/** mutable-session accumulator for sessionize (top-level: Spark codegen
  * needs a public constructor for the state encoder).
  */
case class SessionBuf(start: Long, end: Long, n: Int)

/** per-shard budget accumulator for tokenBudgetStream (top-level for the
  * state encoder): tokens admitted so far + whether the shard has hit
  * its first overflow (prefix semantics — once closed, closed forever).
  */
case class ShardBudget(used: Long, closed: Boolean)

object EventStream {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Int)

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** File-based stream over an events directory (parquet). */
  def fromFiles(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(EventSchema).parquet(dir)

  /** Continuous ORC ingestion — the Structured Streaming equivalent of
    * the reference's push-based Osmosis ORC sink (OrcWriter.java:242-272,
    * SURVEY §2A A12): exactly-once file sink with checkpointed offsets;
    * the reference's initialize/process/complete lifecycle becomes
    * start/processAllAvailable/stop.
    */
  def toOrcSink(stream: DataFrame, out: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .format("orc")
      .option("path", out)
      .option("checkpointLocation", checkpoint)
      .option("orc.block.padding", "false")
      .outputMode("append")
      .start()

  /** Watermarked tumbling-window counts; append-mode emits a window only
    * once the watermark passes its end (deterministic late-data policy).
    */
  def windowedCounts(events: DataFrame, windowLen: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"), col("n"), col("sum_value"))


  /** Streaming Benford first-digit monitor — q63's forensic audit as a
    * live data-quality gauge: per watermark-closed tumbling window, the
    * first-digit census of the event amounts (exact cents grid) plus
    * each digit's exact common-denominator deviation
    * n_obs·10⁶ − n_window·exp_ppm from the Benford constant table
    * ([[graft.operators.Relational.BenfordPpm]] — the ONE literal
    * shared with the batch gate). A window that suddenly swings
    * deviation-positive on low digits is the fabricated/misconverted
    * feed alarm, caught while the feed is still running.
    *
    * Shape: ONE stateful windowed aggregate (the 9 digit counts ride
    * the same row as conditional sums — no second stateful operator,
    * no stream-stream join), then a stateless unpivot against the
    * literal table. Append mode emits each window exactly once when
    * the watermark passes its end; state is one 10-column row per open
    * window.
    */
  def benfordStream(events: DataFrame, windowLen: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    import graft.operators.Relational.BenfordPpm
    val digits = events
      .withColumn("cents", round(col("value") * 100, 0).cast("bigint"))
      .filter(col("cents") >= 1)
      .withColumn("digit",
        substring(col("cents").cast("string"), 1, 1).cast("int"))
    val perWindow = digits
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(count(lit(1)).as("n"),
        BenfordPpm.map { case (d, _) =>
          sum(when(col("digit") === d, 1L).otherwise(0L)).as(s"d$d")
        }: _*)
    val unpivot = BenfordPpm.map { case (d, e) =>
      struct(lit(d).as("digit"), col(s"d$d").as("n_obs"),
        (col(s"d$d") * 1000000L - col("n") * e).as("dev"))
    }
    perWindow.select(col("window.start").as("window_start"),
        col("n").as("n_window"), explode(array(unpivot: _*)).as("x"))
      .select(col("window_start"), col("n_window"),
        col("x.digit").as("digit"), col("x.n_obs").as("n_obs"),
        col("x.dev").as("dev"))
  }

  /** Streaming correlation monitor — q64's Pearson audit as a live
    * per-window gauge over (spend cents, error indicator): one
    * stateful windowed aggregate carries ALL the moments (n, Σx, Σz,
    * Σxz, Σx², Σz²) as plain sums on one state row per open window,
    * then a stateless projection emits the exact covariance-numerator
    * sign and r² ppm per closed window — the q64 DECIMAL(38) two-step
    * floor verbatim. A window where spend suddenly correlates with
    * errors is the billing-bug alarm; per-window n keeps the reader
    * honest about sample size.
    */
  def corrStream(events: DataFrame, windowLen: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withColumn("x", round(col("value") * 100, 0).cast("bigint"))
      .withColumn("z",
        when(col("event_type") === "error", 1L).otherwise(0L))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("z")).as("sz"), sum(col("x") * col("z")).as("sxz"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("z") * col("z")).as("szz"))
      .select(Seq(col("window.start").as("window_start"), col("n")) ++
        Relational.pearsonTerms("sx", "sz", "sxz", "sxx", "szz"): _*)
      .select(Seq(col("window_start"), col("n")) ++ Relational.PearsonResult: _*)

  /** A document arriving on a stream (ingestion-time dedup input). */
  case class Doc(doc_id: Long, ts: Timestamp, text: String)

  /** Streaming exact-dedup: first occurrence of each content hash within
    * the watermark horizon passes, later copies are dropped, and the
    * per-hash state EXPIRES once the watermark moves past it —
    * `dropDuplicatesWithinWatermark` is what bounds the state (a plain
    * streaming dropDuplicates keeps every key forever). Ingestion-time
    * twin of the batch `Dedup.exact` pass — the state key is the RAW
    * 16-byte digest (`unhex(md5(...))`), half the footprint of the
    * 32-char hex string, partitioned across executors by hash.
    */
  def dedupDocStream(docs: Dataset[Doc], watermark: String = "1 hour"): DataFrame =
    docs.toDF()
      .withColumn("content_hash", unhex(md5(col("text").cast("binary"))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** xxhash64'd distinct 3-shingle ids of a text column — the stateless
    * per-row form of the batch hashed shingle build (same hash family,
    * same shingle construction via graft.functions.Text). Computed ONCE
    * per row and reused for both the empty-doc filter and the signature
    * (tokenize+shingle is the expensive per-row work on the ingestion
    * path).
    */
  def docSidsCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(
      array_distinct(graft.functions.Text.shingles(graft.functions.Text.toks(text))),
      s => abs(xxhash64(s)) % lit(graft.operators.Dedup.Prime))

  /** Per-doc 32-bit SimHash over [[docSidsCol]] — the STATELESS
    * projection form of the batch `Dedup.simHashBitsHashed` signature.
    * Shared with the spec's batch-parity recomputation so stream and
    * batch cannot drift.
    */
  def docSimhashCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.SigFunctions.simhashSig(docSidsCol(text), 32)

  /** A detected near-duplicate on the stream: `doc_id` arrived after
    * `match_id` and their fingerprints differ in <= maxHamming bits.
    */
  case class NearDup(doc_id: Long, match_id: Long, hamming: Int)

  private[streaming] case class SigRow(doc_id: Long, bucket: Int, sig: Long)

  /** per-bucket fingerprint state for [[nearDupDocStream]]. */
  case class BucketSigs(sigs: List[(Long, Long)])

  /** Streaming inverted-index maintenance — the incremental twin of the
    * batch `TextAnalysis.invertedIndex` statistics: per-term total
    * term frequency (exact — streaming `sum` state) and document
    * frequency (HLL approximate — exact `count_distinct` is unsupported
    * over unbounded streaming state, and at corpus scale the exact
    * per-term doc set IS the thing you refuse to keep in state; rsd
    * 0.01, the q22 discipline). Run in update mode (each micro-batch
    * emits the terms it touched with their new running totals) or
    * complete mode (full table per trigger — viable because state is
    * vocabulary-cardinality).
    *
    * At-least-once robustness: docs pass through a watermark-bounded
    * doc_id dedup BEFORE the explode, so a source redelivery within
    * `dedupWatermark` cannot double-count tf (HLL df is
    * insert-idempotent regardless). A replay arriving LATER than the
    * watermark horizon still double-counts — size the horizon to the
    * source's redelivery window; exact-forever would mean keeping every
    * doc_id in state, the corpus-cardinality cost this operator exists
    * to avoid.
    *
    * Scale shape: dedup state is (doc_id × horizon)-bounded; term state
    * is one row per distinct TERM (vocabulary-bounded, not
    * corpus-bounded) partitioned across executors; each batch shuffles
    * only its own term partials (map-side combined).
    */
  def termStatsStream(docs: Dataset[Doc],
      dedupWatermark: String = "1 hour"): DataFrame =
    docs.toDF()
      .withWatermark("ts", dedupWatermark)
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"),
        explode(graft.functions.Text.toks(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"),
        approx_count_distinct(col("doc_id"), 0.01).as("df_approx"))

  /** Streaming count-min — [[graft.operators.TextAnalysis
    * .countMinSketch]]'s ingest-time twin, and deliberately the SAME
    * plan (the q35 pattern: one definition, so batch and stream
    * cannot drift): the sketch cells accumulate as documents arrive,
    * in the smallest state footprint of the streaming family — at
    * most depth×width counter cells TOTAL, a fixed constant
    * independent of corpus, vocabulary, and stream length (even
    * [[tokenBudgetStream]]'s state grows with `shards`). At-least-once
    * sources should front a watermark dedup as in [[termStatsStream]];
    * at end-of-stream the complete-mode output equals the batch sketch
    * cell-for-cell (spec-asserted).
    */
  def countMinStream(docs: Dataset[Doc], depth: Int = 4,
      width: Int = 256): DataFrame =
    graft.operators.TextAnalysis.countMinSketch(docs.toDF(), depth, width)

  /** Streaming HyperLogLog registers —
    * [[graft.operators.Relational.hllRegisters]]'s ingest-time twin
    * (the q38 sketch), SAME plan by the q35/t25 one-definition rule.
    * State is at most languages × 16 register rows — like the
    * count-min cells, a constant independent of corpus and stream
    * length, and the smallest possible cardinality-tracking state.
    * Unlike every other streaming twin it needs NO watermark dedup
    * even on an at-least-once source: the HLL insert is idempotent
    * (a redelivered document maxes the same rank into the same
    * register), so end-of-stream complete-mode output equals the
    * batch registers cell-for-cell even WITH duplicate deliveries
    * (spec-asserted both ways).
    */
  def hllRegisterStream(docs: Dataset[LangDoc]): DataFrame =
    graft.operators.Relational.hllRegisters(docs.toDF())

  /** Streaming distinct-user bitmap registers —
    * [[graft.operators.Relational.bitmapOverlap]]'s (q51) ingest-time
    * twin by the one-definition rule: the SAME packed-lane build
    * ([[graft.operators.Relational.typeUserBitmaps]]) over the live
    * event stream. State is one BIGINT word per (event_type, 32
    * users) — audience-cardinality/32 rows, never event-count — and
    * the bit_or insert is IDEMPOTENT like [[hllRegisterStream]]'s
    * max, so an at-least-once source needs NO dedup state: a
    * redelivered event ORs the same bit into the same word
    * (spec-proven by redelivering half the stream). End-of-stream
    * complete-mode output equals the batch bitmaps bit-for-bit, so
    * pairwise AND + popcount over the emitted words yields exactly
    * the overlap table q51 gates — EXACT distinct intersections from
    * sketch-sized state, where the q38 twin gives approximations.
    */
  def bitmapRegisterStream(events: DataFrame): DataFrame =
    graft.operators.Relational.typeUserBitmaps(
      events.select(col("event_type"), col("user_id")))

  /** Streaming per-user running aggregates —
    * [[graft.operators.Relational.incrementalAgg]]'s (q43)
    * ingest-time twin, SAME plan by the q35/t25 one-definition rule
    * ([[graft.operators.Relational.userCentAggregates]]). The state
    * store maintains one (n, sum, min, max) row per user — count/sum/
    * min/max are exactly the streamable commutative monoids whose
    * merge law q43's gate proves against a full recompute, so
    * end-of-stream complete-mode output equals the batch aggregate
    * row-for-row (spec-asserted). State is user-cardinality — the
    * dimension-table constant of this family, not corpus-length.
    * At-least-once sources should front a watermark dedup on
    * event_id as in [[termStatsStream]] (sums are NOT idempotent,
    * unlike [[hllRegisterStream]]'s registers).
    */
  def runningAggStream(events: DataFrame): DataFrame =
    graft.operators.Relational.userCentAggregates(
      events.select(col("user_id"),
        round(col("value") * 100, 0).cast("bigint").as("c")))

  /** A document on the crawl stream carrying its language — the d19
    * diff keys on (lang, content hash), so the streaming twin needs
    * lang on the row (the batch `documents` table has it).
    */
  case class LangDoc(doc_id: Long, ts: Timestamp, lang: String, text: String)

  /** Streaming crawl-vs-history corpus diff — [[graft.operators.Dedup
    * .corpusDiffFrames]]'s ingest-time twin, completing the stream
    * family's detect/scrub/diff symmetry: as the new crawl arrives,
    * per-language running counts of distinct contents ADDED (not in
    * the history snapshot), RETAINED (re-crawled), and REMOVED
    * (history contents the stream has not yet re-crawled). Membership
    * is by 16-byte content hash (the d01 discipline); `history` is a
    * STATIC (lang, text) frame — the previous crawl's snapshot.
    *
    * Semantics: `n_removed` for a language monotonically DECREASES
    * toward the batch value as retained contents arrive — at
    * end-of-stream the three counts equal corpusDiffFrames(history,
    * stream-contents) exactly (spec-asserted). A language with NO row
    * on the stream never emits: its whole history is "removed", and
    * that fact needs no state — it is the static per-lang count.
    *
    * At-least-once robustness: arriving contents pass a
    * watermark-bounded (lang, hash) dedup, so a redelivery (or a
    * genuine re-crawl of the same bytes) within `dedupWatermark`
    * cannot double-count; the same horizon bounds the dedup state
    * (the termStatsStream trade — size it to the source's redelivery
    * window).
    *
    * Scale shape: the membership probe is a stream-static equi-join
    * on (lang, hash) — per-micro-batch work proportional to the BATCH,
    * not the corpus, and Catalyst picks broadcast vs shuffle from the
    * history's size (don't force broadcast: a 100 TB history's hash
    * set does not fit one executor; the d12 bloom prefilter composes
    * in front when the history is huge). Counter state is
    * lang-cardinality; per-lang static totals ride each row from a
    * broadcast-sized (lang, count) join.
    */
  def corpusDiffStream(docs: Dataset[LangDoc], history: DataFrame,
      dedupWatermark: String = "1 hour"): DataFrame = {
    val histKeys = history
      .select(col("lang"), unhex(md5(col("text").cast("binary"))).as("h"))
      .distinct()
    val histCounts = histKeys.groupBy(col("lang"))
      .agg(count(lit(1)).as("hist_n"))
    docs.toDF()
      .select(col("lang"), col("ts"),
        unhex(md5(col("text").cast("binary"))).as("h"))
      .withWatermark("ts", dedupWatermark)
      .dropDuplicatesWithinWatermark("lang", "h")
      .join(histKeys.withColumn("in_hist", lit(1)), Seq("lang", "h"), "left")
      .join(broadcast(histCounts), Seq("lang"), "left")
      .groupBy(col("lang"))
      .agg(
        sum(when(col("in_hist").isNull, 1L).otherwise(0L)).as("n_added"),
        (first(coalesce(col("hist_n"), lit(0L))) -
          sum(when(col("in_hist").isNotNull, 1L).otherwise(0L))).as("n_removed"),
        sum(when(col("in_hist").isNotNull, 1L).otherwise(0L)).as("n_retained"))
  }

  /** Streaming NEAR-dup detection — the ingestion-time twin of the batch
    * banded-hamming pass (`Dedup.simHashPairsHashed`): each arriving
    * document's 32-bit simhash is computed statelessly ([[docSimhashCol]]),
    * probed in BOTH 16-bit bands (hi = bits 16-31, lo = bits 0-15 — the
    * same two-band union the batch pass uses; single-band bucketing
    * provably misses a pair whose differing bits all fall in the other
    * band), and compared via `bit_count(xor)` against the fingerprints
    * previously seen in each band bucket (`flatMapGroupsWithState`, one
    * state entry per band bucket). Emits (later doc, earlier match,
    * hamming) pairs in append mode, EXACTLY ONCE per pair (in the
    * default unbounded-state configuration): a pair whose hi bands
    * match is emitted only by the hi-band group (the lo-band group
    * detects hi-band equality from the stored full fingerprints and
    * stays silent).
    *
    * Replay-idempotent (same caveat): a doc_id already present in the
    * bucket's state (at-least-once source redelivery) is skipped
    * entirely — no self pair, no duplicate state entry, no re-emission.
    * The guard is an O(1) set probe, not a list scan.
    *
    * Docs with no 3-shingle (< 3 tokens) are filtered — exactly the
    * docs absent from the batch signature build.
    *
    * Scale notes: state partitions by band bucket across executors
    * (2 × 2^16 buckets at 16 band bits — raise band bits with corpus
    * size, same sizing rule as the batch hot-bucket cap); within a
    * micro-batch docs process in doc_id order so the earlier/later
    * orientation is deterministic.
    *
    * `maxBucketSize` (OPT-IN memory backstop, default unbounded):
    * a finite cap keeps only each bucket's newest fingerprints. The
    * two band groups evict INDEPENDENTLY, so a finite cap weakens two
    * guarantees at once — (a) recall: a new doc is compared against at
    * most maxBucketSize retained fingerprints, and a pair whose
    * hi-band entry was evicted is missed even if the lo-band entry
    * survives (the lo group's emit-once rule cannot know the hi bucket
    * evicted — it still defers); (b) replay idempotency: a doc evicted
    * and then REDELIVERED is treated as new and can RE-EMIT pairs
    * against the retained fingerprints (duplicates, with flipped
    * orientation). Absent redelivery no configuration double-emits,
    * and nothing is ever emitted that isn't a true near-pair.
    * Production guidance: raise band bits (more, smaller buckets)
    * before capping; use the cap as the last-resort bound, sized well
    * past the source's redelivery window.
    */
  def nearDupDocStream(docs: Dataset[Doc], maxHamming: Int = 3,
      maxBucketSize: Int = Int.MaxValue): Dataset[NearDup] = {
    import docs.sparkSession.implicits._
    val hi = shiftright(col("sig"), 16).cast("int")
    val lo = (col("sig") % 65536).cast("int")
    val keyed = docs.toDF()
      .withColumn("sids", docSidsCol(col("text")))
      .filter(size(col("sids")) > 0)
      .withColumn("sig", graft.functions.SigFunctions.simhashSig(col("sids"), 32))
      .select(col("doc_id"),
        explode(array(hi, lo + lit(65536))).as("bucket"), col("sig"))
      .as[SigRow]
    keyed.groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketSigs, NearDup](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (bucket: Int, it: Iterator[SigRow], state: GroupState[BucketSigs]) =>
          val loBand = bucket >= 65536
          var seen = state.getOption.map(_.sigs).getOrElse(Nil)
          // O(1) replay guard: ids as a hash set (built once per
          // group-invocation; the list alone made each arrival an O(n)
          // scan — quadratic on a hot bucket)
          val ids = scala.collection.mutable.HashSet.empty[Long]
          seen.foreach(s => ids += s._1)
          val out = scala.collection.mutable.ArrayBuffer.empty[NearDup]
          for (d <- it.toSeq.sortBy(_.doc_id)) {
            if (ids.add(d.doc_id)) { // replay guard
              for ((oid, osig) <- seen) {
                val h = java.lang.Long.bitCount(osig ^ d.sig)
                // lo-band group defers to the hi-band group whenever the
                // hi bands also match (emit-once rule)
                val hiAlso = (osig >>> 16) == (d.sig >>> 16)
                if (h <= maxHamming && !(loBand && hiAlso))
                  out += NearDup(d.doc_id, oid, h)
              }
              seen = (d.doc_id, d.sig) :: seen
            }
          }
          // newest-first list → take keeps the newest maxBucketSize
          state.update(BucketSigs(seen.take(maxBucketSize)))
          out.iterator
      }
  }

  /** Watermarked stream-stream interval join — the attribution shape
    * (which `typeB` conversion follows a `typeA` touch by the same user
    * within `maxDelayMin`): the streaming twin of the batch
    * `Relational.rangeJoin`/`asofJoin` family. Both sides carry their
    * own event-time watermark, and the join condition bounds `b_ts`
    * inside [a_ts, a_ts + maxDelay], so Spark can prove when either
    * side's buffered rows can never match again and EVICT them — an
    * interval condition without both watermarks would buffer the
    * streams forever (state grows with the corpus, the thing a 100 TB
    * ingestion pipeline cannot do). Inner join in append mode: a pair
    * emits once both events have arrived, exactly once.
    *
    * The same plan runs UNCHANGED in batch (`withWatermark` is a
    * documented no-op there) — the parity spec leans on exactly that.
    *
    * Scale shape: state partitions by user_id across executors; per-key
    * buffered rows are bounded by maxDelay + watermark slack, not by
    * stream length.
    */
  def intervalJoinStream(events: DataFrame, typeA: String = "view",
      typeB: String = "purchase", maxDelayMin: Int = 10,
      watermark: String = "30 minutes"): DataFrame = {
    val a = events.filter(col("event_type") === typeA)
      .select(col("event_id").as("a_id"), col("user_id"),
        col("ts").as("a_ts"), col("value").as("a_value"))
      .withWatermark("a_ts", watermark)
    val b = events.filter(col("event_type") === typeB)
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("ts").as("b_ts"), col("value").as("b_value"))
      .withWatermark("b_ts", watermark)
    a.join(b,
        col("user_id") === col("b_user") &&
          col("b_ts") >= col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr(s"INTERVAL $maxDelayMin MINUTES"))
      .select(col("user_id"), col("a_id"), col("b_id"),
        col("a_ts"), col("b_ts"), col("a_value"), col("b_value"))
  }

  /** Multi-hop CEP chains on streams — q49's one-definition twin: two
    * CHAINED watermarked stream-stream interval joins (view → click
    * within the gap, then → purchase within the gap), each hop's
    * condition bounding the later timestamp inside (prev, prev + gap]
    * so Spark's multi-stateful-operator planner can evict both joins'
    * buffers from the propagated watermark. Emits one append-mode row
    * per qualifying chain, exactly once — the streaming semantics of
    * "all matches" CEP (greedy/skip-past variants need
    * flatMapGroupsWithState; this operator is the join-expressible
    * core). Strict `>` per hop: equal timestamps never chain, the
    * q49 tie rule.
    *
    * The same plan runs UNCHANGED in batch (`withWatermark` is a
    * no-op), where grouping the emitted chains per user reproduces
    * q49's aggregate exactly — spec-proven, so the batch gate
    * transitively gates this plan.
    *
    * Scale shape: both joins' state partitions by user_id; per-key
    * buffers are bounded by gap + watermark slack per hop, never by
    * stream length.
    */
  def gapChainStream(events: DataFrame, gapMin: Int = 360,
      watermark: String = "30 minutes"): DataFrame = {
    def step(t: String, p: String): DataFrame =
      events.filter(col("event_type") === t)
        .select(col("event_id").as(s"${p}_id"),
          col("user_id").as(s"${p}_user"), col("ts").as(s"${p}_ts"))
        .withWatermark(s"${p}_ts", watermark)
    // after hop 1, v_ts demotes to plain integer micros (unix_micros
    // strips the event-time tag) so the second join sees exactly ONE
    // event-time column per side — the multi-stateful-operator
    // planner's requirement; c_ts stays the stream's event time
    step("view", "v")
      .join(step("click", "c"),
        col("v_user") === col("c_user") &&
          col("c_ts") > col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr(s"INTERVAL $gapMin MINUTES"))
      .select(col("v_user").as("user_id"), col("v_id"),
        unix_micros(col("v_ts")).as("v_us"), col("c_id"), col("c_ts"))
      .join(step("purchase", "p"),
        col("user_id") === col("p_user") &&
          col("p_ts") > col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr(s"INTERVAL $gapMin MINUTES"))
      .select(col("user_id"), col("v_id"), col("c_id"), col("p_id"),
        col("v_us"), unix_micros(col("p_ts")).as("p_us"))
  }

  /** The interval join's LEFT-OUTER complement — unattributed
    * touches: `typeA` events with NO `typeB` conversion by the same
    * user within `maxDelayMin` (the "views that never purchased"
    * funnel-loss slice). A left-outer stream-stream join under the
    * same double watermark lets Spark emit a null-augmented row the
    * moment the watermark proves no matching `typeB` can still
    * arrive — the row is emitted ONCE, exactly when its absence
    * becomes a fact, which is the only correct streaming semantics
    * for "no match" (an inner join can never say it, and an
    * unwatermarked outer join could never emit it). The stateless
    * null filter then keeps only the proven-unmatched rows.
    *
    * The same plan runs UNCHANGED in batch, where left-outer +
    * null-filter is exactly NOT EXISTS over the interval — the
    * oracle-gated q36 twin.
    *
    * Scale shape: identical to [[intervalJoinStream]] — state is
    * bounded by maxDelay + watermark slack per side, and the outer
    * emission adds no state of its own (eviction time was already
    * being tracked).
    */
  def unattributedStream(events: DataFrame, typeA: String = "view",
      typeB: String = "purchase", maxDelayMin: Int = 10,
      watermark: String = "30 minutes"): DataFrame = {
    val a = events.filter(col("event_type") === typeA)
      .select(col("event_id").as("a_id"), col("user_id"),
        col("ts").as("a_ts"), col("value").as("a_value"))
      .withWatermark("a_ts", watermark)
    val b = events.filter(col("event_type") === typeB)
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("ts").as("b_ts"))
      .withWatermark("b_ts", watermark)
    a.join(b,
        col("user_id") === col("b_user") &&
          col("b_ts") >= col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr(s"INTERVAL $maxDelayMin MINUTES"),
        "left_outer")
      .filter(col("b_id").isNull)
      .select(col("user_id"), col("a_id"), col("a_ts"), col("a_value"))
  }

  /** A doc admitted by [[tokenBudgetStream]]: its shard, token count,
    * and the shard's running total AFTER admission.
    */
  case class Admitted(shard: Int, doc_id: Long, n_tokens: Long, cum_tokens: Long)

  /** Streaming token-budget admission — the p03 gatekeeper at INGEST
    * time: each arriving doc hashes to a content shard
    * (`Sampling.hashBucket`, EXACTLY the batch packers' sharding), and
    * the shard admits docs while its running token total stays within
    * `perShardTokens`; the first overflow CLOSES the shard permanently
    * (prefix semantics — identical to the batch `cum <= budget` filter,
    * where no later doc can have a smaller running sum). The crawl-tap
    * pattern: stop consuming a source the moment its budget is spent,
    * without a batch pass over data you then throw away.
    *
    * Arrival order replaces p03's content-hash order — a stream cannot
    * sort the future; within a micro-batch, docs apply in doc_id order
    * so replays of the same batch boundaries are deterministic (the
    * parity spec's batch twin is the same cumulative sum in doc_id
    * order). State per shard is ONE (long, bool) — shards-cardinality,
    * never corpus-cardinality, so no timeout/eviction is ever needed:
    * the smallest stateful footprint in the streaming family.
    */
  def tokenBudgetStream(docs: Dataset[Doc], shards: Int = 8,
      perShardTokens: Long = 2000): Dataset[Admitted] = {
    import docs.sparkSession.implicits._
    val enriched = docs.toDF()
      .withColumn("shard",
        (graft.operators.Sampling.hashBucket(col("text")) % shards).cast("int"))
      .withColumn("n_tokens", graft.functions.Text.tokenCount(col("text")).cast("bigint"))
      .filter(col("n_tokens") > 0)
      .select(col("shard").as[Int], col("doc_id").as[Long], col("n_tokens").as[Long])
    enriched.groupByKey(_._1)
      .flatMapGroupsWithState[ShardBudget, Admitted](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Int, it: Iterator[(Int, Long, Long)], state: GroupState[ShardBudget]) =>
          var s = state.getOption.getOrElse(ShardBudget(0L, false))
          val out = scala.collection.mutable.ArrayBuffer.empty[Admitted]
          for ((_, docId, n) <- it.toSeq.sortBy(_._2) if !s.closed) {
            if (s.used + n <= perShardTokens) {
              s = s.copy(used = s.used + n)
              out += Admitted(shard, docId, n, s.used)
            } else s = s.copy(closed = true)
          }
          state.update(s)
          out.iterator
      }
  }

  /** Gap-based sessionization: a session closes when the next event for
    * the user arrives more than `gapMs` later (or the state times out).
    * Emits closed sessions (append semantics).
    */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuf, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionBuf]) =>
          if (it.isEmpty && state.hasTimedOut) {
            // watermark passed: close the pending session
            val out = state.getOption.map(s =>
              Session(userId, new Timestamp(s.start), new Timestamp(s.end), s.n))
            state.remove()
            out.iterator
          } else {
            val sorted = it.toSeq.sortBy(_.ts.getTime)
            val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
            var cur = state.getOption
            for (e <- sorted) {
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(s.copy(end = math.max(s.end, t), n = s.n + 1))
                case Some(s) =>
                  closed += Session(userId, new Timestamp(s.start), new Timestamp(s.end), s.n)
                  cur = Some(SessionBuf(t, t, 1))
                case None =>
                  cur = Some(SessionBuf(t, t, 1))
              }
            }
            cur.foreach { s =>
              // A group fed only late events can have end+gap already at
              // or behind the watermark — setTimeoutTimestamp would throw
              // (timeout must exceed the watermark) and abort the query.
              // Such a session's gap has provably elapsed: close it now.
              if (s.end + gapMs <= state.getCurrentWatermarkMs()) {
                closed += Session(userId, new Timestamp(s.start), new Timestamp(s.end), s.n)
                if (state.exists) state.remove()
              } else {
                state.update(s)
                state.setTimeoutTimestamp(s.end + gapMs)
              }
            }
            closed.iterator
          }
      }
  }

  /** Latest-wins changelog carry: the winning op's (us, event_id) key
    * plus its op and value — four fields per user, unconditionally
    * bounded.
    */
  case class UpsertState(us: Long, event_id: Long, op: String, cents: Long)

  /** The q53 row shape plus `live` (tombstones survive as live=false —
    * the same tombstone-outlives-the-snapshot rule the batch twin
    * keeps; readers filter at the edge).
    */
  case class UpsertRow(user_id: Long, last_event_id: Long, last_us: Long,
      value_cents: Long, live: Boolean)

  /** Streaming SCD1 upsert — [[graft.operators.Relational
    * .mergeUpsert]]'s ingest-time twin (the one-definition rule: both
    * read [[graft.operators.Relational.changelog]]): per user, keep
    * the op with the greatest (us, event_id) and expose the live
    * state. Latest-wins is an order-free, idempotent max — arrival
    * order across micro-batches doesn't matter and a redelivered
    * event cannot change the winner, so NO dedup state and no
    * watermark are needed (the q38 HLL-insert property, on keyed
    * state). State is four fields per user.
    */
  def upsertStream(events: DataFrame): Dataset[UpsertRow] = {
    import events.sparkSession.implicits._
    graft.operators.Relational.changelog(events)
      .as[(Long, Long, Long, String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[UpsertState, UpsertRow](GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, Long, String, Long)],
            state: GroupState[UpsertState]) =>
          var st = state.getOption.orNull
          it.foreach { case (_, eid, us, op, cents) =>
            if (st == null || us > st.us || (us == st.us && eid > st.event_id))
              st = UpsertState(us, eid, op, cents)
          }
          state.update(st)
          UpsertRow(uid, st.event_id, st.us, st.cents, st.op == "U")
      }
  }

  /** Per-user EWMA carry for [[ewmaStream]]: the (us, event_id) key of
    * the newest processed event plus the ≤ 8 most recent cents,
    * newest first — ten numbers per user, unconditionally bounded.
    */
  case class EwmaState(us: Long, event_id: Long, ring: Seq[Long])

  /** The q65 row shape. */
  case class EwmaOut(user_id: Long, event_id: Long, cents: Long,
    ewma_cents: Long)

  /** Streaming truncated EWMA —
    * [[graft.operators.Relational.ewmaSmooth]]'s (q65) ingest-time
    * twin: the 8-lag α = 1/4 smoother is FINITE-window by design, so
    * its streaming state is just a ring of the last 8 cents per user
    * (the reason q65 truncates instead of carrying the recursive
    * form). Each arriving event pushes onto the ring and emits its
    * smoothed value over the SAME exact integer weights
    * ([[graft.operators.Relational.EwmaW]]) with the same
    * available-mass renormalization — row-for-row equal to the batch
    * table on the same events.
    *
    * Order contract: in-batch events process in (us, event_id) order;
    * across batches the source must deliver each user's events in
    * order (the cusum/transition/island twins' documented contract).
    * A stale redelivery — (us, event_id) at or behind the newest
    * processed — is dropped in-function, so replays cannot double-push
    * the ring.
    */
  def ewmaStream(events: DataFrame): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    import graft.operators.Relational.EwmaW
    events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        round(col("value") * 100, 0).cast("bigint").as("cents"))
      // mirrors the batch table's in-plan cents >= 0 filter: Scala /
      // truncates toward zero while the oracle's // floors, so a
      // negative dot product would fork the twins (advisor r12)
      .filter(col("cents") >= 0)
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, Long, Long)],
            state: GroupState[EwmaState]) =>
          var st = state.getOption.getOrElse(
            EwmaState(Long.MinValue, Long.MinValue, Nil))
          val out = Vector.newBuilder[EwmaOut]
          it.toSeq.sortBy(e => (e._3, e._2)).foreach {
            case (_, eid, us, cents) =>
              val fresh =
                us > st.us || (us == st.us && eid > st.event_id)
              if (fresh) {
                val ring = (cents +: st.ring).take(EwmaW.length)
                val dot = ring.zip(EwmaW).map { case (c, w) => w * c }.sum
                val wsum = EwmaW.take(ring.length).sum
                out += EwmaOut(uid, eid, cents, dot / wsum)
                st = EwmaState(us, eid, ring)
              }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Per-group carry for [[topNStream]]: redelivery marker + a monotone
    * snapshot counter + the bounded top-n heap as (cents, event_id)
    * pairs ordered (cents DESC, event_id ASC) — at most n + 3 numbers
    * per group, unconditionally bounded.
    */
  case class TopNState(us: Long, event_id: Long, seq: Long,
    heap: Seq[(Long, Long)])

  /** One [[topNStream]] snapshot row: the rank-`rank` event of group
    * `event_type` as of snapshot `seq` (a per-group monotone counter —
    * the newest seq is the current leaderboard; older seqs are its
    * append-mode history).
    */
  case class TopNOut(event_type: String, seq: Long, rank: Int,
    event_id: Long, cents: Long)

  /** Streaming top-n per group — the q13/q32 ranked-window family's
    * ingest-time twin: per event type, the n largest single-event
    * amounts seen so far on the exact cents grid, maintained as an
    * IN-STATE BOUNDED HEAP (a sorted n-list — top-n of a set is
    * order-free, so the fold needs no retraction and append mode
    * works: each batch that brings fresh events appends a full
    * leaderboard SNAPSHOT tagged with a monotone per-group `seq`;
    * the max-seq rows are the current top-n, identical to the batch
    * rank-window over the same events). Tie-break (cents DESC,
    * event_id ASC) — the deterministic total order every ranked gate
    * uses.
    *
    * Order/redelivery contract (the ewma/cusum twins' documented
    * contract): in-batch events fold in (us, event_id) order; a stale
    * redelivery — (us, event_id) at or behind the newest processed —
    * is dropped in-function, so replays cannot re-insert.
    *
    * Scale shape: state is n + 3 numbers per GROUP (event types — a
    * bounded dimension), emission ≤ n rows per group per batch; the
    * per-batch fold is |batch| log n local work after one group
    * shuffle — the flatMapGroupsWithState envelope every twin uses.
    */
  def topNStream(events: DataFrame, n: Int = 3): Dataset[TopNOut] = {
    import events.sparkSession.implicits._
    require(n >= 1, s"need n >= 1, got $n")
    events
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        round(col("value") * 100, 0).cast("bigint").as("cents"))
      .as[(String, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TopNState, TopNOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (grp: String, it: Iterator[(String, Long, Long, Long)],
            state: GroupState[TopNState]) =>
          var st = state.getOption.getOrElse(
            TopNState(Long.MinValue, Long.MinValue, 0L, Nil))
          var heap = st.heap
          var (nus, nid) = (st.us, st.event_id)
          var fresh = false
          it.toSeq.sortBy(e => (e._3, e._2)).foreach {
            case (_, eid, us, cents) =>
              if (us > nus || (us == nus && eid > nid)) {
                nus = us; nid = eid; fresh = true
                heap = ((cents, eid) +: heap)
                  .sortBy { case (c, e) => (-c, e) }.take(n)
              }
          }
          if (!fresh) { state.update(st); Iterator.empty }
          else {
            st = TopNState(nus, nid, st.seq + 1, heap)
            state.update(st)
            heap.zipWithIndex.iterator.map { case ((c, e), i) =>
              TopNOut(grp, st.seq, i + 1, e, c)
            }
          }
      }
  }

  /** Per-user last-event carry for [[transitionStream]]: the (us,
    * event_id) key of the newest event seen plus its type — three
    * fields per user, unconditionally bounded.
    */
  case class LastEvent(us: Long, event_id: Long, tpe: String)

  /** Per-user OPEN island for [[islandStream]]: id counter + the
    * [start, end] hull + member count — four longs per user,
    * unconditionally bounded.
    */
  case class IslandState(islandId: Long, start: Long, end: Long, n: Long)

  /** The q60 row shape (append semantics — an island emits exactly
    * once, when a later interval closes it or the watermark passes
    * its hull end).
    */
  case class IslandOut(user_id: Long, island_id: Long, start_us: Long,
    end_us: Long, n_events: Long, span_us: Long)

  /** Streaming interval islands —
    * [[graft.operators.Relational.intervalIslands]]'s (q60)
    * ingest-time twin and the DYNAMIC session window structured
    * streaming's fixed-gap sessions can't express: each event opens a
    * type-duration interval; the per-user open island extends while
    * intervals overlap (touching merges, the batch rule) and EMITS
    * when an interval opens strictly after the island's hull closes
    * OR when the watermark passes the hull's close (event-time
    * timeout). The timeout rule is SEMANTICALLY exact, not a lossy
    * eviction: an island merges only events whose interval STARTS at
    * or before its hull end, and once the watermark exceeds that end
    * every later on-time event starts strictly after it — i.e. the
    * island is provably final. Late events behind the watermark are
    * dropped by the engine (FlatMapGroupsWithStateExec's event-time
    * late-row filter), so a stale redelivery cannot mutate or
    * duplicate an emitted island. The twin therefore converges to the
    * WHOLE q60 batch table — open finals included — once the
    * watermark drains, exactly-once per island; spec-proven across an
    * arrival split with a redelivery.
    *
    * Order contract: in-batch events process in (start, event_id)
    * order; across batches the source must deliver each user's
    * on-time events in order (the cusum/transition twins' documented
    * contract; sub-watermark redelivery is exempt — the engine drops
    * it). State is four longs per user and CANNOT be evicted on
    * timeout: the island id is the user's lifetime island counter
    * (batch numbers islands 1..k per user), so a timed-out island
    * flips its state to an already-emitted sentinel (n = 0) that
    * preserves the counter for the user's next island — the same
    * all-time-user bound the pre-timeout twin had, now with full
    * batch-table convergence.
    */
  def islandStream(events: DataFrame,
      watermark: String = "30 minutes"): Dataset[IslandOut] = {
    import events.sparkSession.implicits._
    val minUs = 60L * 1000000
    val dur = expr(
      "CASE event_type WHEN 'view' THEN 5 WHEN 'click' THEN 10 " +
        "WHEN 'purchase' THEN 30 WHEN 'signup' THEN 15 ELSE 1 END")
    events
      // ts rides along: EventTimeTimeout requires the watermark-tagged
      // column in the stateful operator's child output
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("s"),
        (unix_micros(col("ts")) + dur * minUs).as("e"))
      .withWatermark("ts", watermark)
      .as[(Long, Long, java.sql.Timestamp, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[IslandState, IslandOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (u: Long, it: Iterator[(Long, Long, java.sql.Timestamp, Long, Long)],
            state: GroupState[IslandState]) =>
          def closed(st: IslandState) =
            IslandOut(u, st.islandId, st.start, st.end, st.n,
              st.end - st.start)
          if (!it.hasNext && state.hasTimedOut) {
            // watermark passed the hull end: the open island is final.
            // Keep the id counter (n = 0 marks "already emitted") so
            // the user's NEXT island numbers islandId + 1, matching
            // the batch table's per-user lifetime numbering.
            val out = state.getOption.filter(_.n > 0L).map(closed)
            state.getOption.foreach(st => state.update(st.copy(n = 0L)))
            out.iterator
          } else {
            // drop sub-watermark rows OURSELVES (the ts attribute is
            // projected away before groupByKey, so the engine's own
            // late-row filter may not see it): the documented contract
            // is that a stale redelivery behind the watermark is
            // invisible — it must not reopen or renumber an island
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val sorted =
              it.toSeq.filter(_._4 >= wmUs).sortBy(x => (x._4, x._2))
            val out = scala.collection.mutable.ArrayBuffer.empty[IslandOut]
            // an n = 0 sentinel is a PAST island: only its id survives
            var st = state.getOption.filter(_.n > 0L).orNull
            val lastId = state.getOption.map(_.islandId).getOrElse(0L)
            for ((_, _, _, s, e) <- sorted) {
              if (st == null) st = IslandState(lastId + 1L, s, e, 1L)
              else if (s <= st.end)
                st = st.copy(end = math.max(st.end, e), n = st.n + 1)
              else {
                out += closed(st)
                st = IslandState(st.islandId + 1, s, e, 1L)
              }
            }
            if (st != null) {
              // finalize when the watermark passes the hull end; ceil
              // micros onto the engine's ms grid so "timeout fired"
              // (wm > endMs) implies wm exceeds the exact end_us too
              val endMs = st.end / 1000 + 1
              if (endMs <= state.getCurrentWatermarkMs()) {
                // already provably final (e.g. a group fed only rows at
                // the watermark edge) — setTimeoutTimestamp would throw
                out += closed(st)
                state.update(st.copy(n = 0L))
              } else {
                state.update(st)
                state.setTimeoutTimestamp(endMs)
              }
            }
            out.iterator
          }
      }
  }

  /** One observed transition (append semantics — each consecutive
    * pair emits exactly once).
    */
  case class Transition(prev_type: String, next_type: String)

  /** Streaming event-transition counts — [[graft.operators.Relational
    * .eventTransitions]]'s ingest-time twin: per user, each arriving
    * event pairs with the last event seen (the lag-window's job,
    * carried as three fields of state), the pair rows APPEND out of
    * flatMapGroupsWithState, and a downstream streaming count keyed
    * (prev_type, next_type) maintains the matrix incrementally. The
    * q57 ppm column re-derives from the counts at read time (a ratio
    * is not a streamable monoid; the counts are).
    *
    * Order contract (the cusumStream trade): within a micro-batch,
    * events sort by event time; across batches the source must
    * deliver each user's events in order — a transition is
    * order-DEFINED, there is no order-free spelling.
    */
  def transitionStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[(Long, Long, Long, String)],
            state: GroupState[LastEvent]) =>
          val sorted = it.toSeq.sortBy(e => (e._3, e._2))
          val out = scala.collection.mutable.ArrayBuffer.empty[Transition]
          var last = state.getOption.orNull
          for ((_, eid, us, tpe) <- sorted) {
            if (last != null) out += Transition(last.tpe, tpe)
            last = LastEvent(us, eid, tpe)
          }
          if (last != null) state.update(last)
          out.iterator
      }
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-user CUSUM carry: event count, current statistic, running
    * max, first alarm index (-1 = none yet).
    */
  case class CusumState(n: Long, s: Long, maxS: Long, alarmIdx: Long)

  /** The q50 row shape, emitted per user per micro-batch (Update). */
  case class CusumChart(user_id: Long, n_events: Long, max_cusum: Long,
      alarm_idx: Option[Int])

  /** Streaming CUSUM monitor — [[graft.operators.Relational
    * .cusumChart]]'s ingest-time twin (the ONE-definition rule: the
    * literal textbook recursion here, the window identity there —
    * parity spec-proven): per user, S advances by max(0, S + (cents −
    * μ)) per event, with the first threshold crossing latched as the
    * alarm. This is CUSUM's native habitat — Page designed it as a
    * sequential monitor; μ is the FIXED reference level (in
    * production, estimated on a calibration window; the batch twin's
    * floor'd global mean reproduces the gate).
    *
    * Order contract: events within a micro-batch process in event-time
    * order; across batches the source must deliver each user's events
    * in order (CUSUM is order-defined — there is no order-free
    * spelling). State is FOUR longs per user — unconditionally
    * bounded, no watermark needed.
    */
  def cusumStream(events: DataFrame, mu: Long,
      thresh: Long = 100000L): Dataset[CusumChart] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100, 0).cast("bigint").as("cents"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[CusumState, CusumChart](GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, Long, Long)],
            state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(CusumState(0L, 0L, 0L, -1L))
          it.toSeq.sortBy(e => (e._3, e._2)).foreach { case (_, _, _, cents) =>
            val s1 = math.max(0L, st.s + (cents - mu))
            val n1 = st.n + 1
            val alarm =
              if (st.alarmIdx >= 0) st.alarmIdx
              else if (s1 >= thresh) n1
              else -1L
            st = CusumState(n1, s1, math.max(st.maxS, s1), alarm)
          }
          state.update(st)
          CusumChart(uid, st.n, st.maxS,
            if (st.alarmIdx >= 0) Some(st.alarmIdx.toInt) else None)
      }
  }
}
