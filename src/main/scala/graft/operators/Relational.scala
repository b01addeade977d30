package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** The reference's published query surface (SURVEY.md §2B, derived from
  * /root/reference/README.md:78-242), re-expressed Spark-first over the
  * driver's synthetic tables.
  *
  * Design rules applied throughout (they matter at 100 TB):
  *  - declarative DataFrame plans only — Catalyst handles pushdown,
  *    pruning, join selection; nothing here blocks whole-stage codegen;
  *  - dimension sides of joins are `broadcast()` hinted (part, nation
  *    are dimensions at every scale factor);
  *  - order-sensitive `collect_list` is always made deterministic via
  *    `array_sort(collect_list(struct(key, value)))` (SURVEY §7.4 —
  *    Spark gives no collect order guarantee);
  *  - every double-valued aggregate is rounded at (or finer than) the
  *    decimal grid of its exact value, so summation-order noise can
  *    never flip the rounding vs the DuckDB oracle.
  */
object Relational {

  /** B2+B10+B11: filter + hash aggregate (TPC-H Q1 shaped) — flagship. */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" <= lit("1998-09-01").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity").cast("bigint").as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4).as("sum_disc_price"),
        count(lit(1)).as("count_order"),
        countDistinct($"l_orderkey").as("n_orders"),
        max($"l_quantity").cast("bigint").as("max_qty"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** B3: range predicates (the bbox-query analog) on number + timestamp. */
  def rangeFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .filter($"l_quantity".between(10, 20) &&
        $"l_shipdate".between(
          lit("1995-06-01").cast("timestamp"), lit("1997-06-01").cast("timestamp")))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("cnt"), sum($"l_quantity").cast("bigint").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  /** B5: LIKE prefix/suffix filters (tags['created_by'] LIKE 'JOSM%' analog). */
  def likeFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.part(spark, sfDir)
      .filter($"p_name".like("%widget") || $"p_name".like("blue%"))
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"p_brand")
  }

  /** B4: map-typed tags column + key lookup / existence (tags['k'] analog).
    * The map is built from columns, then queried the way the OSM workload
    * queries `tags` (/root/reference/README.md:153,222).
    */
  def mapTags(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.part(spark, sfDir)
      .select($"p_partkey",
        map(lit("brand"), $"p_brand", lit("type"), $"p_type", lit("name"), $"p_name").as("tags"))
      .filter(map_contains_key($"tags", lit("name")) &&
        element_at($"tags", "name").like("%bolt%"))
      .select($"p_partkey",
        element_at($"tags", "brand").as("brand"),
        element_at($"tags", "type").as("typ"))
      .orderBy($"p_partkey")
  }

  /** B7+B13+B15+B16: ordered collect into array-of-struct, then
    * posexplode WITH ORDINALITY (1-based, Presto parity —
    * /root/reference/README.md:108) and struct field access.
    */
  def unnestOrdinality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_orderkey")
      .agg(array_sort(collect_list(struct($"l_linenumber", $"l_quantity"))).as("items"))
      .select($"l_orderkey", posexplode($"items").as(Seq("pos", "item")))
      .select($"l_orderkey",
        ($"pos" + 1).cast("int").as("idx"),
        $"item.l_quantity".cast("bigint").as("qty"))
      .orderBy($"l_orderkey", $"idx")
  }

  /** B8+B13: equi-join (broadcast dimension) + order-sensitive array_agg —
    * the "reassemble ways from nodes" analog (/root/reference/README.md:79-131).
    */
  def reassembleJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.part(spark, sfDir)), $"l_partkey" === $"p_partkey")
      .groupBy($"l_orderkey")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct($"l_linenumber", $"p_name"))),
            x => x.getField("p_name")), ",").as("part_names"),
        count(lit(1)).as("n_items"))
      .orderBy($"l_orderkey")
  }

  /** B9: latest-version-per-key via grouped-max self-join
    * (/root/reference/README.md:164-185). Kept in join form for oracle
    * parity; the window-function form is `latestVersionWindow` below.
    */
  def latestVersion(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val mx = ev.groupBy($"user_id".as("m_user_id")).agg(max($"event_id").as("max_id"))
    ev.join(mx, ev("user_id") === $"m_user_id" && ev("event_id") === $"max_id")
      .select(ev("user_id"), ev("event_id"), ev("event_type"), ev("value"))
      .orderBy($"user_id")
  }

  /** B9 (optimized form): same result via a window — one shuffle instead
    * of an aggregate + join; preferred at scale (noted SURVEY §2B B9).
    */
  def latestVersionWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id".desc)
    Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"event_id", $"event_type", $"value")
      .orderBy($"user_id")
  }

  /** B12: `arbitrary()` per group, pinned deterministic via min_by on the
    * unique key (SURVEY §7.4 — Presto arbitrary is nondeterministic).
    */
  def arbitraryPerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.part(spark, sfDir)
      .groupBy($"p_brand")
      .agg(min_by($"p_name", $"p_partkey").as("any_name"), count(lit(1)).as("cnt"))
      .orderBy($"p_brand")
  }

  /** B14+B21: group by a scalar expression — date_trunc to month
    * (/root/reference/README.md:151-155).
    */
  def monthlyActivity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .groupBy(date_trunc("month", $"o_orderdate").cast("date").as("month"))
      .agg(count(lit(1)).as("n_orders"), round(sum($"o_totalprice"), 2).as("total"))
      .orderBy($"month")
  }

  /** B19+B8: UNION ALL of two aggregated branches over a broadcast join
    * (/root/reference/README.md:139).
    */
  def unionBranches(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nat = broadcast(Tables.nation(spark, sfDir))
    val c = Tables.customer(spark, sfDir)
      .join(nat, $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name").agg(count(lit(1)).as("cnt"))
      .select(lit("customer").as("kind"), $"n_name", $"cnt")
    val s = Tables.supplier(spark, sfDir)
      .join(nat, $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name").agg(count(lit(1)).as("cnt"))
      .select(lit("supplier").as("kind"), $"n_name", $"cnt")
    c.unionAll(s).orderBy($"kind", $"n_name")
  }

  /** B17+B18: CASE-ranked multi-key global sort
    * (/root/reference/README.md:178-183).
    */
  def caseOrderedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rank = when($"o_orderstatus" === "O", 1)
      .when($"o_orderstatus" === "F", 2)
      .when($"o_orderstatus" === "P", 3)
      .otherwise(4)
    Tables.orders(spark, sfDir)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"))
      .withColumn("status_rank", rank.cast("int"))
      .orderBy($"status_rank", $"o_orderstatus")
  }

  /** B22: window functions — lag delta + row_number per partition
    * (recommended at /root/reference/README.md:158-159).
    */
  def windowLag(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
    Tables.events(spark, sfDir)
      .filter($"user_id" < 25)
      .select($"user_id", $"event_id", $"event_type", $"value",
        row_number().over(w).cast("int").as("rn"),
        ($"value" - lag($"value", 1).over(w)).as("delta"))
      .orderBy($"user_id", $"event_id")
  }

  /** B1+B22: CTE + per-group top-N via rank-filter (top 3 parts by
    * revenue within each brand; ties broken by key so selection is total).
    */
  def topNPerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.part(spark, sfDir)), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", $"p_partkey")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4).as("rev"))
    // two-phase top-k: ~25 brands would funnel every part through 25
    // tasks in a single brand-partitioned window; ranking first per
    // (input partition, brand) — whose top-3 provably contains the
    // global top-3 — leaves the final window only 3 x partitions rows
    // per brand. Identical results, parallel plan (same pattern as
    // Sampling.stratifiedSample).
    val wPre = Window.partitionBy(spark_partition_id(), $"p_brand")
      .orderBy($"rev".desc, $"p_partkey")
    val survivors = rev.withColumn("prn", row_number().over(wPre))
      .filter($"prn" <= 3).drop("prn")
    val w = Window.partitionBy($"p_brand").orderBy($"rev".desc, $"p_partkey")
    survivors.withColumn("rn", row_number().over(w).cast("int"))
      .filter($"rn" <= 3)
      .orderBy($"p_brand", $"rn")
  }

  /** Semi/anti joins (EXISTS / NOT EXISTS) — standard coverage beyond the
    * reference workload; Spark plans them as broadcast/shuffled hash
    * semi-joins with no row duplication.
    */
  def existsAnti(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, sfDir)
    val ords = Tables.orders(spark, sfDir).select($"o_custkey")
    val withO = cust.join(ords, $"c_custkey" === $"o_custkey", "left_semi")
      .agg(count(lit(1)).as("cnt")).select(lit("with_orders").as("kind"), $"cnt")
    val without = cust.join(ords, $"c_custkey" === $"o_custkey", "left_anti")
      .agg(count(lit(1)).as("cnt")).select(lit("without_orders").as("kind"), $"cnt")
    withO.unionAll(without).orderBy($"kind")
  }

  /** Scalar regex extraction from a JSON-ish string column (events.props). */
  def regexExtract(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select($"event_type", regexp_extract($"props", "([0-9]+)", 1).cast("int").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").cast("bigint").as("sum_k"))
      .orderBy($"event_type")
  }

  /** ROLLUP hierarchy aggregation with grouping_id (beyond the reference
    * workload — completes the standard aggregation taxonomy, SURVEY §2C).
    */
  def rollupAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .withColumn("month", date_trunc("month", $"o_orderdate").cast("date"))
      .rollup($"o_orderstatus", $"month")
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"),
        grouping_id().cast("int").as("gid"))
      .orderBy($"gid", $"o_orderstatus", $"month")
  }

  /** GROUPING SETS — the arbitrary-subset aggregation rollup/cube
    * cannot express: {(status, priority), (status), (priority)} — note
    * the deliberately asymmetric set (no grand total), exactly what
    * only GROUPING SETS can declare. Same Expand-based single-shuffle
    * plan family as rollup (q17) / cube (q24); `grouping_id()` matches
    * DuckDB's GROUPING() bitmask.
    */
  def groupingSetsAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .groupingSets(
        Seq(Seq($"o_orderstatus", $"o_orderpriority"),
          Seq($"o_orderstatus"), Seq($"o_orderpriority")),
        $"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"),
        grouping_id().cast("int").as("gid"))
      .orderBy($"gid", $"o_orderstatus", $"o_orderpriority")
  }

  /** INTERSECT / EXCEPT set operations (distinct semantics). */
  def setOps(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val custNations = Tables.customer(spark, sfDir)
      .select($"c_nationkey".as("nkey")).distinct()
    val suppNations = Tables.supplier(spark, sfDir)
      .select($"s_nationkey".as("nkey")).distinct()
    val both = custNations.intersect(suppNations)
      .select(lit("both").as("kind"), $"nkey")
    val custOnly = custNations.except(suppNations)
      .select(lit("cust_only").as("kind"), $"nkey")
    both.unionAll(custOnly).orderBy($"kind", $"nkey")
  }

  /** Global top-K — Spark plans orderBy+limit as TakeOrderedAndProject
    * (per-partition top-K then merge; no full sort at scale). Ties broken
    * by the unique key for determinism.
    */
  def topKLimit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(10)
  }

  /** JSON path extraction from the events props column. */
  def jsonExtract(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select($"event_id", $"event_type",
        get_json_object($"props", "$.k").cast("int").as("k"))
      .filter($"k".isNotNull && $"k" % 7 === 0)
      .orderBy($"event_id")
  }

  /** Scalar-function pack: string/math/conditional builtins with exact
    * (int/string) outputs so both engines agree bit-for-bit.
    */
  def scalarPack(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.part(spark, sfDir)
      .select($"p_partkey",
        upper($"p_name").as("uname"),
        substring($"p_name", 1, 3).as("pre"),
        concat($"p_brand", lit("-"), $"p_type").as("label"),
        length($"p_name").as("name_len"),
        abs($"p_size" - 25).cast("int").as("size_dist"),
        ceil($"p_retailprice").cast("bigint").as("price_ceil"),
        coalesce(nullif($"p_brand", lit("Brand#1")), lit("OTHER")).as("brand_or"))
      .orderBy($"p_partkey")
  }

  /** Exact interpolated percentiles (median/p90) per group. */
  def percentiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(
        round(percentile($"l_quantity", lit(0.5)), 4).as("median_qty"),
        round(percentile($"l_quantity", lit(0.9)), 4).as("p90_qty"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  /** CUBE over two dimensions with grouping_id (completes the
    * grouping-sets family alongside rollupAgg).
    */
  def cubeAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), grouping_id().cast("int").as("gid"))
      .orderBy($"gid", $"o_orderstatus", $"o_orderpriority")
  }

  /** PIVOT (wide aggregation): line status values become columns. */
  def pivotStatus(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum($"l_quantity").cast("bigint"))
      .orderBy($"l_returnflag")
  }

  /** Window frames: running sum (unbounded preceding) and a 3-row
    * moving sum, per user in event order.
    */
  def windowFrames(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
    Tables.events(spark, sfDir)
      .filter($"user_id" < 10)
      .select($"user_id", $"event_id", $"value",
        round(sum($"value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4)
          .as("running_sum"),
        round(sum($"value").over(w.rowsBetween(-2, 0)), 4).as("moving_sum3"),
        first($"value").over(w.rowsBetween(Window.unboundedPreceding, 0))
          .as("first_val"))
      .orderBy($"user_id", $"event_id")
  }

  /** Batch sessionization — the batch twin of
    * graft.streaming.EventStream.sessionize: a session breaks when the
    * gap to the previous event exceeds 30 minutes; session ids are the
    * running count of breaks per user (classic lag + cumulative-sum
    * gap detection, all window ops).
    */
  def sessionizeBatch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
    val gapMicros = 30L * 60 * 1000000
    val flagged = Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"))
      .withColumn("new_session",
        when(($"ts_us" - lag($"ts_us", 1).over(w)) > gapMicros ||
          lag($"ts_us", 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("session_id",
        sum($"new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"),
        min($"event_id").as("first_event"), max($"event_id").as("last_event"))
      .orderBy($"user_id", $"session_id")
  }

  /** As-of join by composition (SURVEY §4.3 custom-operator preference
    * (a): compose built-ins before writing a SparkPlan): each purchase
    * event is enriched with the user's most recent prior-or-equal click
    * — union both streams, carry the last non-null click forward with an
    * ignore-nulls window, keep the purchases. One shuffle, no custom
    * node; the pattern feature-store pipelines use for point-in-time
    * correctness.
    */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    ev.filter($"event_type".isin("click", "purchase"))
      .select($"user_id", $"event_id", $"event_type", $"value",
        when($"event_type" === "click", $"event_id").as("click_id"),
        when($"event_type" === "click", $"value").as("click_value"))
      .withColumn("asof_click_id", last($"click_id", ignoreNulls = true).over(w))
      .withColumn("asof_click_value", last($"click_value", ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", $"value",
        $"asof_click_id", $"asof_click_value")
      .orderBy($"user_id", $"event_id")
  }

  /** Range (non-equi) join: events bucketed by value against a small
    * boundaries dimension — broadcast nested-loop with BETWEEN, the
    * shape Spark picks for banded/interval joins when one side is tiny.
    */
  def rangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      ("low", 0.0, 25.0), ("mid", 25.0, 50.0),
      ("high", 50.0, 75.0), ("top", 75.0, 1e9))
      .toDF("band", "lo", "hi")
    Tables.events(spark, sfDir)
      .join(broadcast(bands), $"value" >= $"lo" && $"value" < $"hi")
      .groupBy($"band")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("sum_value"))
      .orderBy($"band")
  }

  /** Approximate distinct via HLL sketch (PAPERS.md approximation
    * framing). Sketch internals differ across engines, so the raw
    * estimate can never hash-match a DuckDB oracle — instead the query
    * emits the EXACT distinct counts alongside within-tolerance flags
    * comparing Spark's HLL++ (rsd 0.01) against them, and the oracle
    * asserts the flags are 1. If the sketch ever drifted past ±5% (5×
    * the configured rsd) the gate would fail — the approximation is
    * genuinely bounds-checked, not just row-counted.
    */
  def approxDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // exact and approx are SEPARATE aggregations joined on the tiny
    // group-key result: mixing countDistinct with approx_count_distinct
    // in one agg triggers Spark's multi-distinct Expand rewrite, which
    // builds an HLL sketch per DISTINCT VALUE (not per group) and
    // shuffles thousands of sketch words per row — measured 60× slower.
    // Split, each pass is a clean partial-aggregated map-reduce.
    val li = Tables.lineitem(spark, sfDir)
    // spread before the two-distinct Expand (×2 row blowup + partial
    // distinct agg otherwise runs at the scan's parallelism — r13-opt,
    // the Tables.spread rationale); the approx pass stays scan→agg
    val exact = Tables.spread(li, "l_orderkey").groupBy($"l_returnflag")
      .agg(countDistinct($"l_orderkey").as("n_orders"),
        countDistinct($"l_partkey").as("n_parts"))
    val approx = li.groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_orderkey", 0.01).as("a_orders"),
        approx_count_distinct($"l_partkey", 0.01).as("a_parts"))
    exact.join(approx, "l_returnflag")
      .select($"l_returnflag", $"n_orders", $"n_parts",
        (abs($"a_orders" - $"n_orders") <= lit(0.05) * $"n_orders")
          .cast("int").as("orders_within_5pct"),
        (abs($"a_parts" - $"n_parts") <= lit(0.05) * $"n_parts")
          .cast("int").as("parts_within_5pct"))
      .orderBy($"l_returnflag")
  }

  /** KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al.,
    * RANDOM 2002) over document texts per language — the MERGEABLE
    * cardinality sketch whose estimate is EXACTLY reproducible
    * cross-engine, the property q22's HLL can never have (sketch
    * internals are engine-private; q22 gates a tolerance flag instead).
    * The k smallest distinct md5(text) values determine the estimate —
    * md5 order is the same everywhere — so the estimate itself is
    * hash-gated: est = (k-1)/kth_min_fraction, and with fewer than k
    * distinct keys the sketch IS the exact answer.
    *
    * Selection runs on the 128-bit hex STRING order (no numeric
    * precision involved at any corpus size); only the kth value's
    * first 8 hex digits project to an integer for the final ratio —
    * one exact int-to-double conversion and one IEEE division per
    * group on both engines.
    *
    * Scale shape: one distinct on (lang, h) — the d01 envelope — then
    * ONE aggregation carrying both the exact count and a bounded min-k
    * aggregate ([[graft.functions.MinKAggregator]]): associative +
    * commutative with a ≤ k-string buffer, so Spark runs it with
    * map-side partial aggregation and every task ships at most k
    * hashes per language. No window, no salt, no per-lang
    * corpus-cardinality partition at ANY scale — the r7 fixed-16-way
    * salt split this replaces bounded the sort only by a constant
    * factor. Equality with the direct single-window min-k is
    * spec-asserted (KmvSpec).
    */
  def kmvDistinct(spark: SparkSession, sfDir: String, k: Int = 32): DataFrame =
    kmvDistinctOn(Tables.documents(spark, sfDir), k)

  /** Core of [[kmvDistinct]] over any frame with (lang, text) columns —
    * split out so specs can plant sub-k corpora deterministically.
    */
  def kmvDistinctOn(docs: DataFrame, k: Int = 32): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val minK = udaf(new graft.functions.MinKAggregator(k))
    val h = docs
      .select($"lang", md5($"text".cast("binary")).as("h")).distinct()
    val agg = h.groupBy($"lang")
      .agg(count(lit(1)).as("n_exact"), minK($"h").as("mins"))
    // mins is sorted ascending, so the kth (largest retained) value is
    // its last element; with fewer than k distinct keys the sketch IS
    // the exact answer.
    val kth = agg.select($"lang", $"n_exact",
      size($"mins").cast("bigint").as("n_keys"),
      element_at($"mins", size($"mins")).as("kth_hash"))
    val v = greatest(conv(substring($"kth_hash", 1, 8), 16, 10).cast("bigint"), lit(1L))
    kth.select($"lang", $"n_exact", $"n_keys", $"kth_hash",
        round(when($"n_keys" < k, $"n_exact".cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(4294967296.0) / v), 4).as("est"))
      .orderBy($"lang")
  }

  /** HyperLogLog distinct-count sketch (Flajolet et al., AofA 2007)
    * over document texts per language — the OTHER mergeable cardinality
    * sketch next to q37's KMV, and the one production systems actually
    * ship (Redis PFCOUNT, BigQuery APPROX_COUNT_DISTINCT). Unlike
    * q22's engine-private HLL this one is built IN THE PLAN from
    * md5(text), so registers and estimate are exactly reproducible
    * cross-engine: register index = the hash's first hex digit (p=4,
    * m=16), rank = 33 − bit-length of the next 32 hash bits (+sentinel
    * 33 for zero), register = max rank. The estimate arithmetic stays
    * on an exact-integer spine: Σ 2^−M[j] is carried as the exact
    * BIGINT Σ 2^(40−M[j]) (max rank 33 keeps every term integral), so
    * the only float steps are one constant multiply and one division —
    * identical IEEE ops both engines (the small-range ln(m/V)
    * correction branch is rounded on the 1e-4 grid like every float
    * aggregate).
    *
    * Scale shape: one distinct on (lang, h) — the d01 envelope — then
    * a map-combinable MAX aggregation onto exactly m=16 keys per
    * language: every task ships ≤ 16 register partials per lang no
    * matter the corpus (the mergeability that makes HLL the streaming/
    * partitioned standard; cell-wise max-merge is spec-proven like
    * t25's count-min). The register densification joins against the
    * tiny lang×16 frame.
    */
  def hllDistinct(spark: SparkSession, sfDir: String): DataFrame =
    hllDistinctOn(Tables.documents(spark, sfDir))

  /** Core of [[hllDistinct]] over any frame with (lang, text) columns —
    * split out so specs can plant sub-corpora and prove merge laws.
    */
  /** (lang, j, reg) HLL registers for any (lang, text) frame — ONE
    * definition shared by the batch sketch and the streaming twin
    * ([[graft.streaming.EventStream.hllRegisterStream]]), so the two
    * cannot drift. No distinct needed: the HLL insert is IDEMPOTENT
    * (max of a re-seen rank is the rank), which is exactly why the
    * register build streams with plain complete-mode max aggregation
    * and no dedup state at all.
    */
  def hllRegisters(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranks = docs
      .select($"lang", md5($"text".cast("binary")).as("h"))
      .select($"lang",
        conv(substring($"h", 1, 1), 16, 10).cast("int").as("j"),
        conv(substring($"h", 2, 8), 16, 10).cast("bigint").as("v"))
      .withColumn("rho", when($"v" === 0, lit(33))
        .otherwise(lit(33) - length(bin($"v"))).cast("int"))
    ranks.groupBy($"lang", $"j").agg(max($"rho").as("reg"))
  }

  def hllDistinctOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val m = 16
    val keys = docs
      .select($"lang", md5($"text".cast("binary")).as("h")).distinct()
    // registers build straight from the raw rows — idempotent inserts
    // make the pre-dedup unnecessary (keys above only feeds n_exact)
    val regs = hllRegisters(docs)
    // densify to all m registers — absent buckets are rank 0
    val dense = keys.select($"lang").distinct()
      .select($"lang", explode(sequence(lit(0), lit(m - 1))).as("j"))
      .join(regs, Seq("lang", "j"), "left")
      .withColumn("reg", coalesce($"reg", lit(0)))
    val summary = dense.groupBy($"lang").agg(
      sum(($"reg" === 0).cast("bigint")).as("v_zero"),
      sum(pow(lit(2.0), lit(40) - $"reg").cast("bigint")).as("s_scaled"),
      array_join(transform(array_sort(collect_list(struct($"j", $"reg"))),
        s => s.getField("reg").cast("string")), ",").as("registers"))
    val exact = keys.groupBy($"lang").agg(count(lit(1)).as("n_exact"))
    // raw = α16·m²·2^40/S, left-assoc so both engines run the same
    // IEEE sequence; α16 = 0.673 (the m=16 constant from the paper)
    val raw = lit(0.673) * lit(256) * lit(1099511627776.0) / $"s_scaled"
    exact.join(summary, "lang")
      .select($"lang", $"n_exact", $"v_zero", $"s_scaled", $"registers",
        round(when(raw <= lit(40.0) && $"v_zero" > 0,
            lit(16.0) * log(lit(16.0) / $"v_zero"))
          .otherwise(raw), 4).as("est"))
      .orderBy($"lang")
  }

  /** Numeric table profile (the Deequ/Great-Expectations data-quality
    * pass a pipeline runs before training ingestion): one row per
    * profiled column with row/null/exact-distinct counts and
    * min/max/sum on the exact integer-cents grid — the 2-decimal
    * money/rate columns multiply out exactly, so every statistic is an
    * order-free integer and the whole profile hash-gates with no float
    * discipline needed.
    *
    * Scale shape: one aggregate pass PER COLUMN, each scan pruning to
    * that single column (`ReadSchema` carries one field — the
    * columnar-format-friendly shape; a single multi-countDistinct
    * aggregate would trigger the q22 Expand rewrite and shuffle a
    * sketch per distinct value). Each pass is a map-side-combined
    * scalar aggregate; the union of 8 single-row frames is free.
    */
  def tableProfile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    cols.map { c =>
      val cents = round(col(c) * 100).cast("bigint")
      li.agg(
          count(lit(1)).as("n_rows"),
          sum(col(c).isNull.cast("bigint")).as("n_null"),
          countDistinct(col(c)).as("n_distinct"),
          min(cents).as("min_cents"),
          max(cents).as("max_cents"),
          sum(cents).as("sum_cents"))
        .select(lit(c).as("col"), $"n_rows", $"n_null", $"n_distinct",
          $"min_cents", $"max_cents", $"sum_cents")
    }.reduce(_ unionByName _).orderBy($"col")
  }

  /** Tumbling time-window aggregation (batch form of the streaming
    * windowed agg in graft.streaming; 1-day windows == UTC calendar days).
    */
  def dailyEventWindows(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy(
        window($"ts", "1 day").getField("start").cast("date").as("day"),
        $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("sum_value"))
      .orderBy($"day", $"event_type")
  }

  /** Cohort retention — the first-touch cohort analysis every product
    * analytics workload runs: users cohorted by their FIRST active day,
    * activity re-joined to its cohort, distinct users counted per
    * (cohort day, week offset). All arithmetic is integer/date exact
    * (datediff DIV 7 — explicit integer division; a double divide +
    * cast would round differently across engines).
    *
    * Scale shape: ONE scan of events (the cohort day comes from a
    * `min` window over the user's distinct days, not a self-join — a
    * join against a per-user firsts aggregate would scan events twice
    * and, past broadcast size, add a third exchange). Exchanges:
    * (user_id, day) for the distinct, user_id for the window, the tiny
    * (cohort, week) rollup last — all key-partitioned, no broadcast
    * cliff at any user count.
    */
  def cohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id")
    Tables.events(spark, sfDir)
      .select($"user_id", $"ts".cast("date").as("day")).distinct()
      .withColumn("cohort_day", min($"day").over(w))
      .withColumn("week_offset",
        expr("datediff(day, cohort_day) DIV 7").cast("int"))
      .groupBy($"cohort_day", $"week_offset")
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"cohort_day", $"week_offset")
  }

  /** Correlated scalar subqueries (SELECT-list and WHERE), exercised
    * through `spark.sql` over direct `parquet.`-path tables — Catalyst
    * decorrelates both into joins (RewriteCorrelatedScalarSubquery):
    * the SELECT-list `count(*)` becomes a left outer join + aggregate
    * with the COUNT-bug guard (customers with no orders read 0, not
    * NULL), and the uncorrelated threshold becomes a one-row broadcast.
    *
    * Cross-engine determinism: the account-balance threshold averages
    * EXACT integer cents (`sum(bigint) / (count * 100.0)`) — a
    * float-sum average could land a customer on the wrong side of the
    * cut in one engine at some scale factor.
    */
  def correlatedScalar(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.sqlRef(sfDir, "customer")
    val o = Tables.sqlRef(sfDir, "orders")
    spark.sql(
      s"""SELECT c.c_custkey, c.c_mktsegment,
         |  CAST((SELECT count(*) FROM $o o
         |        WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS n_orders
         |FROM $c c
         |WHERE c.c_acctbal >
         |  (SELECT sum(CAST(round(c2.c_acctbal * 100) AS BIGINT)) / (count(*) * 100.0D)
         |   FROM $c c2)
         |ORDER BY c.c_custkey""".stripMargin)
  }

  /** Correlated LATERAL derived table with ORDER BY + LIMIT — top-N per
    * outer row as the SQL-standard lateral join (the other spelling of
    * q13's window-rank top-N). Catalyst plans it as a DomainJoin and
    * decorrelates the per-nation LIMIT into a partitioned rank — the
    * same shuffle shape as the window form, asserted equal by
    * `SearchRankSpec`.
    *
    * Balance ordering is on exact integer cents: a double ORDER BY
    * would still be deterministic (parquet doubles are identical in
    * both engines) but cents keep the LIMIT boundary trivially exact.
    */
  def lateralTopN(spark: SparkSession, sfDir: String): DataFrame = {
    val n = Tables.sqlRef(sfDir, "nation")
    val c = Tables.sqlRef(sfDir, "customer")
    spark.sql(
      s"""SELECT n.n_name, t.c_custkey, t.bal_cents
         |FROM $n n,
         |LATERAL (
         |  SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
         |  FROM $c c
         |  WHERE c.c_nationkey = n.n_nationkey
         |  ORDER BY bal_cents DESC, c_custkey
         |  LIMIT 2
         |) t
         |ORDER BY n.n_name, t.bal_cents DESC, t.c_custkey""".stripMargin)
  }

  /** Distribution-rank window variants: ntile / percent_rank /
    * cume_dist over order-priority partitions. percent_rank and
    * cume_dist rank by STATUS (few big peer groups — the interesting
    * tie semantics: `(rank-1)/(n-1)` and `peers_through_row/n`), while
    * ntile runs over a total order (status, orderkey) so its
    * bucket-boundary assignment is engine-independent. All three are
    * exact rationals of row counts — no float-order wobble.
    *
    * Scale shape (round-8 window audit): a direct window over the FIVE
    * order priorities would sort corpus/5 rows in one task — the q37
    * funnel class. Instead: percent_rank and cume_dist depend only on
    * (priority, status) peer-group counts — a ~15-row aggregate,
    * windowed tiny and broadcast back; ntile needs each row's global
    * rank within its priority, computed by the two-stage sharded-rank
    * idiom (range partitions are globally ordered, so rank =
    * prior-partition offset + local rank — partition population is
    * corpus/shufflePartitions, the knob that grows with the cluster,
    * never corpus/5) and then Spark's exact ntile arithmetic (first
    * n%4 buckets take one extra row). RankVariantsSpec pins this plan
    * equal to the direct window form row-for-row.
    */
  def rankVariants(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.orders(spark, sfDir)
      .filter($"o_orderkey" % 7 === 0)
      .select($"o_orderkey", $"o_orderpriority", $"o_orderstatus")

    // —— tie-rank half: per-(priority, status) counts drive both
    // percent_rank ((rows before)/(n-1); 0 when n == 1, Spark's rule)
    // and cume_dist ((rows through group)/n) ——
    val wStat = Window.partitionBy($"o_orderpriority").orderBy($"o_orderstatus")
    val wAll = Window.partitionBy($"o_orderpriority")
    val grpRanks = base
      .groupBy($"o_orderpriority", $"o_orderstatus")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("n", sum($"cnt").over(wAll))
      .withColumn("before", coalesce(sum($"cnt")
        .over(wStat.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("pct_rank",
        when($"n" === 1, lit(0.0))
          .otherwise(round($"before" / ($"n" - 1), 6)))
      .withColumn("cume", round(($"before" + $"cnt") / $"n", 6))
      .select($"o_orderpriority", $"o_orderstatus", $"n",
        $"pct_rank", $"cume")

    // —— total-order half: global rank within priority via the
    // sharded-rank idiom; cached — the offsets aggregate and the join
    // left side both read the local-rank pass ——
    val local = graft.Caches.track(
      base.repartitionByRange($"o_orderpriority", $"o_orderstatus", $"o_orderkey")
        .withColumn("pid", spark_partition_id())
        .withColumn("lrn", row_number().over(
          Window.partitionBy($"pid", $"o_orderpriority")
            .orderBy($"o_orderstatus", $"o_orderkey"))))
    val offs = local.groupBy($"pid", $"o_orderpriority")
      .agg(count(lit(1)).as("pc"))
      .withColumn("off", coalesce(sum($"pc").over(
        Window.partitionBy($"o_orderpriority").orderBy($"pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"pid", $"o_orderpriority", $"off")

    local.join(broadcast(offs), Seq("pid", "o_orderpriority"))
      .withColumn("rn", $"off" + $"lrn")
      .join(broadcast(grpRanks), Seq("o_orderpriority", "o_orderstatus"))
      // Spark's ntile(4): size = n DIV 4, the first n % 4 buckets hold
      // size+1 rows (the else branch never divides by zero: size == 0
      // forces rem == n, so every rn takes the when branch)
      .withColumn("quartile",
        when($"rn" <= ($"n" % 4) * (expr("n DIV 4") + 1),
          expr("(rn - 1) DIV (n DIV 4 + 1) + 1"))
          .otherwise(
            expr("n % 4 + (rn - (n % 4) * (n DIV 4 + 1) - 1) DIV (n DIV 4) + 1"))
          .cast("int"))
      .select($"o_orderkey", $"o_orderpriority", $"o_orderstatus",
        $"quartile", $"pct_rank", $"cume")
      .orderBy($"o_orderkey")
  }

  /** Referential-integrity audit across the star schema (q40) — the
    * q39 profiler's companion: one row per foreign-key relationship
    * with child rows, NULL keys, distinct child keys, and ORPHANED
    * distinct keys (child values absent from the parent). The Deequ-
    * style constraint check a pipeline runs before trusting joins —
    * an orphan count > 0 means inner joins silently drop rows.
    *
    * Scale shape, per relationship: distinct child keys first (ONE
    * map-side-combinable aggregate over the child — the only pass
    * that touches child-cardinality data), then the orphan probe is a
    * left anti join of the DISTINCT key set against the parent's key
    * column — when the parent is dimension-sized it broadcasts; the
    * scalar audit rows then cross-combine (constant cardinality).
    * The seven audits are independent and union — Spark runs their
    * stages concurrently.
    */
  /** One [[fkAudit]] relationship row — public for spec-side checks
    * with synthetic orphaned/NULL-keyed frames.
    */
  def fkAuditOne(fk: String, child: DataFrame, key: String,
      parent: DataFrame, pkey: String): DataFrame = {
    val ck = child.select(col(key).as("k"))
    val stats = ck.agg(
      count(lit(1)).as("child_rows"),
      (count(lit(1)) - count(col("k"))).as("null_keys"),
      countDistinct(col("k")).as("distinct_keys"))
    val orphans = ck.filter(col("k").isNotNull).distinct()
      .join(parent.select(col(pkey).as("k")), Seq("k"), "left_anti")
      .agg(count(lit(1)).as("orphan_keys"))
    stats.crossJoin(orphans)
      .select(lit(fk).as("fk"), col("child_rows"), col("null_keys"),
        col("distinct_keys"), col("orphan_keys"))
  }

  def fkAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def one(fk: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String): DataFrame =
      fkAuditOne(fk, child, key, parent, pkey)
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    val nat = Tables.nation(spark, sfDir)
    Seq(
      one("customer.nation", cust, "c_nationkey", nat, "n_nationkey"),
      one("lineitem.orders", li, "l_orderkey", ord, "o_orderkey"),
      one("lineitem.part", li, "l_partkey",
        Tables.part(spark, sfDir), "p_partkey"),
      one("lineitem.supplier", li, "l_suppkey",
        Tables.supplier(spark, sfDir), "s_suppkey"),
      one("nation.region", nat, "n_regionkey",
        Tables.region(spark, sfDir), "r_regionkey"),
      one("orders.customer", ord, "o_custkey", cust, "c_custkey"),
      one("supplier.nation", Tables.supplier(spark, sfDir), "s_nationkey",
        nat, "n_nationkey"))
      .reduce(_ unionByName _)
      .orderBy($"fk")
  }

  /** Exact distributed k-th selection (q41) — exact p25/p50/p75 of
    * l_extendedprice (integer cents) WITHOUT a global sort: the
    * iterative histogram-narrowing selection (the classic distributed
    * exact-median algorithm). Each round buckets the in-range values
    * into ≤256 equal-width integer cells with one map-side-combinable
    * aggregate, the driver walks the ≤256-row histogram to find the
    * cell containing the target rank, and the range narrows by 256×
    * — ⌈log₂₅₆(range)⌉ rounds total (3 for a 10⁷-cent span), the
    * o15/Bpe bounded-driver-loop shape (every collect is ≤256 rows by
    * construction, never data-proportional). Contrast q23, which
    * accepts the single-sort plan: this is the shape that survives a
    * corpus whose sort would spill a 1000-executor shuffle.
    *
    * Ranks are the DuckDB-replayable k = (q·n + 99) div 100 (ceil),
    * i.e. the smallest value with at least k values ≤ it — exact
    * integers end-to-end, so the frame hash-gates.
    */
  def exactKth(spark: SparkSession, sfDir: String,
      quantiles: Seq[Int] = Seq(25, 50, 75)): DataFrame = {
    import spark.implicits._
    require(quantiles.nonEmpty && quantiles.forall(q => q >= 1 && q <= 100),
      s"quantiles must be in [1,100]: $quantiles")
    // cached: the count, every narrowing round, and the final exact
    // pass all scan the same single-column frame
    val v = graft.Caches.track(
      Tables.lineitem(spark, sfDir)
        .select(round($"l_extendedprice" * 100, 0).cast("bigint").as("v")))
    val n = v.count()
    val rows = quantiles.sorted.map { q =>
      val k = (q.toLong * n + 99) / 100
      val Row(lo0: Long, hi0: Long) = v.agg(min($"v"), max($"v")).head()
      var (lo, hi, target) = (lo0, hi0, k)
      while (hi > lo) {
        val width = (hi - lo) / 256 + 1
        // ≤256 rows by construction — the bounded driver collect
        val hist = v.filter($"v" >= lo && $"v" <= hi)
          .groupBy((($"v" - lo) / width).cast("int").as("b"))
          .agg(count(lit(1)).as("c"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        var (b, cum) = (0, 0L)
        while (cum + hist.getOrElse(b, 0L) < target) {
          cum += hist.getOrElse(b, 0L); b += 1
        }
        target -= cum
        val nlo = lo + b * width
        hi = math.min(hi, nlo + width - 1)
        lo = nlo
      }
      (s"p$q", n, k, lo)
    }
    rows.toDF("stat", "n", "k", "value_cents").orderBy($"stat")
  }

  /** Ordered funnel analysis (q45) — how many users progressed
    * view → click → purchase IN TIMESTAMP ORDER: step i counts users
    * whose first qualifying step-i event STRICTLY follows their
    * step-(i−1) anchor (the standard product-analytics funnel, where
    * a purchase before any click does not count as conversion). Each
    * stage is one filtered min-aggregate joined to the previous
    * anchor — the filters push to the scan, the per-stage aggregates
    * are map-side-combinable, and the per-step totals are grand-total
    * finalizations (the q14 bounded shape).
    */
  def funnelSteps(spark: SparkSession, sfDir: String,
      steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    import spark.implicits._
    require(steps.nonEmpty, "need at least one funnel step")
    val ev = Tables.events(spark, sfDir).select($"user_id", $"event_type", $"ts")
    // anchors(i): per user, the earliest step-i event after anchor(i-1)
    var anchor = ev.filter($"event_type" === steps.head)
      .groupBy($"user_id").agg(min($"ts").as("t"))
    var out = anchor.agg(count(lit(1)).as("users"))
      .select(lit(1).as("step"), lit(steps.head).as("event_type"), $"users")
    for ((s, i) <- steps.zipWithIndex.drop(1)) {
      anchor = ev.filter($"event_type" === s)
        .join(anchor.select($"user_id", $"t".as("prev_t")), "user_id")
        .filter($"ts" > $"prev_t")
        .groupBy($"user_id").agg(min($"ts").as("t"))
      out = out.unionByName(anchor.agg(count(lit(1)).as("users"))
        .select(lit(i + 1).as("step"), lit(s).as("event_type"), $"users"))
    }
    out.orderBy($"step")
  }

  /** KMV sketch SET ALGEBRA (q44) — union and intersection cardinality
    * estimates between per-language token vocabularies from the q37
    * bottom-k sketches alone, the θ-sketch recipe (Dasgupta et al.,
    * "Theta sketches"): the element domain never re-scans. Mergeability
    * does the union — bottom-k(A ∪ B) = bottom-k(minsA ∪ minsB), so
    * est_union is q37's estimator on the merged sketch; intersection
    * counts the SURVIVORS below the union sketch's threshold that
    * appear in BOTH input sketches (ρ), est_inter = ρ · est_union / k.
    * When the merged sketch is unsaturated (< k keys) both inputs were
    * complete, the sketch IS the sets, and both estimates collapse to
    * the exact values — the same degeneracy discipline as q37, and the
    * formula ρ·est_union/u_keys yields it without a branch.
    *
    * Everything is deterministic (md5 order + exact hex-string
    * compares + one IEEE division), so estimates hash-gate exactly —
    * the property engine-private sketch libraries can never offer.
    *
    * Scale shape: one distinct on (lang, md5(token)) — the d01
    * envelope — one map-combinable bounded min-k aggregate per
    * language, then ALL pair algebra runs on |langs|² sketch rows of
    * ≤ k strings each: parameters, not data. This is the production
    * pattern — sketch once per partition/day, answer set-overlap
    * questions forever without touching the corpus.
    */
  def kmvSetOps(spark: SparkSession, sfDir: String, k: Int = 32): DataFrame = {
    import spark.implicits._
    val minK = udaf(new graft.functions.MinKAggregator(k))
    val h = Tables.documents(spark, sfDir)
      .select($"lang", explode(graft.functions.Text.toks($"text")).as("tok"))
      .select($"lang", md5($"tok".cast("binary")).as("h"))
      .distinct()
    // cached: both sides of the pair self-join read the sketch frame
    val sk = graft.Caches.track(
      h.groupBy($"lang").agg(count(lit(1)).as("n_exact"), minK($"h").as("mins")))
    val pairs = sk
      .select($"lang".as("lang_a"), $"n_exact".as("n_a"), $"mins".as("ma"))
      .join(broadcast(sk.select($"lang".as("lang_b"),
        $"n_exact".as("n_b"), $"mins".as("mb"))), $"lang_a" < $"lang_b")
    val merged = pairs
      .withColumn("u", slice(array_sort(array_union($"ma", $"mb")), 1, k))
      .withColumn("u_keys", size($"u"))
      .withColumn("kth_u", element_at($"u", size($"u")))
    val v = greatest(conv(substring($"kth_u", 1, 8), 16, 10).cast("bigint"), lit(1L))
    merged
      .withColumn("est_union",
        round(when($"u_keys" < k, $"u_keys".cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(4294967296.0) / v), 4))
      .withColumn("rho",
        size(filter(array_intersect($"ma", $"mb"), x => x <= $"kth_u")))
      .withColumn("est_inter",
        round($"rho" * $"est_union" / $"u_keys", 4))
      .select($"lang_a", $"lang_b", $"n_a", $"n_b",
        $"u_keys".cast("int").as("u_keys"), $"kth_u",
        $"est_union", $"rho".cast("int").as("rho"), $"est_inter")
      .orderBy($"lang_a", $"lang_b")
  }

  /** SCD2 interval reconstruction (q42) — the slowly-changing-
    * dimension type-2 table a warehouse derives from a change event
    * stream: per user, each event opens a version whose validity
    * interval runs to the NEXT event's timestamp (exclusive; the
    * latest version stays open with a NULL valid_to). The q28 as-of
    * join's natural complement — an as-of lookup against this table
    * is one interval-containment probe. Micros since epoch as exact
    * BIGINTs (the events-table discipline), so the frame hash-gates.
    *
    * Scale shape: ONE window spec serves the version number and the
    * lead — a single per-user sort, no corpus-global window; at 100 TB
    * users hash-partition and the window population is per-user event
    * count.
    */
  def scd2Intervals(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .filter($"user_id" < 100)
      .select($"user_id", $"event_id", $"ts",
        round($"value" * 100, 0).cast("bigint").as("value_cents"))
      .withColumn("version", row_number().over(w).cast("int"))
      .withColumn("valid_from_us", unix_micros($"ts"))
      .withColumn("valid_to_us", unix_micros(lead($"ts", 1).over(w)))
      .select($"user_id", $"version", $"value_cents",
        $"valid_from_us", $"valid_to_us")
      .orderBy($"user_id", $"version")
  }

  /** Incremental aggregate maintenance (q43) — the partial-aggregate
    * merge law as a gated operator: per-user (count, sum, min, max)
    * computed SEPARATELY over a base slice and a delta slice (split
    * at `splitDate`), then merged by re-aggregating the two partial
    * frames — count=Σcount, sum=Σsum, min=min, max=max — WITHOUT
    * rescanning base rows. The oracle aggregates the whole table
    * directly, so the gate proves merge(partial(base), partial(delta))
    * ≡ full recompute — the identity every incremental pipeline
    * (streaming state stores, materialized-view maintenance, d16/d21's
    * corpus increments) silently relies on. The mean re-derives from
    * merged sums at the END (one rounded IEEE division) — never
    * merged, because avg is not decomposable.
    *
    * Scale shape: each slice aggregates with its partition filter
    * pushed to the scan and map-side partials; the merge re-agg sees
    * 2 rows per user. At 100 TB the base partials are a stored table
    * and only the delta scans — this operator is that plan's dry run.
    */
  /** The q43 per-user decomposable aggregate over a (user_id, c)
    * integer-cents frame — ONE definition shared by [[incrementalAgg]]'s
    * slices and the streaming twin
    * ([[graft.streaming.EventStream.runningAggStream]]), the q35/t25
    * one-definition rule: batch and stream cannot drift. Every
    * aggregate here is a streamable commutative monoid (count/sum/
    * min/max), which is exactly WHY the streaming state store can
    * maintain it per key — q43's gate proves the merge law that
    * maintenance relies on.
    */
  def userCentAggregates(ev: DataFrame): DataFrame = ev.groupBy(col("user_id"))
    .agg(count(lit(1)).as("n"), sum(col("c")).as("sum_cents"),
      min(col("c")).as("min_cents"), max(col("c")).as("max_cents"))

  def incrementalAgg(spark: SparkSession, sfDir: String,
      splitDate: String = "2024-01-15"): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"ts", round($"value" * 100, 0).cast("bigint").as("c"))
    def partial(slice: DataFrame): DataFrame = userCentAggregates(slice)
    val base = partial(ev.filter($"ts" < lit(splitDate).cast("timestamp")))
    val delta = partial(ev.filter($"ts" >= lit(splitDate).cast("timestamp")))
    base.unionByName(delta)
      .groupBy($"user_id")
      .agg(sum($"n").as("n"), sum($"sum_cents").as("sum_cents"),
        min($"min_cents").as("min_cents"), max($"max_cents").as("max_cents"))
      .select($"user_id", $"n", $"sum_cents", $"min_cents", $"max_cents",
        round($"sum_cents" / $"n", 6).as("avg_cents"))
      .orderBy($"user_id")
  }

  /** Equi-depth histogram (q47) — the optimizer-statistics synopsis
    * every engine builds (and the batch generalization of [[exactKth]]
    * from 3 ranks to B boundaries in ONE pass): the corpus of integer-
    * cent prices is cut into `buckets` equal-frequency buckets, and
    * the output is each boundary — the EXACT value at global rank
    * ⌈i·n/B⌉ under (value, unique-key) order, i = 1..B — so bucket
    * populations are balanced by construction and every boundary is a
    * value that exists in the data. Duplicates straddle boundaries
    * deterministically via the unique (orderkey, linenumber) tiebreak.
    *
    * Scale shape (the p11 sharded-rank idiom on a value key): ONE
    * range-repartition by (cents, l_orderkey, l_linenumber), a
    * per-partition local rank, and a partition-count prefix-sum
    * offset join (one row per partition, broadcast) give every row
    * its exact global rank with no global window; the boundary filter
    * then keeps B rows. Where [[exactKth]] spends ⌈log₂₅₆(range)⌉
    * driver rounds per rank to avoid ANY full-width shuffle, this
    * pays one range-exchange of the projected column and answers all
    * B ranks at once — the right trade when B is large or the synopsis
    * is rebuilt per load batch.
    */
  def equiDepthHistogram(spark: SparkSession, sfDir: String,
      buckets: Int = 16): DataFrame = {
    import spark.implicits._
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    val v = Tables.lineitem(spark, sfDir)
      .select(round($"l_extendedprice" * 100, 0).cast("bigint").as("v"),
        $"l_orderkey", $"l_linenumber")
    val local = graft.Caches.track(v
      .repartitionByRange($"v", $"l_orderkey", $"l_linenumber")
      .withColumn("pid", spark_partition_id())
      .withColumn("lrn", row_number().over(
        Window.partitionBy($"pid")
          .orderBy($"v", $"l_orderkey", $"l_linenumber"))))
    val offs = local.groupBy($"pid").agg(count(lit(1)).as("pc"))
      .withColumn("off", coalesce(sum($"pc").over(
        Window.orderBy($"pid").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select($"pid", $"off")
    val nRow = local.agg(count(lit(1)).as("n"))
    // B target ranks, broadcast: the boundary probe is an equi-join,
    // never a corpus×B fan-out
    val targets = spark.range(1, buckets + 1)
      .select($"id".cast("int").as("bucket"))
      .crossJoin(broadcast(nRow))
      .select($"bucket",
        expr(s"(bucket * n + ${buckets - 1}) div $buckets").as("k"))
    local.join(broadcast(offs), "pid")
      .withColumn("rn", $"off" + $"lrn")
      .join(broadcast(targets), $"rn" === $"k")
      .select($"bucket", $"k", $"v".as("boundary_cents"))
      .orderBy($"bucket")
  }

  /** Robust outlier detection via exact median + MAD (q46) — the
    * modified z-score rule (Iglewicz & Hoaglin 1993) every
    * data-quality pipeline runs where mean/stddev would be dragged by
    * the very outliers it hunts: per event-type group, flag events
    * whose absolute deviation from the group median exceeds
    * `threshMilli`/1000 MADs (MAD = median absolute deviation;
    * default 3500 = the standard 3.5 rule, under which this corpus'
    * long-tailed `value` column genuinely fires in every group).
    * Medians are the LOWER median (element at rank (n+1) div 2 under
    * (value, key) order) so every statistic is a value that exists in
    * the data — integer cents end to end, and the 0.6745-scaled
    * threshold clears its denominators:
    *
    *   0.6745·d / mad > t/1000  ⟺  6745·d > 10·t·mad
    *
    * — one BIGINT comparison, no division, no float. Groups where
    * mad = 0 (over half the group at the median) flag nothing by
    * definition (documented; the standard rule's own degenerate case).
    *
    * Scale shape: two rank windows PARTITIONED BY the group key (the
    * per-group sort is the exact-median price of admission; a group's
    * rows land on one task, so the caller's group key must be
    * finer-grained than "the whole corpus" — for global or
    * near-global groups compose [[exactKth]]'s histogram narrowing
    * per group instead, which trades driver rounds for the sort);
    * the median/MAD frames collapse to one row per group and join
    * back broadcast-sized. Output is outliers only.
    */
  def robustOutliers(spark: SparkSession, sfDir: String,
      threshMilli: Int = 3500): DataFrame = {
    import spark.implicits._
    require(threshMilli >= 1, s"threshMilli must be >= 1: $threshMilli")
    val o = graft.Caches.track(
      Tables.events(spark, sfDir)
        .select($"event_id", $"event_type".as("grp"),
          round($"value" * 100, 0).cast("bigint").as("cents")))
    val wN = Window.partitionBy($"grp")
    val wV = wN.orderBy($"cents", $"event_id")
    val med = o
      .withColumn("rn", row_number().over(wV))
      .withColumn("n", count(lit(1)).over(wN))
      .filter($"rn" === expr("(n + 1) div 2"))
      .select($"grp", $"cents".as("med"))
    val dev = graft.Caches.track(
      o.join(med, "grp").withColumn("d", abs($"cents" - $"med")))
    val wD = wN.orderBy($"d", $"event_id")
    val mad = dev
      .withColumn("rn", row_number().over(wD))
      .withColumn("n", count(lit(1)).over(wN))
      .filter($"rn" === expr("(n + 1) div 2"))
      .select($"grp", $"d".as("mad"))
    dev.join(mad, "grp")
      .filter($"mad" > 0 && $"d" * 6745 > $"mad" * (10L * threshMilli))
      .select($"grp", $"event_id", $"cents", $"med", $"mad", $"d")
      .orderBy($"grp", $"event_id")
  }

  /** Grouped OLS trend detection (q48) — the per-segment drift monitor
    * a data-quality pipeline runs over daily rollups: for each event
    * type, the least-squares slope of daily total value (integer
    * cents) against the day index, carried as the EXACT integer
    * fraction
    *
    *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *
    * with numerator and denominator emitted as BIGINTs plus a CASE
    * sign — no division anywhere, so up/flat/down classification and
    * cross-group slope comparison (cross-multiply) are exact, and the
    * whole operator hash-gates. x is the day RE-CENTERED per group
    * (day − first day), which is both the well-conditioned form and
    * the overflow bound: x ≤ the group's day span (~10³), so n·Σxy ≤
    * span²·Σ|y| — at 100 TB daily sums of ~10¹² cents over a 3-year
    * span stay under 2^63 with margin ~10³; a wider span re-centers
    * per-epoch or pre-aggregates to weeks (documented, not silently
    * saturating). Groups with a single active day have den = 0 and
    * are emitted with sign 0 (no trend is computable — the explicit-
    * decision convention, not a silent drop).
    *
    * Scale shape: the daily rollup is one map-combinable aggregate on
    * (group, day) keys; the per-group first day is a one-row-per-group
    * aggregate joined back broadcast-sized; the moment sums collapse
    * to one row per group. No window, no sort until the |groups|-row
    * result.
    */
  def groupTrend(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = graft.Caches.track(
      Tables.events(spark, sfDir)
        .select($"event_type".as("grp"),
          datediff(to_date($"ts"), lit("1970-01-01").cast("date")).as("day"),
          round($"value" * 100, 0).cast("bigint").as("cents"))
        .groupBy($"grp", $"day")
        .agg(sum($"cents").as("y")))
    val d0 = daily.groupBy($"grp").agg(min($"day").as("d0"))
    val moments = daily.join(broadcast(d0), "grp")
      .withColumn("x", ($"day" - $"d0").cast("bigint"))
      .groupBy($"grp")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"))
    moments
      .withColumn("slope_num", $"n" * $"sxy" - $"sx" * $"sy")
      .withColumn("slope_den", $"n" * $"sxx" - $"sx" * $"sx")
      .select($"grp", $"n".cast("int").as("n_days"),
        $"slope_num", $"slope_den",
        expr("""CASE WHEN slope_den = 0 THEN 0
                |     WHEN slope_num > 0 THEN 1
                |     WHEN slope_num < 0 THEN -1
                |     ELSE 0 END""".stripMargin).cast("int").as("trend"))
      .orderBy($"grp")
  }

  /** Gap-constrained event chains (q49) — the multi-hop CEP pattern
    * (MATCH_RECOGNIZE's bread-and-butter): per user, every ordered
    * view → click → purchase chain where EACH successive step fires
    * within `gapMin` minutes of the previous one — the composition
    * q45's funnel (global per-user anchors, no gap) and q35's
    * attribution (a single hop) don't express. ALL qualifying chains
    * count (the all-matches semantics, which is what makes the result
    * a pure join — greedy/skip-past-match CEP variants need
    * sequential state and live in the streaming layer). Gaps compare
    * in exact integer microseconds; ties (equal timestamps) do NOT
    * chain — strict `>`, documented and spec-pinned.
    *
    * Scale shape: two equi-joins on user_id with post-join gap
    * filters — pair volume is Σ_u views_u·clicks_u (then ·purchases),
    * bounded by PER-USER activity (the s23 Σdeg² discipline: the user
    * key is the blocking key, never the corpus); the aggregate
    * collapses to one row per user with map-side partials. A corpus
    * with pathological single-user skew salts the user key by
    * time-bucket first (the q35 interval-join note).
    */
  def gapChains(spark: SparkSession, sfDir: String,
      gapMin: Int = 360): DataFrame = {
    import spark.implicits._
    require(gapMin >= 1, s"gapMin must be >= 1: $gapMin")
    val gap = gapMin * 60L * 1000000L
    val ev = graft.Caches.track(
      Tables.events(spark, sfDir)
        .select($"user_id", $"event_id", $"event_type",
          unix_micros($"ts").as("us")))
    def step(t: String, p: String): DataFrame =
      ev.filter($"event_type" === t)
        .select($"user_id", $"event_id".as(s"${p}_id"), $"us".as(s"${p}_us"))
    step("view", "v")
      .join(step("click", "c"), "user_id")
      .filter($"c_us" > $"v_us" && $"c_us" - $"v_us" <= gap)
      .join(step("purchase", "p"), "user_id")
      .filter($"p_us" > $"c_us" && $"p_us" - $"c_us" <= gap)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_chains"),
        min($"v_us").as("first_start_us"), max($"p_us").as("last_end_us"))
      .orderBy($"user_id")
  }

  /** CUSUM change-point detection (q50) — Page's cumulative-sum
    * control chart per user: the upward statistic
    * S_t = max(0, S_{t−1} + (x_t − μ)) over the user's event values in
    * time order, with an alarm at the first t where S_t ≥ `thresh`.
    * The monitoring primitive for "did this user's spend level SHIFT"
    * (q46 flags single outliers; CUSUM accumulates small persistent
    * drifts those never trip).
    *
    * The clamped recursion looks sequential but is exactly
    * S_t = P_t − min(0, P_1..P_t) for P = prefix sums of deviations —
    * so the whole chart is two ordered windows (running sum, running
    * min), no recursion and no driver loop. Everything is integer:
    * values on the cents grid, μ = floor(global mean cents), so S is
    * bit-identical across engines.
    *
    * Scale shape: the global-mean scalar is one partial-sum row per
    * task into a broadcast (the t32 V shape); the two windows are
    * per-user (population = a user's event count). Corpus-linear.
    */
  def cusumChart(spark: SparkSession, sfDir: String,
      thresh: Long = 100000L): DataFrame = {
    import spark.implicits._
    require(thresh >= 1, s"thresh must be >= 1: $thresh")
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"),
        round($"value" * 100, 0).cast("bigint").as("cents"))
    val mu = ev.agg(sum($"cents").as("s"), count(lit(1)).as("n"))
      .select(expr("s div n").as("mu"))
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    ev.crossJoin(broadcast(mu))
      .withColumn("idx", row_number().over(w))
      .withColumn("p", sum($"cents" - $"mu").over(w))
      .withColumn("s", $"p" - least(min($"p").over(w), lit(0L)))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        max($"s").as("max_cusum"),
        min(when($"s" >= thresh, $"idx")).cast("int").as("alarm_idx"))
      .orderBy($"user_id")
  }

  /** ONE definition of the (event_type, word) → packed-lane build,
    * shared by [[bitmapOverlap]] and the streaming twin
    * [[graft.streaming.EventStream.bitmapRegisterStream]] (the
    * q35/q38 one-definition rule). No pre-`distinct` — bit_or makes
    * the insert idempotent, so duplicate (type, user) rows collapse in
    * the same map-combinable aggregate (one shuffle, not two), and an
    * at-least-once stream redelivery leaves every word untouched
    * (spec-proven, the HLL-register property).
    */
  private[graft] def typeUserBitmaps(typedUsers: DataFrame): DataFrame =
    typedUsers
      .groupBy(col("event_type"), expr("user_id div 32").as("word"))
      .agg(expr("bit_or(shiftleft(1L, int(user_id % 32)))").as("w"))

  /** Bitmap-index audience overlap (q51) — distinct-user intersection
    * counts for every pair of event types, computed the roaring-bitmap
    * way: one (event_type, word) row packs 32 users into a BIGINT lane
    * (word = user_id div 32, bit = user_id mod 32 — 32-bit lanes keep
    * every packed value positive and shift-safe on engines where a
    * BIGINT 1<<63 overflows), and the pairwise intersection is
    * bit_count(wa AND wb) summed over shared words — user-level rows
    * are never joined.
    *
    * The gate is the strong form: the oracle computes the same counts
    * with plain COUNT(DISTINCT) self-joins and NO bitmap logic, so one
    * miscounted bit anywhere in the pack/AND/popcount path
    * hash-mismatches. Per-type cardinalities ride the same bitmaps
    * (sum of bit_count per type), pinning pack/count consistency under
    * the same hash.
    *
    * Scale shape: the bitmap build is a map-combinable bit_or groupBy
    * that collapses 32 users per output row in ONE shuffle; the pair
    * join is an equi-join on `word` whose per-key fan-out is bounded
    * by the TYPE cardinality (a corpus constant), so pair work is
    * |types|^2 x users/32 — never user^2 and never a user-level
    * shuffle. The per-type count frame (|types| rows) broadcasts.
    */
  def bitmapOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bm = graft.Caches.track(typeUserBitmaps(
      Tables.events(spark, sfDir).select($"event_type", $"user_id")))
    val cnt = bm.groupBy($"event_type")
      .agg(sum(bit_count($"w")).cast("bigint").as("n"))
    val a = bm.select($"event_type".as("type_a"), $"word", $"w".as("wa"))
    val b = bm.select($"event_type".as("type_b"), $"word", $"w".as("wb"))
    a.join(b, Seq("word"))
      .filter($"type_a" < $"type_b")
      .groupBy($"type_a", $"type_b")
      .agg(sum(bit_count($"wa".bitwiseAND($"wb"))).cast("bigint").as("n_both"))
      .filter($"n_both" >= 1)
      .join(broadcast(cnt.select($"event_type".as("type_a"), $"n".as("n_a"))),
        Seq("type_a"))
      .join(broadcast(cnt.select($"event_type".as("type_b"), $"n".as("n_b"))),
        Seq("type_b"))
      .select($"type_a", $"type_b", $"n_a", $"n_b", $"n_both",
        expr("(n_both * 1000000L) div (n_a + n_b - n_both)").as("jaccard_ppm"))
      .orderBy($"type_a", $"type_b")
  }

  /** Interval islands (q60) — the gaps-and-islands merge of
    * OVERLAPPING intervals, the classic SQL pattern q27's gap
    * sessionization does NOT cover (sessions cut on inter-EVENT gaps;
    * islands merge intervals that genuinely overlap — activity spans,
    * locks, validity windows): each event carries a type-dependent
    * duration, and a new island starts exactly when an interval opens
    * strictly after every earlier interval in the group has closed —
    * `s > max(e) over preceding rows` (touching endpoints merge). The
    * running max is the O(n)-per-partition form; islands are
    * contiguous by construction (the overlap chain has no interior
    * gap), so each island reduces to [min s, max e].
    *
    * Determinism: exact epoch micros, (s, event_id) ordering so tied
    * starts resolve identically cross-engine.
    *
    * Scale shape: ONE per-user shuffle+sort shared by the running max
    * and the island-id prefix sum — the linear replacement for the
    * naive interval self-join.
    */
  def intervalIslands(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val minUs = 60L * 1000000
    val dur = expr(
      """CASE event_type WHEN 'view' THEN 5 WHEN 'click' THEN 10
        |WHEN 'purchase' THEN 30 WHEN 'signup' THEN 15
        |ELSE 1 END""".stripMargin.replace("\n", " "))
    val w = Window.partitionBy($"user_id").orderBy($"s", $"event_id")
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("s"),
        (unix_micros($"ts") + dur * minUs).as("e"))
      .withColumn("prev_max_e", max($"e").over(wPrev))
      .withColumn("new_island",
        when($"prev_max_e".isNull || $"s" > $"prev_max_e", 1L).otherwise(0L))
      .withColumn("island_id", sum($"new_island").over(wRun))
      .groupBy($"user_id", $"island_id")
      .agg(min($"s").as("start_us"), max($"e").as("end_us"),
        count(lit(1)).as("n_events"))
      .withColumn("span_us", $"end_us" - $"start_us")
      .orderBy($"user_id", $"island_id")
  }

  /** Lorenz curve + Gini coefficient over per-user spend (q61) — the
    * inequality report a mixture/budget pipeline reads before deciding
    * caps (is 90% of spend coming from 5% of users?): users rank
    * ascending by total spend, each spend-decile row carries its user
    * count, spend mass, and the Lorenz curve point at its boundary
    * (cumulative users / cumulative spend, exact ppm), plus the
    * headline Gini on every row, from the rank formulation
    * G = (2*Σ rank·x − (n+1)·Σx) / (n·Σx) — all sums exact integers on
    * the cents grid, the final ratio floored to ppm, and tie order
    * provably irrelevant (swapping equal-spend users permutes ranks
    * within an equal-value run, leaving Σ rank·x unchanged).
    *
    * Scale shape: spend is one corpus-reduced groupBy; the global rank
    * AND the cumulative spend ride the t23 sharded-rank idiom —
    * range-repartition by (cents, user_id), per-partition local
    * rank/prefix-sum windows, and a per-partition offsets side whose
    * running sum is the one bounded single-partition window
    * (<= shuffle partitions rows, a cluster constant). No global
    * window over users anywhere. The Σ rank·x reduction and the decile
    * rollup are map-combinable aggregates; at ~10^9 users the
    * (2·S1 − (n+1)·S0)·10^6 numerator outgrows int64 — move it to
    * DecimalType(38) there; the shape is unchanged.
    */
  def lorenzGini(spark: SparkSession, sfDir: String,
      buckets: Int = 10): DataFrame = {
    import spark.implicits._
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    val spend = Tables.events(spark, sfDir)
      .select($"user_id", round($"value" * 100, 0).cast("bigint").as("cents"))
      .groupBy($"user_id").agg(sum($"cents").as("cents"))
    // cached: offsets, totals, Σ rank·x, and the decile rollup all read
    // the local-rank pass
    val wLoc = Window.partitionBy($"pid").orderBy($"cents", $"user_id")
    val local = graft.Caches.track(spend
      .repartitionByRange($"cents", $"user_id")
      .withColumn("pid", spark_partition_id())
      .withColumn("lrn", row_number().over(wLoc))
      .withColumn("lcs", sum($"cents").over(wLoc)))
    val wOff = Window.orderBy($"pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = local.groupBy($"pid")
      .agg(count(lit(1)).as("pc"), sum($"cents").as("ps"))
      .withColumn("off", coalesce(sum($"pc").over(wOff), lit(0L)))
      .withColumn("soff", coalesce(sum($"ps").over(wOff), lit(0L)))
      .select($"pid", $"off", $"soff")
    val tot = local.agg(count(lit(1)).as("n"), sum($"cents").as("s0"))
    val ranked = graft.Caches.track(
      local.join(broadcast(offs), "pid")
        .crossJoin(broadcast(tot))
        .withColumn("rnk", $"off" + $"lrn")
        .withColumn("cum", $"soff" + $"lcs"))
    val gini = ranked
      .agg(sum($"rnk" * $"cents").as("s1"), max($"n").as("n"),
        max($"s0").as("s0"))
      .select(expr("(2 * s1 - (n + 1) * s0) * 1000000 DIV (n * s0)")
        .cast("bigint").as("gini_ppm"))
    ranked
      .withColumn("decile",
        expr(s"CAST((rnk - 1) * $buckets DIV n AS INT) + 1"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_users"), sum($"cents").as("spend_cents"),
        max($"rnk").as("rmax"), max($"cum").as("cummax"),
        max($"n").as("n"), max($"s0").as("s0"))
      .select($"decile", $"n_users", $"spend_cents",
        expr("rmax * 1000000 DIV n").cast("bigint").as("cum_users_ppm"),
        expr("cummax * 1000000 DIV s0").cast("bigint").as("cum_spend_ppm"))
      .crossJoin(broadcast(gini))
      .orderBy($"decile")
  }

  /** Theil T inequality index with within/between decomposition (q62) —
    * q61's Gini answers "how unequal is spend overall"; Theil
    * additionally answers "how much of that inequality lives INSIDE
    * each market segment vs BETWEEN segments" (Theil 1967 — the one
    * classic inequality measure that decomposes additively by group).
    * Per segment g over per-customer spend x on the exact cents grid:
    * T_g(bits) = Σ_{i∈g} (x_i/S_g)·log2(x_i·n_g/S_g), reported as the
    * exact integer numerator Σ x_i·(log2fixed(x_i·n_g) −
    * log2fixed(S_g)) — every log is [[graft.functions.IntLog]]
    * fixed-point, so the whole report hash-gates; the between
    * component is Σ_g S_g·(log2fixed(S_g·n) − log2fixed(S·n_g)). The
    * ppm column divides by S_g·2^F with the sign handled explicitly
    * (truncate-toward-zero vs floor never disagree on non-negative
    * operands) on DECIMAL(38,0) — the t40 overflow discipline.
    *
    * Domain audit: x ≥ 1 (zero-cent customers are excluded — log of 0
    * is undefined in any arithmetic); x·n_g and S·n_g stay far below
    * 2^62 at any tested sf (documented: at ~10^9 customers the
    * products migrate to a pre-scaled grid, shape unchanged).
    *
    * Scale shape: one corpus-reduced groupBy(custkey), one equi-join
    * to the customer dimension, then every term joins the |segments|-
    * row rollup by BROADCAST; the within sum is a map-combinable
    * aggregate per segment and the between sum runs over |segments|
    * rows. The (n, S) total is a |segments|-row reduction — no
    * corpus-sized funnel anywhere.
    */
  def theilIndex(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.IntLog.log2Fixed
    val ppmDiv = "CASE WHEN theil_num >= 0 THEN " +
      s"CAST(CAST(theil_num AS DECIMAL(38,0)) * 1000000 div " +
      s"(CAST(spend_cents AS DECIMAL(38,0)) * ${1L << graft.functions.IntLog.F}) AS BIGINT) " +
      "ELSE -CAST(CAST(-theil_num AS DECIMAL(38,0)) * 1000000 div " +
      s"(CAST(spend_cents AS DECIMAL(38,0)) * ${1L << graft.functions.IntLog.F}) AS BIGINT) END"
    // cached: the segment rollup and the within terms both read the
    // per-customer spend
    val sp = graft.Caches.track(
      Tables.orders(spark, sfDir)
        .select($"o_custkey",
          round($"o_totalprice" * 100, 0).cast("bigint").as("cents"))
        .groupBy($"o_custkey").agg(sum($"cents").as("x"))
        .filter($"x" >= 1)
        .join(Tables.customer(spark, sfDir)
          .select($"c_custkey".as("o_custkey"),
            $"c_mktsegment".as("segment")), "o_custkey"))
    val seg = graft.Caches.track(sp.groupBy($"segment")
      .agg(count(lit(1)).as("n_g"), sum($"x").as("s_g")))
    val tot = seg.agg(sum($"n_g").as("n"), sum($"s_g").as("s"))
    val within = sp.join(broadcast(seg), "segment")
      .select($"segment", $"n_g", $"s_g",
        ($"x" * (log2Fixed($"x" * $"n_g") - log2Fixed($"s_g"))).as("term"))
      .groupBy($"segment")
      .agg(max($"n_g").as("n_users"), max($"s_g").as("spend_cents"),
        sum($"term").as("theil_num"))
      .select($"segment".as("component"), $"n_users", $"spend_cents",
        $"theil_num")
    val between = seg.crossJoin(broadcast(tot))
      .select($"n", $"s",
        ($"s_g" * (log2Fixed($"s_g" * $"n") - log2Fixed($"s" * $"n_g")))
          .as("term"))
      .agg(max($"n").as("n_users"), max($"s").as("spend_cents"),
        sum($"term").as("theil_num"))
      .select(lit("(between)").as("component"), $"n_users", $"spend_cents",
        $"theil_num")
    within.unionByName(between)
      .withColumn("theil_ppm", expr(ppmDiv))
      .orderBy($"component")
  }

  /** Theil L (mean log deviation) with within/between decomposition
    * (q67) — the GE(0) member completing the inequality triple next to
    * q61's Gini and q62's Theil T (GE(1)): T weights each log-ratio by
    * the unit's SPEND (top-sensitive), L weighs every PERSON equally
    * (bottom-sensitive — a swelling mass of near-zero spenders moves L
    * long before T), and the T−L gap is itself a standard
    * concentration signal. Per segment:
    * L_g(bits) = (1/n_g)·Σ_{i∈g} log2(μ_g/x_i), reported as the exact
    * integer numerator Σ (log2fixed(S_g) − log2fixed(x_i·n_g)) on the
    * [[graft.functions.IntLog]] grid; the between component is
    * Σ_g n_g·(log2fixed(S·n_g) − log2fixed(S_g·n)). The ppm column
    * divides by n_g·2^F (sign-explicit, DECIMAL(38,0)/HUGEINT — the
    * q62 discipline; same domain audit).
    *
    * Scale shape: identical to q62 — the same cached per-customer
    * frame, broadcast |segments|-row rollup, map-combinable sums;
    * only the per-term algebra differs (unweighted log ratio).
    */
  def theilL(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.IntLog.log2Fixed
    val ppmDiv = "CASE WHEN theil_l_num >= 0 THEN " +
      s"CAST(CAST(theil_l_num AS DECIMAL(38,0)) * 1000000 div " +
      s"(CAST(n_users AS DECIMAL(38,0)) * ${1L << graft.functions.IntLog.F}) AS BIGINT) " +
      "ELSE -CAST(CAST(-theil_l_num AS DECIMAL(38,0)) * 1000000 div " +
      s"(CAST(n_users AS DECIMAL(38,0)) * ${1L << graft.functions.IntLog.F}) AS BIGINT) END"
    val sp = graft.Caches.track(
      Tables.orders(spark, sfDir)
        .select($"o_custkey",
          round($"o_totalprice" * 100, 0).cast("bigint").as("cents"))
        .groupBy($"o_custkey").agg(sum($"cents").as("x"))
        .filter($"x" >= 1)
        .join(Tables.customer(spark, sfDir)
          .select($"c_custkey".as("o_custkey"),
            $"c_mktsegment".as("segment")), "o_custkey"))
    val seg = graft.Caches.track(sp.groupBy($"segment")
      .agg(count(lit(1)).as("n_g"), sum($"x").as("s_g")))
    val tot = seg.agg(sum($"n_g").as("n"), sum($"s_g").as("s"))
    val within = sp.join(broadcast(seg), "segment")
      .select($"segment", $"n_g", $"s_g",
        (log2Fixed($"s_g") - log2Fixed($"x" * $"n_g")).as("term"))
      .groupBy($"segment")
      .agg(max($"n_g").as("n_users"), max($"s_g").as("spend_cents"),
        sum($"term").as("theil_l_num"))
      .select($"segment".as("component"), $"n_users", $"spend_cents",
        $"theil_l_num")
    val between = seg.crossJoin(broadcast(tot))
      .select($"n", $"s",
        ($"n_g" * (log2Fixed($"s" * $"n_g") - log2Fixed($"s_g" * $"n")))
          .as("term"))
      .agg(max($"n").as("n_users"), max($"s").as("spend_cents"),
        sum($"term").as("theil_l_num"))
      .select(lit("(between)").as("component"), $"n_users", $"spend_cents",
        $"theil_l_num")
    within.unionByName(between)
      .withColumn("theil_l_ppm", expr(ppmDiv))
      .orderBy($"component")
  }

  /** Truncated-EWMA weights: w_k = 16384·(3/4)^k for k = 0..7 — EXACT
    * integers (2^14 absorbs every 4^k denominator through k = 7), so
    * the α = 1/4 exponential smoother needs no flooring at all in its
    * weight table. Shared verbatim with the DuckDB oracle.
    */
  val EwmaW: Seq[Long] =
    Seq(16384L, 12288L, 9216L, 6912L, 5184L, 3888L, 2916L, 2187L)

  /** Truncated exponentially-weighted moving average (q65) — the
    * classic α = 1/4 smoother over each user's spend series, truncated
    * at 8 lags so it is a FINITE window dot product instead of a
    * recursive state (the form that parallelizes: one per-user
    * window pass, no sequential dependency — and the tail beyond lag 7
    * carries < 10% of the mass). The weights are exact integers
    * ([[EwmaW]]), the numerator is an exact integer dot product over
    * the available lags, and the reported smoother value divides by
    * the weight mass actually present (exact floor; early rows with
    * fewer lags renormalize instead of biasing toward 0). Negative
    * amounts are filtered IN-PLAN (identically in the oracle and the
    * streaming twin) — Spark `div` and Scala `/` truncate toward zero
    * while DuckDB `//` floors, so a negative dot product would fork
    * the engines; the filter keeps every division operand ≥ 0 by
    * construction rather than by data luck (advisor r12).
    *
    * Scale shape: ONE per-user window partition + sort shared by all
    * eight lags (the q12/q52 shape) — corpus-linear, no funnel.
    */
  def ewmaSmooth(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val base = Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"),
        round($"value" * 100, 0).cast("bigint").as("cents"))
      .filter($"cents" >= 0)
    val lagged = EwmaW.zipWithIndex.foldLeft(base) { case (df, (_, k)) =>
      df.withColumn(s"l$k", lag($"cents", k).over(w))
    }
    val dot = EwmaW.zipWithIndex.map { case (wt, k) =>
      when(col(s"l$k").isNotNull, lit(wt) * col(s"l$k")).otherwise(lit(0L))
    }.reduce(_ + _)
    val wsum = EwmaW.zipWithIndex.map { case (wt, k) =>
      when(col(s"l$k").isNotNull, lit(wt)).otherwise(lit(0L))
    }.reduce(_ + _)
    lagged
      .select($"user_id", $"event_id", $"cents",
        dot.as("dot"), wsum.as("wsum"))
      .select($"user_id", $"event_id", $"cents",
        expr("dot div wsum").as("ewma_cents"))
      .orderBy($"user_id", $"event_id")
  }

  /** Benford's-law first-digit constants, floor ppm of log10(1+1/d) —
    * mathematical constants shared verbatim with the DuckDB oracle
    * (the one sanctioned way to get a transcendental near a hash gate:
    * as a fixed literal table, computed once offline, identical on
    * both engines). Floors sum to 999995 ppm — the 5 ppm flooring loss
    * is part of the contract.
    */
  val BenfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301029L, 2 -> 176091L, 3 -> 124938L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66946L, 7 -> 57991L, 8 -> 51152L, 9 -> 45757L)

  /** Benford SECOND-digit constants, floor ppm of
    * Σ_{k=1..9} log10(1 + 1/(10k + d)) — the same offline-literal
    * contract as [[BenfordPpm]]; floors sum to 999996 ppm.
    */
  val Benford2Ppm: Seq[(Int, Long)] = Seq(
    0 -> 119679L, 1 -> 113890L, 2 -> 108821L, 3 -> 104329L, 4 -> 100308L,
    5 -> 96677L, 6 -> 93374L, 7 -> 90351L, 8 -> 87570L, 9 -> 84997L)

  /** Benford second-digit audit (q66) — Nigrini's standard escalation
    * when the first-digit test (q63) passes: fabricators who know to
    * fake a plausible first digit rarely match the much flatter
    * second-digit law P(d) = Σ_k log10(1+1/(10k+d)), so the two tests
    * together are far harder to game than either alone. Same contract
    * as q63: amounts with at least two digits on the cents grid, the
    * shared literal constant table, exact common-denominator
    * deviations, HUGEINT/DECIMAL(38) χ² micro terms, grand-total χ²
    * on every row. Same scale shape (map-side digit projection, one
    * 10-key aggregation, two bounded broadcasts — allowlisted).
    */
  def benford2Audit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val fd = Tables.orders(spark, sfDir)
      .select(round($"o_totalprice" * 100, 0).cast("bigint").as("cents"))
      .filter($"cents" >= 10)
      .select(substring($"cents".cast("string"), 2, 1).cast("int").as("digit"))
    val obs = fd.groupBy($"digit").agg(count(lit(1)).as("n_obs"))
    val n = fd.agg(count(lit(1)).as("n"))
    // cached: the χ² total and the final projection both read the
    // per-digit frame
    val rows = graft.Caches.track(
      Benford2Ppm.toDF("digit", "exp_ppm")
        .join(obs, Seq("digit"), "left")
        .na.fill(0L, Seq("n_obs"))
        .crossJoin(broadcast(n))
        .withColumn("dev", $"n_obs" * 1000000L - $"n" * $"exp_ppm")
        .withColumn("chi2_micro", expr(
          "CAST(CAST(dev AS DECIMAL(38,0)) * dev div " +
            "(CAST(n AS DECIMAL(38,0)) * exp_ppm) AS BIGINT)")))
    val tot = rows.agg(sum($"chi2_micro").as("chi2_micro_total"))
    rows.crossJoin(broadcast(tot))
      .select($"digit", $"n_obs",
        expr("n_obs * 1000000 div n").as("obs_ppm"),
        $"exp_ppm", $"dev", $"chi2_micro", $"chi2_micro_total")
      .orderBy($"digit")
  }

  /** Benford first-digit audit (q63) — the forensic data-quality screen
    * (Benford 1938; Nigrini's fraud-audit standard): naturally-grown
    * monetary amounts lead with digit d at frequency log10(1+1/d),
    * while fabricated, truncated, or unit-misconverted feeds don't —
    * the cheap anomaly probe a pipeline runs on every new financial
    * source before trusting it. Per digit: observed count, floor-ppm
    * share, the expected ppm, the EXACT common-denominator deviation
    * n_obs·10⁶ − n·exp_ppm, and a χ²-style term dev²/(n·exp_ppm) in
    * micro units on DECIMAL(38,0) (the t40 discipline), plus the
    * grand-total χ² on every row (the q61 headline-column idiom).
    *
    * Scale shape: a map-side digit projection (first char of the
    * decimal rendering — exact for positive integers), ONE 9-key hash
    * aggregation, and two 1-row/9-row broadcasts (n and the χ² total —
    * the q14/p04 funnel shapes, allowlisted after plan dump). Nothing
    * corpus-sized past the scan.
    */
  def benfordAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val fd = Tables.orders(spark, sfDir)
      .select(round($"o_totalprice" * 100, 0).cast("bigint").as("cents"))
      .filter($"cents" >= 1)
      .select(substring($"cents".cast("string"), 1, 1).cast("int").as("digit"))
    val obs = fd.groupBy($"digit").agg(count(lit(1)).as("n_obs"))
    val n = fd.agg(count(lit(1)).as("n"))
    // cached: the χ² total and the final projection both read the
    // per-digit frame
    val rows = graft.Caches.track(
      BenfordPpm.toDF("digit", "exp_ppm")
        .join(obs, Seq("digit"), "left")
        .na.fill(0L, Seq("n_obs"))
        .crossJoin(broadcast(n))
        .withColumn("dev", $"n_obs" * 1000000L - $"n" * $"exp_ppm")
        .withColumn("chi2_micro", expr(
          "CAST(CAST(dev AS DECIMAL(38,0)) * dev div " +
            "(CAST(n AS DECIMAL(38,0)) * exp_ppm) AS BIGINT)")))
    val tot = rows.agg(sum($"chi2_micro").as("chi2_micro_total"))
    rows.crossJoin(broadcast(tot))
      .select($"digit", $"n_obs",
        expr("n_obs * 1000000 div n").as("obs_ppm"),
        $"exp_ppm", $"dev", $"chi2_micro", $"chi2_micro_total")
      .orderBy($"digit")
  }

  /** The exact Pearson terms from the moment columns n, Σa (`sa`), Σb,
    * Σab, Σa², Σb²: the DECIMAL(38) covariance numerator `num` and the
    * variance terms `dx`, `dy`. [[PearsonResult]] turns them into the
    * sign and the floored r² ppm; q64, s42 and the streaming monitor
    * share both, and their oracles replay them.
    */
  def pearsonTerms(sa: String, sb: String, sab: String, saa: String,
      sbb: String): Seq[Column] = Seq(
    expr(s"CAST(n AS DECIMAL(38,0)) * $sab - CAST($sa AS DECIMAL(38,0)) * $sb").as("num"),
    expr(s"CAST(n AS DECIMAL(38,0)) * $saa - CAST($sa AS DECIMAL(38,0)) * $sa").as("dx"),
    expr(s"CAST(n AS DECIMAL(38,0)) * $sbb - CAST($sb AS DECIMAL(38,0)) * $sb").as("dy"))

  /** r_sign and r2_ppm = ((num² div dx)·1e6) div dy from [[pearsonTerms]]. */
  val PearsonResult: Seq[Column] = Seq(
    expr("CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 " +
      "ELSE 0 END AS INT)").as("r_sign"),
    expr("CASE WHEN dx = 0 OR dy = 0 THEN CAST(NULL AS BIGINT) " +
      "ELSE CAST(((num * num div dx) * 1000000) div dy AS BIGINT) " +
      "END").as("r2_ppm"))

  /** Pairwise Pearson correlation audit (q64) — the profiling pass
    * between q39 (single-column stats) and a feature-engineering
    * pipeline: which per-user metrics move together? Per metric pair
    * over per-user (spend cents, event count, error count): the sign
    * of the covariance numerator n·Σxy − Σx·Σy and the squared
    * correlation in floor ppm, everything exact integers — the
    * DECIMAL(38,0)/HUGEINT num²/denominator algebra of t46's R², with
    * a DOCUMENTED two-step floor (num² // dx first, then ·10⁶ // dy:
    * num²·10⁶ would overflow 38 digits at sf0.1 magnitudes; the step
    * order is part of the contract and both engines replay it
    * identically — the deviation from the one-shot floor is < 10⁻⁴
    * ppm). A constant metric (zero variance) yields NULL r² on both
    * engines.
    *
    * Overflow contract (advisor r12): past the documented sf0.1
    * magnitudes the two engines FAIL DIFFERENTLY — Spark's non-ANSI
    * DECIMAL(38,0) arithmetic silently yields NULL on overflow while
    * DuckDB's HUGEINT raises; num² here fits 38 digits only while the
    * per-user moment sums stay under ~10¹⁶ (true by orders of
    * magnitude at sf0.1: cents sums ≈ 10⁹). A deployment at a scale
    * approaching that bound should pre-scale the cents grid down
    * rather than rely on either engine's overflow path.
    *
    * Scale shape: one corpus-reduced per-user groupBy, then ONE
    * grand-total moment aggregate (all ten sums in a single pass —
    * map-combinable, one partial row per task through the single
    * 1-row exchange: the q14 shape, allowlisted after plan dump); the
    * three pair rows are constant-sized selects over the cached 1-row
    * frame.
    */
  def corrAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val m = Tables.events(spark, sfDir)
      .select($"user_id",
        round($"value" * 100, 0).cast("bigint").as("c"),
        when($"event_type" === "error", 1L).otherwise(0L).as("e"))
      .groupBy($"user_id")
      .agg(sum($"c").as("x"), count(lit(1)).as("y"), sum($"e").as("z"))
    // cached: the three pair rows all read the 1-row moment frame
    val s = graft.Caches.track(m.agg(
      count(lit(1)).as("n"),
      sum($"x").as("sx"), sum($"y").as("sy"), sum($"z").as("sz"),
      sum($"x" * $"y").as("sxy"), sum($"x" * $"z").as("sxz"),
      sum($"y" * $"z").as("syz"),
      sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
      sum($"z" * $"z").as("szz")))
    def pair(name: String, a: String, b: String): DataFrame = {
      val prod = Map(("x", "y") -> "sxy", ("x", "z") -> "sxz",
        ("y", "z") -> "syz")((a, b))
      s.select(Seq(lit(name).as("pair"), $"n".as("n_users")) ++
          pearsonTerms(s"s$a", s"s$b", prod, s"s$a$a", s"s$b$b"): _*)
        .select(Seq($"pair", $"n_users") ++ PearsonResult: _*)
    }
    pair("cents_vs_events", "x", "y")
      .unionByName(pair("cents_vs_errors", "x", "z"))
      .unionByName(pair("events_vs_errors", "y", "z"))
      .orderBy($"pair")
  }

  /** Event-time RANGE window aggregates (q52) — per-user trailing
    * 1-hour count/spend and leading 10-minute count at every event:
    * the value-based frame q26's ROWS frames cannot express. Peers
    * enter the frame by TIMESTAMP DISTANCE (exact epoch micros), not
    * row position, so irregular gaps and tied timestamps resolve
    * identically on both engines (RANGE includes all peers of the
    * boundary value); sums ride the cents grid.
    *
    * Scale shape: both frames share one per-user partitioning (ONE
    * shuffle + sort, reused); frame evaluation is the in-partition
    * sliding-boundary pass — corpus-linear, replacing the naive
    * events x events-within-window self-join whose fan-out would be
    * rate x window and is the classic interval-join blowup.
    */
  def trailingRangeWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hourUs = 3600L * 1000000
    val tenMinUs = 600L * 1000000
    val wBack = Window.partitionBy($"user_id").orderBy($"us")
      .rangeBetween(-hourUs, 0)
    val wFwd = Window.partitionBy($"user_id").orderBy($"us")
      .rangeBetween(0, tenMinUs)
    Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"),
        round($"value" * 100, 0).cast("bigint").as("cents"))
      .select($"user_id", $"event_id", $"us",
        count(lit(1)).over(wBack).as("n_hour_back"),
        sum($"cents").over(wBack).as("cents_hour_back"),
        count(lit(1)).over(wFwd).as("n_10m_fwd"))
      .orderBy($"user_id", $"us", $"event_id")
  }

  /** The events table as an SCD1 changelog: one op per event, keyed by
    * user — `error` rows are DELETEs, everything else UPSERTs the
    * user's value. ONE definition shared by [[mergeUpsert]]'s base
    * snapshot, its delta apply, the streaming twin
    * ([[graft.streaming.EventStream.upsertStream]]), and the spec's
    * full recompute (the q43/q35 one-definition rule).
    */
  private[graft] def changelog(ev: DataFrame): DataFrame = ev.select(
    col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
    when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
    round(col("value") * 100, 0).cast("bigint").as("value_cents"))

  /** Latest-wins snapshot of a changelog frame: per key, the row with
    * the greatest (us, event_id). Deletes SURVIVE the snapshot as `D`
    * rows — a tombstone must outlive the snapshot or a re-merge with
    * an older shard would resurrect the deleted key (the classic
    * compaction bug; the q53 spec pins it with a delete-then-nothing
    * user). Callers filter `op = 'U'` only at the read edge.
    */
  private def latestWins(log: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").desc, col("event_id").desc)
    log.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn")
  }

  /** Changelog upsert / MERGE INTO semantics (q53) — the SCD1 apply
    * every lakehouse table maintenance job runs: snapshot a BASE slice
    * of the changelog (latest-wins per key, tombstones kept), apply a
    * DELTA slice by merging the snapshot rows with the delta log under
    * the SAME latest-wins rule, and read out live rows only. The
    * oracle recomputes the final state from the WHOLE log in one pass,
    * so the gate proves apply(snapshot(base), delta) ≡ snapshot(full)
    * — upsert merge is partition-invariant, the identity incremental
    * table maintenance (and q43's aggregate twin) relies on. The
    * base/delta split is event-id parity, deliberately NOT temporal:
    * latest-wins needs no ordering between the slices, and the parity
    * split exercises exactly that.
    *
    * Scale shape: each phase is one per-key window over its slice
    * (hash-partition by key; population = per-key log length); the
    * apply unions |keys| snapshot rows with the delta — never rescans
    * base history. At 100 TB the snapshot is a stored table and only
    * the delta shuffles: this is that job's dry run.
    */
  def mergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val log = changelog(Tables.events(spark, sfDir))
    val base = latestWins(log.filter($"event_id" % 2 === 0))
    val delta = log.filter($"event_id" % 2 === 1)
    latestWins(base.unionByName(delta))
      .filter($"op" === "U")
      .select($"user_id", $"event_id".as("last_event_id"),
        $"us".as("last_us"), $"value_cents")
      .orderBy($"user_id")
  }

  /** Point-in-time join (q54) — every probe enriched with the q42
    * SCD2 version valid AT its timestamp: the feature-store lookup
    * that prevents label leakage (a probe must see the dimension as
    * it WAS, never a later version). Probes are the user's events
    * shifted 1 µs EARLIER, so each lands strictly inside the previous
    * version's interval (or before version 1 → NULLs), and the
    * boundary semantics — valid_from inclusive, valid_to exclusive —
    * are exercised at every row.
    *
    * The plan is the q28 composition, not an interval join: versions
    * (at their valid_from) and probes union into one per-user stream,
    * sorted by (us, kind) with versions first at ties, and one
    * ignore-nulls last() carries the in-force version onto each probe
    * — ONE shuffle, per-user window population, zero fan-out. The
    * oracle joins probes to intervals by genuine BETWEEN containment
    * — a completely different plan — so the gate proves the
    * carry-forward IS interval containment (zero-length versions from
    * tied timestamps lose the carry exactly as they match no
    * containment probe).
    */
  def pitJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val versions = scd2Intervals(spark, sfDir)
      .select($"user_id", $"valid_from_us".as("us"), lit(0).as("kind"),
        $"version", $"value_cents", lit(null).cast("bigint").as("probe_event_id"))
    val probes = Tables.events(spark, sfDir)
      .filter($"user_id" < 100 && $"event_id" % 7 === 0)
      .select($"user_id", (unix_micros($"ts") - 1).as("us"), lit(1).as("kind"),
        lit(null).cast("int").as("version"),
        lit(null).cast("bigint").as("value_cents"),
        $"event_id".as("probe_event_id"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"us", $"kind", $"version")
      .rowsBetween(Window.unboundedPreceding, 0)
    versions.unionByName(probes)
      .withColumn("pit_version", last($"version", ignoreNulls = true).over(w))
      .withColumn("pit_value_cents",
        last($"value_cents", ignoreNulls = true).over(w))
      .filter($"kind" === 1)
      .select($"user_id", $"probe_event_id", $"us".as("probe_us"),
        $"pit_version", $"pit_value_cents")
      .orderBy($"user_id", $"probe_us", $"probe_event_id")
  }

  /** Join-skew advisor (q55) — the pre-flight a 100 TB join runs
    * BEFORE shuffling anything: per-key row counts on BOTH sides of a
    * planned equi-join (here events ⋈ purchase-events on user_id),
    * per-key output fan-out n_left·n_right, and each key's share of
    * the total output in exact ppm. The top keys BY FAN-OUT are the
    * salting / skew-hint candidates — a key carrying >10% of the
    * output is the one AQE's skew threshold or a salted re-key must
    * catch, and this frame names it before the join runs.
    *
    * Scale shape: two map-combinable count aggregations (each output
    * row is one KEY, not one input row), an equi-join of the two
    * count frames (key-cardinality sized), and a scalar total that
    * broadcasts back over the winners — input rows are scanned once
    * and never joined row-to-row. The top-k arrives via TakeOrdered
    * (per-partition top-k, k rows per partition through its
    * exchange — the q19/t26 bound); the rank window then sees only k
    * rows.
    */
  /** Exact two-sample Kolmogorov–Smirnov drift matrix (q56) — the
    * distribution-shift detector a curation pipeline runs between
    * corpus slices (here: every pair of event types, over the
    * integer-cents value distribution). The KS statistic is
    * sup_x |F_A(x) − F_B(x)|; cross-multiplying away the divisions
    * gives the exact integer ks_num = max_x |cntA(x)·n_B − cntB(x)·n_A|
    * with D = ks_num / (n_A·n_B) — reported as floor ppm, so the whole
    * matrix hash-gates with zero float arithmetic.
    *
    * Tie discipline: the CDF at x must count ALL rows with value ≤ x,
    * so the running counts use a RANGE frame (peers included — the
    * q52 semantics); evaluating the sup at every row is then safe
    * because all rows of a tie group see the same (complete) counts.
    *
    * Scale shape: each event row fans out to its (T−1) pairs — a
    * bounded |types| constant, not a join — and every window
    * partitions by the PAIR key (no global window). One shuffle on
    * (type_a, type_b), map-combinable final max/counts. The n_A/n_B
    * side is a |types|-row broadcast.
    */
  def ksDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"event_type", $"event_id",
        round($"value" * 100, 0).cast("bigint").as("cents"))
    val types = ev.select($"event_type").distinct()
    // each row replicated to every pair it participates in; pair key
    // is the sorted (type_a, type_b) tuple
    val pairs = ev.join(broadcast(types.select($"event_type".as("other"))),
        $"other" =!= $"event_type")
      .select(
        least($"event_type", $"other").as("type_a"),
        greatest($"event_type", $"other").as("type_b"),
        $"event_type", $"cents")
    val cnt = ev.groupBy($"event_type").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"type_a", $"type_b").orderBy($"cents")
      .rangeBetween(Window.unboundedPreceding, 0)
    pairs
      .withColumn("cnt_a",
        sum(when($"event_type" === $"type_a", 1L).otherwise(0L)).over(w))
      .withColumn("cnt_b",
        sum(when($"event_type" === $"type_b", 1L).otherwise(0L)).over(w))
      .join(broadcast(cnt.select($"event_type".as("type_a"), $"n".as("n_a"))),
        Seq("type_a"))
      .join(broadcast(cnt.select($"event_type".as("type_b"), $"n".as("n_b"))),
        Seq("type_b"))
      .groupBy($"type_a", $"type_b", $"n_a", $"n_b")
      .agg(max(abs($"cnt_a" * $"n_b" - $"cnt_b" * $"n_a")).as("ks_num"))
      .select($"type_a", $"type_b", $"n_a", $"n_b", $"ks_num",
        expr("ks_num * 1000000L div (n_a * n_b)").as("ks_ppm"))
      .orderBy($"type_a", $"type_b")
  }

  /** Per-user event-type transition matrix (q57) — the Markov-chain
    * summary a next-event-prediction dataset builder runs: for every
    * consecutive (prev_type → type) pair within a user's event-time
    * order, the count and the row-conditional probability in exact
    * floor ppm (n·10^6 div Σ_row n). First events have no
    * predecessor and don't transition; the ppm rows sum to ≤ 10^6
    * per prev_type with the deficit = floor loss, never rounding-up
    * drift.
    *
    * Scale shape: one per-user window (hash-partition by user,
    * population = per-user event count) feeding a map-combinable
    * (prev, next) count; the per-prev totals frame is |types| rows,
    * broadcast back.
    */
  def eventTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    // cached: both the per-prev totals and the join read this frame
    val pairs = graft.Caches.track(Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
      .select($"prev_type", $"event_type".as("next_type"))
      .groupBy($"prev_type", $"next_type")
      .agg(count(lit(1)).as("n")))
    val totals = pairs.groupBy($"prev_type").agg(sum($"n").as("row_n"))
    pairs.join(broadcast(totals), Seq("prev_type"))
      .select($"prev_type", $"next_type", $"n", $"row_n",
        expr("n * 1000000L div row_n").as("p_ppm"))
      .orderBy($"prev_type", $"next_type")
  }

  /** Session path mining (q59) — the product-analytics "top user
    * journeys" table, and in pipeline terms the SEQUENCE-level
    * aggregation behind behavioral dataset curation: q27's gap
    * sessions (same 30-min definition, same per-user window), each
    * session flattened to its ordered event-type path string
    * ("view>click>purchase"), and the `topK` most frequent paths by
    * (count DESC, path). The path build uses the B13 order-sensitive
    * array_agg idiom (sort_array over (event_id, type) structs —
    * collect_list alone is arrival-ordered and nondeterministic).
    *
    * Scale shape: the session window is q27's (per-user, population =
    * per-user events); the path aggregate is one (user, session)
    * groupBy with map-side partials; the path-count frame is
    * distinct-path sized; top-k arrives via TakeOrdered (the q19
    * bound).
    */
  def sessionPaths(spark: SparkSession, sfDir: String,
      topK: Int = 10): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
    val gapMicros = 30L * 60 * 1000000
    val flagged = Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts").as("ts_us"))
      .withColumn("new_session",
        when(($"ts_us" - lag($"ts_us", 1).over(w)) > gapMicros ||
          lag($"ts_us", 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("session_id",
        sum($"new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val paths = flagged.groupBy($"user_id", $"session_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct($"event_id", $"event_type"))),
          x => x.getField("event_type")), ">").as("path"))
    val counts = paths.groupBy($"path").agg(count(lit(1)).as("n_sessions"))
    val top = counts.orderBy($"n_sessions".desc, $"path").limit(topK)
    val wRank = Window.orderBy($"n_sessions".desc, $"path")
    top.withColumn("rk", row_number().over(wRank).cast("int"))
      .select($"rk", $"path", $"n_sessions")
      .orderBy($"rk")
  }

  /** Multi-touch attribution (q58) — q35's last-touch complement:
    * every purchase's credit splits across ALL views in its trailing
    * window, in exact ppm — share = 10^6 div k, and the 10^6 mod k
    * remainder units go one each to the EARLIEST touches ((ts,
    * event_id) ascending — the deterministic "first-touch bonus"
    * form of largest-remainder), so Σshare per purchase is exactly
    * 10^6 with no float reconciliation (the p19 discipline on an
    * attribution ledger). Reuses [[graft.streaming.EventStream
    * .intervalJoinStream]]'s join verbatim (one definition; its plan
    * is already gated through q35 and runs unchanged in batch).
    *
    * Scale shape: the interval join partitions by user with
    * rate×window bounded fan-out (q35's bound); both windows share
    * ONE per-purchase partitioning whose population is the touch
    * count.
    */
  def multiTouchAttribution(spark: SparkSession, sfDir: String,
      maxDelayMin: Int = 720): DataFrame = {
    import spark.implicits._
    val joined = graft.streaming.EventStream.intervalJoinStream(
      Tables.events(spark, sfDir), maxDelayMin = maxDelayMin)
    val w = Window.partitionBy($"b_id")
    val wRank = w.orderBy($"a_ts", $"a_id")
    joined
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("rk", row_number().over(wRank))
      .select($"user_id", $"b_id".as("purchase_id"), $"a_id".as("view_id"),
        $"k".as("k_touches"),
        (expr("1000000L div k") +
          when($"rk" <= expr("1000000L % k"), 1L).otherwise(0L))
          .as("share_ppm"))
      .orderBy($"purchase_id", $"view_id")
  }

  def joinSkewAdvisor(spark: SparkSession, sfDir: String,
      topK: Int = 10): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val lcnt = ev.groupBy($"user_id").agg(count(lit(1)).as("n_left"))
    val rcnt = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id").agg(count(lit(1)).as("n_right"))
    val fan = graft.Caches.track(lcnt.join(rcnt, Seq("user_id"))
      .select($"user_id", $"n_left", $"n_right",
        ($"n_left" * $"n_right").as("fanout")))
    val total = fan.agg(sum($"fanout").as("total_fanout"))
    val top = fan.orderBy($"fanout".desc, $"user_id").limit(topK)
    val w = Window.orderBy($"fanout".desc, $"user_id")
    top.crossJoin(broadcast(total))
      .withColumn("share_ppm", expr("fanout * 1000000L div total_fanout"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .select($"rn", $"user_id", $"n_left", $"n_right", $"fanout",
        $"total_fanout", $"share_ppm")
      .orderBy($"rn")
  }
}
