package graft.operators

import org.apache.spark.sql.SparkSession

import graft.OracleSql._
import graft.{Query, Tables}
import graft.Query.query

/** The q-family: the reference's relational workload (SURVEY.md §2B) and its extensions. */
object RelationalQueries {

  /** DuckDB mirror of Relational.theilL (q67): theilSql's CTE shape
    * with the GE(0) algebra — unweighted within terms lsg − lxn,
    * n_g-weighted between terms with the ratio flipped, ppm divided by
    * n_g·2^F.
    */
  private lazy val theilLSql: String = {
    val twoF = 1L << graft.functions.IntLog.F
    val sb = new StringBuilder
    sb ++= """WITH sp AS (
       |  SELECT o_custkey,
       |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
       |      AS x
       |  FROM orders GROUP BY 1),
       |j AS MATERIALIZED (
       |  SELECT c.c_mktsegment AS segment, s.x
       |  FROM sp s JOIN customer c ON c.c_custkey = s.o_custkey
       |  WHERE s.x >= 1),
       |seg AS MATERIALIZED (
       |  SELECT segment, CAST(count(*) AS BIGINT) AS n_g,
       |    CAST(sum(x) AS BIGINT) AS s_g
       |  FROM j GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
       |    CAST(sum(s_g) AS BIGINT) AS s FROM seg),
       |wi AS (SELECT j.segment, j.x, j.x * g.n_g AS xn
       |  FROM j JOIN seg g ON g.segment = j.segment)""".stripMargin
    val (at, an) = ilogChainSql("la", "wi", "xn", "lxn", Seq("segment"))
    sb ++= at
    val (bt, bn) = ilogChainSql("lb", "seg", "s_g", "lsg", Seq("segment"))
    sb ++= bt
    sb ++= s""",
       |win AS (
       |  SELECT w.segment, CAST(sum(b.lsg - w.lxn) AS BIGINT)
       |    AS theil_l_num
       |  FROM $an w JOIN $bn b ON b.segment = w.segment GROUP BY 1),
       |bw AS (SELECT g.segment, g.n_g, g.s_g * t.n AS sgn, t.s * g.n_g AS sng
       |  FROM seg g CROSS JOIN tot t)""".stripMargin
    val (ct, cn) = ilogChainSql("lc", "bw", "sgn", "lsgn",
      Seq("segment", "n_g", "sng"))
    sb ++= ct
    val (dt, dn) = ilogChainSql("ld", cn, "sng", "lsng",
      Seq("segment", "n_g", "lsgn"))
    sb ++= dt
    sb ++= s""",
       |btw AS (SELECT CAST(sum(n_g * (lsng - lsgn)) AS BIGINT)
       |    AS theil_l_num
       |  FROM $dn),
       |u AS (
       |  SELECT g.segment AS component, g.n_g AS n_users,
       |    g.s_g AS spend_cents, w.theil_l_num
       |  FROM win w JOIN seg g ON g.segment = w.segment
       |  UNION ALL
       |  SELECT '(between)' AS component, t.n AS n_users,
       |    t.s AS spend_cents, b.theil_l_num
       |  FROM btw b CROSS JOIN tot t)
       |SELECT component, n_users, spend_cents, theil_l_num,
       |  CAST(CASE WHEN theil_l_num >= 0
       |    THEN (CAST(theil_l_num AS HUGEINT) * 1000000) //
       |      (CAST(n_users AS HUGEINT) * $twoF)
       |    ELSE -((CAST(-theil_l_num AS HUGEINT) * 1000000) //
       |      (CAST(n_users AS HUGEINT) * $twoF))
       |  END AS BIGINT) AS theil_l_ppm
       |FROM u ORDER BY component""".stripMargin
    sb.toString
  }

  /** DuckDB mirror of Relational.theilIndex (q62): per-customer cents,
    * the |segments|-row rollup, and four ilogChainSql passes — x·n_g
    * and S_g for the within terms, S_g·n and S·n_g for the between
    * terms; the ppm division is sign-explicit on HUGEINT (both engines
    * only ever divide non-negative operands).
    */
  private lazy val theilSql: String = {
    val twoF = 1L << graft.functions.IntLog.F
    val sb = new StringBuilder
    sb ++= """WITH sp AS (
       |  SELECT o_custkey,
       |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
       |      AS x
       |  FROM orders GROUP BY 1),
       |j AS MATERIALIZED (
       |  SELECT c.c_mktsegment AS segment, s.x
       |  FROM sp s JOIN customer c ON c.c_custkey = s.o_custkey
       |  WHERE s.x >= 1),
       |seg AS MATERIALIZED (
       |  SELECT segment, CAST(count(*) AS BIGINT) AS n_g,
       |    CAST(sum(x) AS BIGINT) AS s_g
       |  FROM j GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
       |    CAST(sum(s_g) AS BIGINT) AS s FROM seg),
       |wi AS (SELECT j.segment, j.x, j.x * g.n_g AS xn
       |  FROM j JOIN seg g ON g.segment = j.segment)""".stripMargin
    val (at, an) = ilogChainSql("ha", "wi", "xn", "lxn", Seq("segment", "x"))
    sb ++= at
    val (bt, bn) = ilogChainSql("hb", "seg", "s_g", "lsg", Seq("segment"))
    sb ++= bt
    sb ++= s""",
       |win AS (
       |  SELECT w.segment, CAST(sum(w.x * (w.lxn - b.lsg)) AS BIGINT)
       |    AS theil_num
       |  FROM $an w JOIN $bn b ON b.segment = w.segment GROUP BY 1),
       |bw AS (SELECT g.segment, g.s_g, g.s_g * t.n AS sgn, t.s * g.n_g AS sng
       |  FROM seg g CROSS JOIN tot t)""".stripMargin
    val (ct, cn) = ilogChainSql("hc", "bw", "sgn", "lsgn",
      Seq("segment", "s_g", "sng"))
    sb ++= ct
    val (dt, dn) = ilogChainSql("hd", cn, "sng", "lsng",
      Seq("segment", "s_g", "lsgn"))
    sb ++= dt
    sb ++= s""",
       |btw AS (SELECT CAST(sum(s_g * (lsgn - lsng)) AS BIGINT) AS theil_num
       |  FROM $dn),
       |u AS (
       |  SELECT g.segment AS component, g.n_g AS n_users,
       |    g.s_g AS spend_cents, w.theil_num
       |  FROM win w JOIN seg g ON g.segment = w.segment
       |  UNION ALL
       |  SELECT '(between)' AS component, t.n AS n_users,
       |    t.s AS spend_cents, b.theil_num
       |  FROM btw b CROSS JOIN tot t)
       |SELECT component, n_users, spend_cents, theil_num,
       |  CAST(CASE WHEN theil_num >= 0
       |    THEN (CAST(theil_num AS HUGEINT) * 1000000) //
       |      (CAST(spend_cents AS HUGEINT) * $twoF)
       |    ELSE -((CAST(-theil_num AS HUGEINT) * 1000000) //
       |      (CAST(spend_cents AS HUGEINT) * $twoF))
       |  END AS BIGINT) AS theil_ppm
       |FROM u ORDER BY component""".stripMargin
    sb.toString
  }

  val all: Seq[Query] = Seq(
    query("q01_pricing_summary", Relational.pricingSummary) oracle
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        |  count(*) AS count_order,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  CAST(max(l_quantity) AS BIGINT) AS max_qty
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    query("q02_range_filter", Relational.rangeFilter) oracle
      """SELECT l_returnflag, count(*) AS cnt, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20
        |  AND l_shipdate BETWEEN TIMESTAMP '1995-06-01' AND TIMESTAMP '1997-06-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    query("q03_like_filter", Relational.likeFilter) oracle
      """SELECT p_brand, count(*) AS cnt FROM part
        |WHERE p_name LIKE '%widget' OR p_name LIKE 'blue%'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    query("q04_map_tags", Relational.mapTags) oracle
      """SELECT p_partkey, p_brand AS brand, p_type AS typ FROM part
        |WHERE p_name LIKE '%bolt%' ORDER BY p_partkey""".stripMargin,

    query("q05_unnest_ordinality", Relational.unnestOrdinality) oracle
      """SELECT l_orderkey,
        |  CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity) AS INT) AS idx,
        |  CAST(l_quantity AS BIGINT) AS qty
        |FROM lineitem ORDER BY l_orderkey, idx""".stripMargin,

    query("q06_reassemble_join", Relational.reassembleJoin) oracle
      """SELECT l_orderkey, string_agg(p_name, ',' ORDER BY l_linenumber, p_name) AS part_names,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    query("q07_latest_version", Relational.latestVersion) oracle
      """SELECT e.user_id, e.event_id, e.event_type, e.value
        |FROM events e
        |JOIN (SELECT user_id, max(event_id) AS max_id FROM events GROUP BY user_id) m
        |  ON e.user_id = m.user_id AND e.event_id = m.max_id
        |ORDER BY e.user_id""".stripMargin,

    query("q07_latest_version_win", Relational.latestVersionWindow) oracle
      """SELECT e.user_id, e.event_id, e.event_type, e.value
        |FROM events e
        |JOIN (SELECT user_id, max(event_id) AS max_id FROM events GROUP BY user_id) m
        |  ON e.user_id = m.user_id AND e.event_id = m.max_id
        |ORDER BY e.user_id""".stripMargin,

    query("q08_arbitrary", Relational.arbitraryPerGroup) oracle
      """SELECT p_brand, arg_min(p_name, p_partkey) AS any_name, count(*) AS cnt
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin,

    query("q09_month_trunc", Relational.monthlyActivity) oracle
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    query("q10_union_all", Relational.unionBranches) oracle
      """SELECT 'customer' AS kind, n_name, count(*) AS cnt
        |FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name
        |UNION ALL
        |SELECT 'supplier' AS kind, n_name, count(*) AS cnt
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey GROUP BY n_name
        |ORDER BY kind, n_name""".stripMargin,

    query("q11_case_order", Relational.caseOrderedAgg) oracle
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  CAST(CASE WHEN o_orderstatus = 'O' THEN 1 WHEN o_orderstatus = 'F' THEN 2
        |            WHEN o_orderstatus = 'P' THEN 3 ELSE 4 END AS INT) AS status_rank
        |FROM orders GROUP BY 1 ORDER BY status_rank, o_orderstatus""".stripMargin,

    query("q12_window_lag", Relational.windowLag) oracle
      """SELECT user_id, event_id, event_type, value,
        |  CAST(row_number() OVER w AS INT) AS rn,
        |  value - lag(value, 1) OVER w AS delta
        |FROM events WHERE user_id < 25
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    query("q13_topn_per_group", Relational.topNPerGroup) oracle
      """WITH rev AS (
        |  SELECT p_brand, p_partkey,
        |    round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT p_brand, p_partkey, rev,
        |    CAST(row_number() OVER (PARTITION BY p_brand ORDER BY rev DESC, p_partkey) AS INT) AS rn
        |  FROM rev
        |)
        |SELECT p_brand, p_partkey, rev, rn FROM ranked WHERE rn <= 3
        |ORDER BY p_brand, rn""".stripMargin,

    query("q14_exists_anti", Relational.existsAnti) oracle
      """SELECT 'with_orders' AS kind, count(*) AS cnt FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'without_orders' AS kind, count(*) AS cnt FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY kind""".stripMargin,

    query("q15_regex_extract", Relational.regexExtract) oracle
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(regexp_extract(props, '([0-9]+)', 1) AS INT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    query("q16_daily_windows", Relational.dailyEventWindows) oracle
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |  count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    query("q17_rollup", Relational.rollupAgg) oracle
      """SELECT o_orderstatus, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  CAST(GROUPING(o_orderstatus, CAST(date_trunc('month', o_orderdate) AS DATE)) AS INT) AS gid
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, CAST(date_trunc('month', o_orderdate) AS DATE))
        |ORDER BY gid, o_orderstatus, month""".stripMargin,

    query("q30_grouping_sets", Relational.groupingSetsAgg) oracle
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), (o_orderpriority))
        |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin,

    query("q18_setops", Relational.setOps) oracle
      """SELECT 'both' AS kind, nkey FROM (
        |  SELECT DISTINCT c_nationkey AS nkey FROM customer
        |  INTERSECT
        |  SELECT DISTINCT s_nationkey AS nkey FROM supplier)
        |UNION ALL
        |SELECT 'cust_only' AS kind, nkey FROM (
        |  SELECT DISTINCT c_nationkey AS nkey FROM customer
        |  EXCEPT
        |  SELECT DISTINCT s_nationkey AS nkey FROM supplier)
        |ORDER BY kind, nkey""".stripMargin,

    query("q19_topk_limit", Relational.topKLimit) oracle
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    query("q20_json_extract", Relational.jsonExtract) oracle
      """SELECT event_id, event_type,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events
        |WHERE json_extract_string(props, '$.k') IS NOT NULL
        |  AND CAST(json_extract_string(props, '$.k') AS INT) % 7 = 0
        |ORDER BY event_id""".stripMargin,

    query("q21_scalar_pack", Relational.scalarPack) oracle
      """SELECT p_partkey,
        |  upper(p_name) AS uname,
        |  substr(p_name, 1, 3) AS pre,
        |  p_brand || '-' || p_type AS label,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  CAST(abs(p_size - 25) AS INT) AS size_dist,
        |  CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
        |  coalesce(nullif(p_brand, 'Brand#1'), 'OTHER') AS brand_or
        |FROM part ORDER BY p_partkey""".stripMargin,

    query("q22_approx_distinct", Relational.approxDistinct) oracle
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  1 AS orders_within_5pct,
        |  1 AS parts_within_5pct
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // q37: KMV sketch — md5 STRING order picks the k smallest distinct
    // keys (engine-independent), only the kth value's first 8 hex
    // digits become a number (strpos Horner chain, exact < 2^32 so the
    // int→double conversion and one division are IEEE-identical)
    query("q37_kmv_distinct", Relational.kmvDistinct(_, _)) oracle
      s"""WITH h AS (SELECT DISTINCT lang, md5(text) AS h FROM documents),
         |exact AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact
         |          FROM h GROUP BY 1),
         |top AS (SELECT lang, h FROM (
         |    SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
         |    FROM h) r WHERE rn <= 32),
         |kth AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_keys,
         |          max(h) AS kth_hash FROM top GROUP BY 1)
         |SELECT k.lang, e.n_exact, k.n_keys, k.kth_hash,
         |  round(CASE WHEN k.n_keys < 32 THEN CAST(e.n_exact AS DOUBLE)
         |    ELSE 31.0 * 4294967296 /
         |      greatest(${hexIntSql("k.kth_hash", 8)}, 1) END, 4) AS est
         |FROM kth k JOIN exact e ON k.lang = e.lang
         |ORDER BY k.lang""".stripMargin,

    // q38: HyperLogLog from md5 — register j = first hex digit (m=16),
    // rank = 33 − bit-length of the next 32 bits (bin() strips leading
    // zeros identically in both engines), Σ2^−M carried as the exact
    // BIGINT Σ2^(40−M). Float literals as 0.673e0 etc. force DOUBLE
    // (a bare 0.673 is DECIMAL in DuckDB → different rounding path).
    query("q38_hll_distinct", Relational.hllDistinct) oracle
      s"""WITH h AS (SELECT DISTINCT lang, md5(text) AS h FROM documents),
         |hx AS (SELECT lang, substr(h, 1, 1) AS d1, substr(h, 2, 8) AS d8 FROM h),
         |r AS (SELECT lang,
         |        CAST(strpos('0123456789abcdef', d1) - 1 AS INT) AS j,
         |        ${hexIntSql("d8", 8)} AS v
         |      FROM hx),
         |rk AS (SELECT lang, j,
         |         CAST(CASE WHEN v = 0 THEN 33 ELSE 33 - length(bin(v)) END AS INT) AS rho
         |       FROM r),
         |regs AS (SELECT lang, j, max(rho) AS reg FROM rk GROUP BY 1, 2),
         |dense AS (
         |  SELECT l.lang, g.j, CAST(coalesce(regs.reg, 0) AS INT) AS reg
         |  FROM (SELECT DISTINCT lang FROM h) l
         |  CROSS JOIN (SELECT CAST(unnest(range(0, 16)) AS INT) AS j) g
         |  LEFT JOIN regs ON regs.lang = l.lang AND regs.j = g.j),
         |summary AS (
         |  SELECT lang,
         |    CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero,
         |    CAST(sum(CAST(1 AS BIGINT) << (40 - reg)) AS BIGINT) AS s_scaled,
         |    string_agg(CAST(reg AS VARCHAR), ',' ORDER BY j) AS registers
         |  FROM dense GROUP BY 1),
         |exact AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact FROM h GROUP BY 1)
         |SELECT e.lang, e.n_exact, s.v_zero, s.s_scaled, s.registers,
         |  round(CASE WHEN 0.673e0 * 256 * 1099511627776.0e0 / s.s_scaled <= 40.0e0
         |               AND s.v_zero > 0
         |          THEN 16.0e0 * ln(16.0e0 / s.v_zero)
         |          ELSE 0.673e0 * 256 * 1099511627776.0e0 / s.s_scaled END, 4) AS est
         |FROM exact e JOIN summary s ON e.lang = s.lang
         |ORDER BY e.lang""".stripMargin,

    // q39: numeric table profile — per profiled column the exact
    // integer-cents statistics, one UNION ALL branch per column
    // (generated, lockstep with the Spark column list)
    query("q39_table_profile", Relational.tableProfile) oracle
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
        s"""SELECT '$c' AS col, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min(round($c * 100)) AS BIGINT) AS min_cents,
           |  CAST(max(round($c * 100)) AS BIGINT) AS max_cents,
           |  CAST(sum(round($c * 100)) AS BIGINT) AS sum_cents
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col"),

    // q40: orphan probes are NOT EXISTS over distinct child keys —
    // the audit numbers must count DISTINCT orphaned keys, not rows
    query("q40_fk_audit", Relational.fkAudit) oracle
      Seq(
        ("customer.nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("lineitem.orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("nation.region", "nation", "n_regionkey", "region", "r_regionkey"),
        ("orders.customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("supplier.nation", "supplier", "s_nationkey", "nation", "n_nationkey")
      ).map { case (fk, child, key, parent, pkey) =>
        s"""SELECT '$fk' AS fk,
           |  CAST((SELECT count(*) FROM $child) AS BIGINT) AS child_rows,
           |  CAST((SELECT count(*) FROM $child WHERE $key IS NULL) AS BIGINT) AS null_keys,
           |  CAST((SELECT count(DISTINCT $key) FROM $child) AS BIGINT) AS distinct_keys,
           |  CAST((SELECT count(*) FROM (
           |    SELECT DISTINCT $key AS k FROM $child WHERE $key IS NOT NULL) c
           |    WHERE NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pkey = c.k)) AS BIGINT)
           |    AS orphan_keys""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY fk"),

    // q42: exact epoch-micros (epoch_ns // 1000 == Spark's
    // timestamp_micros truncation); one window spec for version+lead
    query("q42_scd2_intervals", Relational.scd2Intervals) oracle
      """SELECT user_id, CAST(row_number() OVER w AS INT) AS version,
        |  CAST(round(value * 100, 0) AS BIGINT) AS value_cents,
        |  epoch_ns(ts) // 1000 AS valid_from_us,
        |  epoch_ns(lead(ts, 1) OVER w) // 1000 AS valid_to_us
        |FROM events WHERE user_id < 100
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,

    // q43: the oracle aggregates the WHOLE table in one pass — the
    // gate's content is merge(partial(base), partial(delta)) ≡ this
    query("q43_incremental_agg", Relational.incrementalAgg(_, _)) oracle
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(round(value * 100, 0)) AS BIGINT) AS sum_cents,
        |  CAST(min(round(value * 100, 0)) AS BIGINT) AS min_cents,
        |  CAST(max(round(value * 100, 0)) AS BIGINT) AS max_cents,
        |  round(sum(round(value * 100, 0)) / count(*), 6) AS avg_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q44: the θ-sketch algebra replayed literally — per-lang token
    // bottom-32 sketches, merged bottom-k for the union estimate,
    // ρ = both-sketch survivors at or below the union threshold;
    // ρ·est_union/u_keys degrades to exact when unsaturated, no branch
    query("q44_kmv_setops", Relational.kmvSetOps(_, _)) oracle
      s"""WITH toks AS (SELECT lang, unnest($Toks) AS tok FROM documents),
         |h AS (SELECT DISTINCT lang, md5(tok) AS h FROM toks),
         |exact AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact FROM h GROUP BY 1),
         |top AS (SELECT lang, h FROM (
         |    SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
         |    FROM h) r WHERE rn <= 32),
         |sk AS (SELECT t.lang, e.n_exact, list(t.h ORDER BY t.h) AS mins
         |       FROM top t JOIN exact e ON t.lang = e.lang
         |       GROUP BY t.lang, e.n_exact),
         |p AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
         |        a.n_exact AS n_a, b.n_exact AS n_b,
         |        a.mins AS ma, b.mins AS mb
         |      FROM sk a JOIN sk b ON a.lang < b.lang),
         |m AS (SELECT *, list_slice(list_sort(list_distinct(ma || mb)), 1, 32) AS u
         |      FROM p),
         |f AS (SELECT *, CAST(len(u) AS INT) AS u_keys, u[len(u)] AS kth_u FROM m),
         |g AS (SELECT *,
         |        round(CASE WHEN u_keys < 32 THEN CAST(u_keys AS DOUBLE)
         |          ELSE 31.0 * 4294967296 /
         |            greatest(${hexIntSql("kth_u", 8)}, 1) END, 4) AS est_union,
         |        CAST(len(list_filter(list_intersect(ma, mb), x -> x <= kth_u))
         |          AS INT) AS rho
         |      FROM f)
         |SELECT lang_a, lang_b, n_a, n_b, u_keys, kth_u, est_union, rho,
         |  round(rho * est_union / u_keys, 4) AS est_inter
         |FROM g ORDER BY lang_a, lang_b""".stripMargin,

    // q45: the ordered funnel — each stage anchors on the previous
    // stage's earliest qualifying timestamp, strictly increasing
    query("q45_funnel", Relational.funnelSteps(_, _)) oracle
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t GROUP BY 1)
        |SELECT 1 AS step, 'view' AS event_type,
        |  CAST((SELECT count(*) FROM v) AS BIGINT) AS users
        |UNION ALL SELECT 2, 'click', CAST((SELECT count(*) FROM c) AS BIGINT)
        |UNION ALL SELECT 3, 'purchase', CAST((SELECT count(*) FROM p) AS BIGINT)
        |ORDER BY step""".stripMargin,

    // q41: the oracle replays the selection definition directly —
    // k = ceil(q·n/100), value = the k-th smallest integer-cent price
    query("q41_exact_kth", Relational.exactKth(_, _)) oracle
      """WITH v AS (
        |  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v FROM lineitem),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
        |t AS (
        |  SELECT q, n.n, (q * n.n + 99) // 100 AS k
        |  FROM (VALUES (25), (50), (75)) AS qs(q), n),
        |s AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v)
        |SELECT 'p' || CAST(t.q AS VARCHAR) AS stat, t.n,
        |  CAST(t.k AS BIGINT) AS k, s.v AS value_cents
        |FROM t JOIN s ON s.rn = t.k
        |ORDER BY stat""".stripMargin,

    // q46: robust outliers — lower medians at rank (n+1) // 2 under
    // (value, key) order, MAD the same way over deviations, and the
    // cleared-denominator modified-z test 6745·d > 10·t·mad at the
    // standard t = 3500 (3.5 MADs), which genuinely fires per group
    query("q46_robust_outliers", Relational.robustOutliers(_, _)) oracle
      """WITH o AS (
        |  SELECT event_id, event_type AS grp,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |rv AS (
        |  SELECT grp, cents,
        |    row_number() OVER (PARTITION BY grp ORDER BY cents, event_id) AS rn,
        |    count(*) OVER (PARTITION BY grp) AS n
        |  FROM o),
        |med AS (SELECT grp, cents AS med FROM rv WHERE rn = (n + 1) // 2),
        |dev AS (
        |  SELECT o.grp, o.event_id, o.cents, m.med,
        |    abs(o.cents - m.med) AS d
        |  FROM o JOIN med m ON o.grp = m.grp),
        |rd AS (
        |  SELECT grp, d,
        |    row_number() OVER (PARTITION BY grp ORDER BY d, event_id) AS rn,
        |    count(*) OVER (PARTITION BY grp) AS n
        |  FROM dev),
        |mad AS (SELECT grp, d AS mad FROM rd WHERE rn = (n + 1) // 2)
        |SELECT v.grp, v.event_id, v.cents, v.med, a.mad, v.d
        |FROM dev v JOIN mad a ON v.grp = a.grp
        |WHERE a.mad > 0 AND v.d * 6745 > a.mad * 35000
        |ORDER BY v.grp, v.event_id""".stripMargin,

    // q47: equi-depth histogram — B boundaries at exact global ranks
    // ceil(i·n/B) under (value, unique-key) order, one row_number
    query("q47_equidepth_hist", Relational.equiDepthHistogram(_, _)) oracle
      """WITH v AS (
        |  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v,
        |    l_orderkey, l_linenumber
        |  FROM lineitem),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
        |r AS (
        |  SELECT v,
        |    row_number() OVER (ORDER BY v, l_orderkey, l_linenumber) AS rn
        |  FROM v),
        |t AS (
        |  SELECT CAST(b AS INT) AS bucket, (b * n.n + 15) // 16 AS k
        |  FROM (SELECT unnest(range(1, 17)) AS b) bb, n)
        |SELECT t.bucket, CAST(t.k AS BIGINT) AS k, r.v AS boundary_cents
        |FROM t JOIN r ON r.rn = t.k
        |ORDER BY t.bucket""".stripMargin,

    // q48: grouped OLS trend — daily cent rollups, per-group
    // re-centered day index, and the exact integer slope fraction
    // (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with a CASE sign; no division
    query("q48_group_trend", Relational.groupTrend(_, _)) oracle
      """WITH daily AS (
        |  SELECT event_type AS grp,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |d0 AS (SELECT grp, min(day) AS d0 FROM daily GROUP BY 1),
        |m AS (
        |  SELECT d.grp, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(d.day - t.d0) AS BIGINT) AS sx,
        |    CAST(sum(d.y) AS BIGINT) AS sy,
        |    CAST(sum((d.day - t.d0) * (d.day - t.d0)) AS BIGINT) AS sxx,
        |    CAST(sum((d.day - t.d0) * d.y) AS BIGINT) AS sxy
        |  FROM daily d JOIN d0 t USING (grp) GROUP BY 1)
        |SELECT grp, CAST(n AS INT) AS n_days,
        |  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
        |  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
        |  CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
        |            WHEN n * sxy - sx * sy > 0 THEN 1
        |            WHEN n * sxy - sx * sy < 0 THEN -1
        |            ELSE 0 END AS INT) AS trend
        |FROM m ORDER BY grp""".stripMargin,

    // q49: gap-constrained event chains — all view→click→purchase
    // chains with each hop within the gap, exact integer micros,
    // strict > so equal timestamps never chain
    query("q49_gap_chains", Relational.gapChains(_, _)) oracle
      """WITH e AS (SELECT user_id, event_id, event_type,
        |            epoch_ns(ts) // 1000 AS us FROM events),
        |v AS (SELECT user_id, us AS v_us FROM e WHERE event_type = 'view'),
        |c AS (SELECT user_id, us AS c_us FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, us AS p_us FROM e WHERE event_type = 'purchase')
        |SELECT v.user_id, CAST(count(*) AS BIGINT) AS n_chains,
        |  CAST(min(v.v_us) AS BIGINT) AS first_start_us,
        |  CAST(max(p.p_us) AS BIGINT) AS last_end_us
        |FROM v JOIN c ON v.user_id = c.user_id
        |  AND c_us > v_us AND c_us - v_us <= CAST(360 AS BIGINT) * 60 * 1000000
        |JOIN p ON c.user_id = p.user_id
        |  AND p_us > c_us AND p_us - c_us <= CAST(360 AS BIGINT) * 60 * 1000000
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin,

    // q50: Page's CUSUM per user — the clamped recursion replayed as
    // prefix-sum minus running-min (exact identity), deviations on the
    // cents grid against the floor'd global mean
    query("q50_cusum", Relational.cusumChart(_, _)) oracle
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |m AS (SELECT sum(cents) // count(*) AS mu FROM e),
        |s AS (
        |  SELECT user_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS idx,
        |    sum(cents - m.mu) OVER (PARTITION BY user_id ORDER BY us, event_id) AS p
        |  FROM e CROSS JOIN m),
        |cu AS (
        |  SELECT user_id, idx,
        |    p - least(min(p) OVER (PARTITION BY user_id
        |          ORDER BY idx), 0) AS cs
        |  FROM s)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(max(cs) AS BIGINT) AS max_cusum,
        |  CAST(min(CASE WHEN cs >= 100000 THEN idx END) AS INT) AS alarm_idx
        |FROM cu GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q51: bitmap audience overlap — the STRONG gate form: the Spark
    // side packs users into 32-bit lanes and popcounts AND'd words,
    // while this oracle is plain COUNT(DISTINCT) self-joins with no
    // bitmap logic at all, so any miscounted bit hash-mismatches
    query("q51_bitmap_overlap", Relational.bitmapOverlap) oracle
      """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
        |cnt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |        FROM du GROUP BY 1),
        |bo AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         CAST(count(*) AS BIGINT) AS n_both
        |       FROM du a JOIN du b ON a.user_id = b.user_id
        |         AND a.event_type < b.event_type
        |       GROUP BY 1, 2)
        |SELECT type_a, type_b, ca.n AS n_a, cb.n AS n_b, n_both,
        |  (n_both * 1000000) // (ca.n + cb.n - n_both) AS jaccard_ppm
        |FROM bo JOIN cnt ca ON ca.event_type = type_a
        |        JOIN cnt cb ON cb.event_type = type_b
        |ORDER BY type_a, type_b""".stripMargin,

    // q52: event-time RANGE frames — trailing hour / leading 10 min
    // by exact micros distance; RANGE peer semantics (all rows at the
    // boundary value) must agree across engines
    query("q52_range_window", Relational.trailingRangeWindow) oracle
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |  CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events)
        |SELECT user_id, event_id, us,
        |  CAST(count(*) OVER wb AS BIGINT) AS n_hour_back,
        |  CAST(sum(cents) OVER wb AS BIGINT) AS cents_hour_back,
        |  CAST(count(*) OVER wf AS BIGINT) AS n_10m_fwd
        |FROM e
        |WINDOW wb AS (PARTITION BY user_id ORDER BY us
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
        |  wf AS (PARTITION BY user_id ORDER BY us
        |    RANGE BETWEEN CURRENT ROW AND 600000000 FOLLOWING)
        |ORDER BY user_id, us, event_id""".stripMargin,

    // q53: the oracle snapshots the WHOLE changelog in one pass — the
    // gate's content is apply(snapshot(base), delta) ≡ snapshot(full)
    query("q53_merge_upsert", Relational.mergeUpsert) oracle
      """WITH log AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    CAST(round(value * 100, 0) AS BIGINT) AS value_cents
        |  FROM events),
        |latest AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY us DESC, event_id DESC) AS rn FROM log)
        |SELECT user_id, event_id AS last_event_id, us AS last_us, value_cents
        |FROM latest WHERE rn = 1 AND op = 'U' ORDER BY user_id""".stripMargin,

    // q54: the oracle probes the SCD2 intervals by genuine BETWEEN
    // containment — a different plan than the Spark-side union +
    // carry-forward, so the hash proves carry-forward ≡ containment
    query("q54_pit_join", Relational.pitJoin) oracle
      """WITH v AS (SELECT user_id, CAST(row_number() OVER w AS INT) AS version,
        |    CAST(round(value * 100, 0) AS BIGINT) AS value_cents,
        |    epoch_ns(ts) // 1000 AS valid_from_us,
        |    epoch_ns(lead(ts, 1) OVER w) // 1000 AS valid_to_us
        |  FROM events WHERE user_id < 100
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (SELECT user_id, event_id AS probe_event_id,
        |    epoch_ns(ts) // 1000 - 1 AS probe_us
        |  FROM events WHERE user_id < 100 AND event_id % 7 = 0)
        |SELECT p.user_id, p.probe_event_id, p.probe_us,
        |  v.version AS pit_version, v.value_cents AS pit_value_cents
        |FROM p LEFT JOIN v ON p.user_id = v.user_id
        |  AND p.probe_us >= v.valid_from_us
        |  AND (v.valid_to_us IS NULL OR p.probe_us < v.valid_to_us)
        |ORDER BY p.user_id, p.probe_us, p.probe_event_id""".stripMargin,

    // q55: per-key fan-out audit of a planned equi-join — top keys by
    // output contribution with exact ppm shares
    query("q55_join_skew", Relational.joinSkewAdvisor(_, _)) oracle
      """WITH l AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_left
        |    FROM events GROUP BY user_id),
        |r AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_right
        |    FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |fan AS (SELECT l.user_id, n_left, n_right, n_left * n_right AS fanout
        |    FROM l JOIN r ON l.user_id = r.user_id),
        |tot AS (SELECT CAST(sum(fanout) AS BIGINT) AS total_fanout FROM fan),
        |top AS (SELECT *, CAST(row_number() OVER (ORDER BY fanout DESC,
        |    user_id) AS INT) AS rn FROM fan)
        |SELECT rn, user_id, n_left, n_right, fanout, total_fanout,
        |  CAST(fanout * 1000000 // total_fanout AS BIGINT) AS share_ppm
        |FROM top, tot WHERE rn <= 10 ORDER BY rn""".stripMargin,

    // q59: top session paths — q27's gap sessions, ordered type
    // q60: overlap islands — type-duration intervals, running-max
    // island cut (strictly-after opens a new island; touching merges),
    // contiguous [min s, max e] per island
    query("q60_interval_islands", Relational.intervalIslands) oracle
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS s,
        |    epoch_ns(ts) // 1000 + (CASE event_type WHEN 'view' THEN 5
        |      WHEN 'click' THEN 10 WHEN 'purchase' THEN 30
        |      WHEN 'signup' THEN 15 ELSE 1 END) * 60000000 AS e
        |  FROM events
        |),
        |m AS (
        |  SELECT user_id, event_id, s, e,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
        |  FROM iv
        |),
        |f AS (
        |  SELECT user_id, s, e,
        |    CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END AS ni,
        |    event_id
        |  FROM m
        |),
        |isl AS (
        |  SELECT user_id, s, e,
        |    sum(ni) OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
        |  FROM f
        |)
        |SELECT user_id, CAST(island_id AS BIGINT) AS island_id,
        |  CAST(min(s) AS BIGINT) AS start_us, CAST(max(e) AS BIGINT) AS end_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(max(e) - min(s) AS BIGINT) AS span_us
        |FROM isl GROUP BY 1, 2 ORDER BY user_id, island_id""".stripMargin,

    // q61: Lorenz/Gini — ascending (cents, user_id) rank + running
    // spend, rank-formula Gini, decile boundary ppm; all integer-exact
    query("q61_lorenz_gini", Relational.lorenzGini(_, _)) oracle
      """WITH sp AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1
        |),
        |rk AS (
        |  SELECT user_id, cents,
        |    CAST(row_number() OVER (ORDER BY cents, user_id) AS BIGINT) AS rnk,
        |    CAST(sum(cents) OVER (ORDER BY cents, user_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM sp
        |),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s0,
        |    CAST(sum(rnk * cents) AS BIGINT) AS s1
        |  FROM rk
        |),
        |g AS (
        |  SELECT CAST((2 * s1 - (n + 1) * s0) * 1000000 // (n * s0) AS BIGINT)
        |    AS gini_ppm
        |  FROM tot
        |)
        |SELECT CAST((rnk - 1) * 10 // t.n AS INT) + 1 AS decile,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(cents) AS BIGINT) AS spend_cents,
        |  CAST(max(rnk) * 1000000 // t.n AS BIGINT) AS cum_users_ppm,
        |  CAST(max(cum) * 1000000 // t.s0 AS BIGINT) AS cum_spend_ppm,
        |  g.gini_ppm
        |FROM rk CROSS JOIN tot t CROSS JOIN g
        |GROUP BY 1, t.n, t.s0, g.gini_ppm
        |ORDER BY decile""".stripMargin,

    // strings, (count DESC, path) top-k
    query("q59_session_paths", Relational.sessionPaths(_, _)) oracle
      """WITH f AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) // 1000 AS ts_us,
        |    CASE WHEN lag(epoch_ns(ts) // 1000) OVER w IS NULL
        |      OR epoch_ns(ts) // 1000 - lag(epoch_ns(ts) // 1000) OVER w
        |         > CAST(30 AS BIGINT) * 60 * 1000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
        |s AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id
        |    ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM f),
        |p AS (SELECT user_id, session_id,
        |    string_agg(event_type, '>' ORDER BY event_id) AS path
        |  FROM s GROUP BY 1, 2),
        |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |      FROM p GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY n_sessions DESC, path)
        |    AS INT) AS rk, path, n_sessions
        |FROM c QUALIFY rk <= 10 ORDER BY rk""".stripMargin,

    // q58: multi-touch attribution — q35's join, then exact ppm split
    // with the first-touch largest-remainder bonus
    query("q58_multi_touch", Relational.multiTouchAttribution(_, _)) oracle
      """WITH a AS (SELECT event_id AS a_id, user_id,
        |            epoch_ns(ts) // 1000 AS a_us
        |          FROM events WHERE event_type = 'view'),
        |b AS (SELECT event_id AS b_id, user_id,
        |        epoch_ns(ts) // 1000 AS b_us
        |      FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT a.user_id, a_id, b_id, a_us
        |      FROM a JOIN b ON a.user_id = b.user_id
        |       AND b_us >= a_us AND b_us <= a_us + CAST(720 AS BIGINT) * 60 * 1000000),
        |wk AS (SELECT user_id, b_id AS purchase_id, a_id AS view_id,
        |    CAST(count(*) OVER (PARTITION BY b_id) AS BIGINT) AS k_touches,
        |    CAST(row_number() OVER (PARTITION BY b_id ORDER BY a_us, a_id)
        |      AS BIGINT) AS rk
        |  FROM j)
        |SELECT user_id, purchase_id, view_id, k_touches,
        |  CAST(1000000 // k_touches
        |    + CASE WHEN rk <= 1000000 % k_touches THEN 1 ELSE 0 END
        |    AS BIGINT) AS share_ppm
        |FROM wk ORDER BY purchase_id, view_id""".stripMargin,

    // q57: next-event transition matrix — lag window per user,
    // row-conditional floor-ppm probabilities
    query("q57_transitions", Relational.eventTransitions) oracle
      """WITH p AS (SELECT lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type, event_type AS next_type
        |    FROM events),
        |c AS (SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
        |      FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_n
        |      FROM c GROUP BY 1)
        |SELECT c.prev_type, c.next_type, c.n, t.row_n,
        |  c.n * 1000000 // t.row_n AS p_ppm
        |FROM c JOIN t USING (prev_type)
        |ORDER BY c.prev_type, c.next_type""".stripMargin,

    // q56: exact KS — RANGE-frame CDF counts (ties complete), the
    // sup cross-multiplied to one integer, floor-ppm report
    query("q56_ks_drift", Relational.ksDrift) oracle
      """WITH ev AS (SELECT event_type, event_id,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |ty AS (SELECT DISTINCT event_type FROM ev),
        |cnt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |        FROM ev GROUP BY 1),
        |pr AS (SELECT least(e.event_type, t.event_type) AS type_a,
        |    greatest(e.event_type, t.event_type) AS type_b,
        |    e.event_type, e.cents
        |  FROM ev e JOIN ty t ON t.event_type <> e.event_type),
        |cdf AS (SELECT type_a, type_b, event_type, cents,
        |    sum(CASE WHEN event_type = type_a THEN 1 ELSE 0 END)
        |      OVER w AS cnt_a,
        |    sum(CASE WHEN event_type = type_b THEN 1 ELSE 0 END)
        |      OVER w AS cnt_b
        |  FROM pr
        |  WINDOW w AS (PARTITION BY type_a, type_b ORDER BY cents
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |ks AS (SELECT c.type_a, c.type_b, ca.n AS n_a, cb.n AS n_b,
        |    CAST(max(abs(cnt_a * cb.n - cnt_b * ca.n)) AS BIGINT) AS ks_num
        |  FROM cdf c
        |  JOIN cnt ca ON ca.event_type = c.type_a
        |  JOIN cnt cb ON cb.event_type = c.type_b
        |  GROUP BY 1, 2, 3, 4)
        |SELECT type_a, type_b, n_a, n_b, ks_num,
        |  ks_num * 1000000 // (n_a * n_b) AS ks_ppm
        |FROM ks ORDER BY type_a, type_b""".stripMargin,

    query("q23_percentiles", Relational.percentiles) oracle
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    query("q24_cube", Relational.cubeAgg) oracle
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin,

    query("q25_pivot", Relational.pivotStatus) oracle
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS BIGINT) AS F,
        |  CAST(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS BIGINT) AS O
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    query("q26_window_frames", Relational.windowFrames) oracle
      """SELECT user_id, event_id, value,
        |  round(sum(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_sum,
        |  round(sum(value) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_sum3,
        |  first_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_val
        |FROM events WHERE user_id < 10
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    // the account-balance threshold averages exact integer cents so
    // both engines compute the identical cut (a float-sum average
    // could land a boundary customer on different sides)
    query("q31_correlated_scalar", Relational.correlatedScalar) oracle
      """SELECT c.c_custkey, c.c_mktsegment,
        |  CAST((SELECT count(*) FROM orders o
        |        WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS n_orders
        |FROM customer c
        |WHERE c.c_acctbal >
        |  (SELECT sum(CAST(round(c2.c_acctbal * 100) AS BIGINT)) / (count(*) * 100.0e0)
        |   FROM customer c2)
        |ORDER BY c.c_custkey""".stripMargin,

    query("q32_rank_variants", Relational.rankVariants) oracle
      """SELECT o_orderkey, o_orderpriority, o_orderstatus,
        |  CAST(ntile(4) OVER (PARTITION BY o_orderpriority
        |         ORDER BY o_orderstatus, o_orderkey) AS INT) AS quartile,
        |  round(percent_rank() OVER (PARTITION BY o_orderpriority
        |         ORDER BY o_orderstatus), 6) AS pct_rank,
        |  round(cume_dist() OVER (PARTITION BY o_orderpriority
        |         ORDER BY o_orderstatus), 6) AS cume
        |FROM orders WHERE o_orderkey % 7 = 0
        |ORDER BY o_orderkey""".stripMargin,

    query("q33_lateral_topn", Relational.lateralTopN) oracle
      """SELECT n.n_name, t.c_custkey, t.bal_cents
        |FROM nation n,
        |LATERAL (
        |  SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY bal_cents DESC, c_custkey
        |  LIMIT 2
        |) t
        |ORDER BY n.n_name, t.bal_cents DESC, t.c_custkey""".stripMargin,

    // first-touch cohorts; week offset via explicit integer division
    // (a double divide + cast-to-int ROUNDS in DuckDB but TRUNCATES in
    // Spark — `//` / `DIV` floor identically for the nonnegative offsets)
    query("q34_cohort_retention", Relational.cohortRetention) oracle
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |firsts AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1)
        |SELECT f.cohort_day,
        |  CAST((a.day - f.cohort_day) // 7 AS INT) AS week_offset,
        |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM act a JOIN firsts f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    query("q28_asof_join", Relational.asofJoin) oracle
      """WITH tagged AS (
        |  SELECT user_id, event_id, event_type, value,
        |    CASE WHEN event_type = 'click' THEN event_id END AS click_id,
        |    CASE WHEN event_type = 'click' THEN value END AS click_value
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |),
        |carried AS (
        |  SELECT user_id, event_id, event_type, value,
        |    last_value(click_id IGNORE NULLS) OVER w AS asof_click_id,
        |    last_value(click_value IGNORE NULLS) OVER w AS asof_click_value
        |  FROM tagged
        |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT user_id, event_id, value, asof_click_id, asof_click_value
        |FROM carried WHERE event_type = 'purchase'
        |ORDER BY user_id, event_id""".stripMargin,

    // q35: interval-bounded attribution join in exact integer micros —
    // epoch_ns // 1000 mirrors the engine's TimestampType truncation of
    // the parquet TIMESTAMP_NS (raw ns comparison could flip a boundary
    // pair whose events share a microsecond)
    // the streaming interval join's batch twin: the IDENTICAL plan
    // (withWatermark is a no-op in batch), projected to integer micros
    // because the raw event timestamps carry sub-microsecond precision
    // the engine's TimestampType truncates
    query("q35_interval_attribution", (s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.streaming.EventStream.intervalJoinStream(
          Tables.events(s, d), maxDelayMin = 720)
        .select(col("user_id"), col("a_id"), col("b_id"),
          unix_micros(col("a_ts")).as("a_us"), unix_micros(col("b_ts")).as("b_us"),
          col("a_value"), col("b_value"))
        .orderBy(col("a_id"), col("b_id"))
    }) oracle
      """WITH a AS (SELECT event_id AS a_id, user_id,
        |            epoch_ns(ts) // 1000 AS a_us, value AS a_value
        |          FROM events WHERE event_type = 'view'),
        |b AS (SELECT event_id AS b_id, user_id,
        |        epoch_ns(ts) // 1000 AS b_us, value AS b_value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT a.user_id, a_id, b_id, a_us, b_us, a_value, b_value
        |FROM a JOIN b ON a.user_id = b.user_id
        | AND b_us >= a_us AND b_us <= a_us + CAST(720 AS BIGINT) * 60 * 1000000
        |ORDER BY a_id, b_id""".stripMargin,

    // q36: the q35 complement — NOT EXISTS over the same interval, in
    // the same exact integer micros
    // q35's left-outer complement: views the watermark proved
    // unattributed — in batch, left-outer + null-filter IS the
    // oracle's NOT EXISTS over the interval
    query("q36_unattributed_views", (s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.streaming.EventStream.unattributedStream(
          Tables.events(s, d), maxDelayMin = 720)
        .select(col("user_id"), col("a_id"),
          unix_micros(col("a_ts")).as("a_us"), col("a_value"))
        .orderBy(col("a_id"))
    }) oracle
      """WITH a AS (SELECT event_id AS a_id, user_id,
        |            epoch_ns(ts) // 1000 AS a_us, value AS a_value
        |          FROM events WHERE event_type = 'view'),
        |b AS (SELECT user_id, epoch_ns(ts) // 1000 AS b_us
        |      FROM events WHERE event_type = 'purchase')
        |SELECT user_id, a_id, a_us, a_value FROM a
        |WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.user_id = a.user_id
        |  AND b_us >= a_us AND b_us <= a_us + CAST(720 AS BIGINT) * 60 * 1000000)
        |ORDER BY a_id""".stripMargin,

    query("q29_range_join", Relational.rangeJoin) oracle
      """SELECT band, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events
        |JOIN (VALUES ('low', 0.0, 25.0), ('mid', 25.0, 50.0),
        |             ('high', 50.0, 75.0), ('top', 75.0, 1e9)) b(band, lo, hi)
        |  ON value >= lo AND value < hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q62: Theil within/between decomposition — fixed-point log2 grid,
    // exact integer numerators, sign-explicit HUGEINT ppm
    query("q62_theil", Relational.theilIndex) oracle theilSql,

    // q65: truncated EWMA — exact integer weights 16384·(3/4)^k,
    // per-user lag window, available-mass renormalization
    query("q65_ewma", Relational.ewmaSmooth) oracle {
      val lags = graft.operators.Relational.EwmaW.zipWithIndex.map {
        case (_, k) => s"lag(cents, $k) OVER w AS l$k"
      }.mkString(",\n        |    ")
      val dot = graft.operators.Relational.EwmaW.zipWithIndex.map {
        case (wt, k) => s"CASE WHEN l$k IS NOT NULL THEN $wt * l$k ELSE 0 END"
      }.mkString(" + ")
      val wsum = graft.operators.Relational.EwmaW.zipWithIndex.map {
        case (wt, k) => s"CASE WHEN l$k IS NOT NULL THEN $wt ELSE 0 END"
      }.mkString(" + ")
      s"""WITH b0 AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |b AS (SELECT * FROM b0 WHERE cents >= 0),
        |l AS (SELECT user_id, event_id, cents,
        |    $lags
        |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT user_id, event_id, cents,
        |  CAST(($dot) // ($wsum) AS BIGINT) AS ewma_cents
        |FROM l ORDER BY user_id, event_id""".stripMargin
    },

    // q64: pairwise Pearson correlation audit — exact HUGEINT moment
    // algebra, signed covariance, documented two-step-floor r² ppm
    query("q64_corr_audit", Relational.corrAudit) oracle
      """WITH m AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS x,
        |    CAST(count(*) AS BIGINT) AS y,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS z
        |  FROM events GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(z) AS BIGINT) AS sz,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * z) AS BIGINT) AS sxz,
        |    CAST(sum(y * z) AS BIGINT) AS syz,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(z * z) AS BIGINT) AS szz
        |  FROM m),
        |p AS (
        |  SELECT 'cents_vs_events' AS pair, n AS n_users,
        |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
        |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dx,
        |    CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dy
        |  FROM s
        |  UNION ALL
        |  SELECT 'cents_vs_errors' AS pair, n AS n_users,
        |    CAST(n AS HUGEINT) * sxz - CAST(sx AS HUGEINT) * sz AS num,
        |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dx,
        |    CAST(n AS HUGEINT) * szz - CAST(sz AS HUGEINT) * sz AS dy
        |  FROM s
        |  UNION ALL
        |  SELECT 'events_vs_errors' AS pair, n AS n_users,
        |    CAST(n AS HUGEINT) * syz - CAST(sy AS HUGEINT) * sz AS num,
        |    CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dx,
        |    CAST(n AS HUGEINT) * szz - CAST(sz AS HUGEINT) * sz AS dy
        |  FROM s)
        |SELECT pair, n_users,
        |  CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
        |    AS INT) AS r_sign,
        |  CASE WHEN dx = 0 OR dy = 0 THEN CAST(NULL AS BIGINT)
        |       ELSE CAST(((num * num // dx) * 1000000) // dy AS BIGINT)
        |  END AS r2_ppm
        |FROM p ORDER BY pair""".stripMargin,

    // q66: Benford second-digit audit — Nigrini's escalation; the q63
    // contract with the 10-digit constant table and cents >= 10
    query("q66_benford2", Relational.benford2Audit) oracle
      s"""WITH c AS (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT)
         |    AS cents FROM orders),
         |f AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 2, 1) AS INT)
         |    AS digit
         |  FROM c WHERE cents >= 10),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
         |o AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
         |  FROM f GROUP BY 1),
         |e(digit, exp_ppm) AS (VALUES ${
           graft.operators.Relational.Benford2Ppm
             .map { case (d, p) => s"($d, $p)" }.mkString(", ")}),
         |r AS (SELECT e.digit, CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
         |    CAST(e.exp_ppm AS BIGINT) AS exp_ppm, nn.n
         |  FROM e LEFT JOIN o USING (digit) CROSS JOIN nn),
         |r2 AS (SELECT digit, n_obs,
         |    CAST(n_obs * 1000000 // n AS BIGINT) AS obs_ppm, exp_ppm,
         |    n_obs * 1000000 - n * exp_ppm AS dev, n FROM r),
         |r3 AS (SELECT digit, n_obs, obs_ppm, exp_ppm, dev,
         |    CAST((CAST(dev AS HUGEINT) * dev) //
         |      (CAST(n AS HUGEINT) * exp_ppm) AS BIGINT) AS chi2_micro
         |  FROM r2),
         |t AS (SELECT CAST(sum(chi2_micro) AS BIGINT) AS chi2_micro_total
         |  FROM r3)
         |SELECT digit, n_obs, obs_ppm, exp_ppm, dev, chi2_micro,
         |  t.chi2_micro_total
         |FROM r3 CROSS JOIN t ORDER BY digit""".stripMargin,

    // q67: Theil L (mean log deviation) — q62's dual on the same
    // fixed-point grid; ppm divides by n_g*2^F
    query("q67_theil_l", Relational.theilL) oracle theilLSql,

    // q63: Benford first-digit audit — shared literal constant table,
    // exact common-denominator deviations, HUGEINT χ² micro terms
    query("q63_benford", Relational.benfordAudit) oracle
      s"""WITH c AS (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT)
         |    AS cents FROM orders),
         |f AS (SELECT CAST(left(CAST(cents AS VARCHAR), 1) AS INT) AS digit
         |  FROM c WHERE cents >= 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
         |o AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
         |  FROM f GROUP BY 1),
         |e(digit, exp_ppm) AS (VALUES ${
           graft.operators.Relational.BenfordPpm
             .map { case (d, p) => s"($d, $p)" }.mkString(", ")}),
         |r AS (SELECT e.digit, CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
         |    CAST(e.exp_ppm AS BIGINT) AS exp_ppm, nn.n
         |  FROM e LEFT JOIN o USING (digit) CROSS JOIN nn),
         |r2 AS (SELECT digit, n_obs,
         |    CAST(n_obs * 1000000 // n AS BIGINT) AS obs_ppm, exp_ppm,
         |    n_obs * 1000000 - n * exp_ppm AS dev, n FROM r),
         |r3 AS (SELECT digit, n_obs, obs_ppm, exp_ppm, dev,
         |    CAST((CAST(dev AS HUGEINT) * dev) //
         |      (CAST(n AS HUGEINT) * exp_ppm) AS BIGINT) AS chi2_micro
         |  FROM r2),
         |t AS (SELECT CAST(sum(chi2_micro) AS BIGINT) AS chi2_micro_total
         |  FROM r3)
         |SELECT digit, n_obs, obs_ppm, exp_ppm, dev, chi2_micro,
         |  t.chi2_micro_total
         |FROM r3 CROSS JOIN t ORDER BY digit""".stripMargin,

    query("q27_sessionize_batch", Relational.sessionizeBatch) oracle
      """WITH flagged AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN ts - lag(ts, 1) OVER w > INTERVAL 30 MINUTE
        |           OR lag(ts, 1) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |),
        |sess AS (
        |  SELECT user_id, event_id,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, min(event_id) AS first_event, max(event_id) AS last_event
        |FROM sess GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin,
  )
}
