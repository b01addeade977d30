package graft.operators

import graft.OracleSql._
import graft.Query
import graft.Query.query

/** The t-family: text statistics, tokenizers, quality signals and keywords. */
object TextQueries {

  /** every (doc_id, shingle) occurrence — bag semantics (frequency ops). */
  private val ShxCte =
    s"shx AS (SELECT doc_id, $GramExpr AS sh FROM $GramPos)"

  /** DuckDB mirror of TextAnalysis.wordPieceEncode (t33): vocab
    * learning (all single chars + top character 2/3-grams of the
    * distinct word set) and the greedy longest-match loop unrolled to
    * `rounds` generated CTE pairs — pick (length DESC, gram argmax per
    * word), then advance. AS MATERIALIZED per round (the bpeSql
    * lesson).
    */
  private def wordPieceSql(topGrams: Int, maxWordLen: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH ${tkCte("")},
       |ww AS (SELECT DISTINCT unnest(tk) AS word FROM tk),
       |w AS (SELECT word FROM ww WHERE length(word) BETWEEN 1 AND $maxWordLen),
       |singles AS (
       |  SELECT DISTINCT substr(word, CAST(i AS INT), 1) AS v
       |  FROM w, UNNEST(range(1, $maxWordLen + 1)) AS t(i)
       |  WHERE i <= length(word)),
       |gm AS (
       |  SELECT substr(word, CAST(i AS INT), CAST(n AS INT)) AS v,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM w, UNNEST(range(2, 4)) AS tn(n),
       |    UNNEST(range(1, $maxWordLen + 1)) AS t(i)
       |  WHERE i + n - 1 <= length(word)
       |  GROUP BY 1),
       |topg AS (
       |  SELECT v FROM (
       |    SELECT v, row_number() OVER (ORDER BY cnt DESC, v) AS rn FROM gm) r
       |  WHERE rn <= $topGrams),
       |vocab AS MATERIALIZED (
       |  SELECT v, CAST(length(v) AS INT) AS vl FROM (
       |    SELECT v FROM singles UNION SELECT v FROM topg) u),
       |s0 AS (SELECT word, CAST(1 AS INT) AS off FROM w)""".stripMargin
    for (r <- 1 to maxWordLen) {
      sb ++= s""",
         |pick$r AS MATERIALIZED (
         |  SELECT word, off, v, vl FROM (
         |    SELECT s.word, s.off, vb.v, vb.vl,
         |      row_number() OVER (PARTITION BY s.word
         |        ORDER BY vb.vl DESC, vb.v) AS rn
         |    FROM s${r - 1} s JOIN vocab vb
         |      ON substr(s.word, s.off, vb.vl) = vb.v) c
         |  WHERE rn = 1),
         |e$r AS (SELECT word, CAST($r AS INT) AS pos,
         |  CASE WHEN off = 1 THEN v ELSE '##' || v END AS piece FROM pick$r),
         |s$r AS MATERIALIZED (
         |  SELECT word, CAST(off + vl AS INT) AS off FROM pick$r
         |  WHERE off + vl <= length(word))""".stripMargin
    }
    sb ++= "\nSELECT word, pos, piece FROM ("
    sb ++= (1 to maxWordLen).map(r => s"SELECT * FROM e$r")
      .mkString(" UNION ALL ")
    sb ++= ") u ORDER BY word, pos"
    sb.toString
  }

  /** DuckDB mirror of graft.operators.Unigram (t44/t45): the WHOLE
    * unigram-LM training run replayed declaratively — seed substring
    * frequencies, then per EM round a fixed-point cost assignment
    * ([[ilogChainSql]]), a Viterbi DP unrolled to word-length rounds
    * (per position the (cost, np, path) argmin over the <= MaxPieceLen
    * candidate spans; the '|'-joined path string is the total
    * tie-break, equal-length by construction among compared
    * candidates), the usage re-count, and the prune. `encode = false`
    * emits the final vocabulary with costs (t44); `encode = true` runs
    * one more DP under the final costs and unnests the segmentations
    * (t45). AS MATERIALIZED on every reused round table — the bpeSql
    * lesson.
    */
  private def unigramSql(encode: Boolean): String = {
    import graft.operators.Unigram.{MaxWordLen, MaxPieceLen, SeedMultis, KeepSchedule}
    val sb = new StringBuilder
    sb ++= s"""WITH ${tkCte("")},
       |wc AS (SELECT word, CAST(count(*) AS BIGINT) AS wcount
       |  FROM (SELECT unnest(tk) AS word FROM tk) GROUP BY 1),
       |w AS MATERIALIZED (
       |  SELECT word, wcount FROM wc
       |  WHERE length(word) BETWEEN 1 AND $MaxWordLen),
       |sub AS MATERIALIZED (
       |  SELECT substr(word, CAST(i AS INT), CAST(n AS INT)) AS piece,
       |    CAST(sum(wcount) AS BIGINT) AS freq
       |  FROM w, UNNEST(range(1, $MaxWordLen + 1)) AS t(i),
       |    UNNEST(range(1, $MaxPieceLen + 1)) AS tn(n)
       |  WHERE i + n - 1 <= length(word)
       |  GROUP BY 1),
       |sing AS (SELECT piece, freq FROM sub WHERE length(piece) = 1),
       |v0 AS MATERIALIZED (
       |  SELECT piece, freq FROM sing
       |  UNION ALL
       |  SELECT piece, freq FROM (
       |    SELECT piece, freq,
       |      row_number() OVER (ORDER BY freq DESC, piece) AS rn
       |    FROM sub WHERE length(piece) >= 2) q
       |  WHERE rn <= $SeedMultis)""".stripMargin
    // one cost table + Viterbi DP + segmentation per stage; stages are
    // the EM rounds plus (for t45) a final encode under the last vocab
    def costStage(stage: String, vocabCte: String): String = {
      sb ++= s""",
         |t$stage AS (SELECT CAST(sum(freq) AS BIGINT) AS tv FROM $vocabCte)""".stripMargin
      val (ltText, ltName) = ilogChainSql(s"lt$stage", s"t$stage", "tv", "lt", Nil)
      val (lfText, lfName) =
        ilogChainSql(s"lf$stage", vocabCte, "freq", "lf", Seq("piece", "freq"))
      sb ++= ltText
      sb ++= lfText
      sb ++= s""",
         |cost$stage AS MATERIALIZED (
         |  SELECT f.piece, f.freq, (t.lt - f.lf) AS cost
         |  FROM $lfName f CROSS JOIN $ltName t)""".stripMargin
      s"cost$stage"
    }
    def dpStage(stage: String, costCte: String): String = {
      sb ++= s""",
         |ed$stage AS MATERIALIZED (
         |  SELECT w.word, CAST(i AS INT) AS s, CAST(n AS INT) AS n,
         |    c.piece, c.cost
         |  FROM w, UNNEST(range(1, $MaxWordLen + 1)) AS t(i),
         |    UNNEST(range(1, $MaxPieceLen + 1)) AS tn(n), $costCte c
         |  WHERE i + n - 1 <= length(w.word)
         |    AND substr(w.word, CAST(i AS INT), CAST(n AS INT)) = c.piece),
         |dp${stage}_0 AS (SELECT word, CAST(0 AS BIGINT) AS cost,
         |  CAST(0 AS INT) AS np, '' AS path FROM w)""".stripMargin
      for (j <- 1 to MaxWordLen) {
        val branches = (1 to math.min(MaxPieceLen, j)).map { n =>
          s"""SELECT d.word, d.cost + e.cost AS cost,
             |      CAST(d.np + 1 AS INT) AS np,
             |      CASE WHEN d.np = 0 THEN e.piece
             |           ELSE d.path || '|' || e.piece END AS path
             |    FROM dp${stage}_${j - n} d JOIN ed$stage e
             |      ON e.word = d.word AND e.s = ${j - n + 1} AND e.n = $n""".stripMargin
        }.mkString("\n    UNION ALL\n    ")
        sb ++= s""",
           |dp${stage}_$j AS MATERIALIZED (
           |  SELECT word, cost, np, path FROM (
           |    SELECT c.*, row_number() OVER (PARTITION BY word
           |      ORDER BY cost, np, path) AS rn
           |    FROM ($branches) c) x
           |  WHERE rn = 1)""".stripMargin
      }
      val segBranches = (1 to MaxWordLen).map(j =>
        s"SELECT d.word, w.wcount, d.path FROM dp${stage}_$j d " +
          s"JOIN w ON w.word = d.word AND length(w.word) = $j")
        .mkString("\n  UNION ALL\n  ")
      sb ++= s""",
         |seg$stage AS MATERIALIZED (
         |  $segBranches)""".stripMargin
      s"seg$stage"
    }
    var vocab = "v0"
    for ((keep, i) <- KeepSchedule.zipWithIndex) {
      val r = i + 1
      val cost = costStage(s"$r", vocab)
      val seg = dpStage(s"$r", cost)
      sb ++= s""",
         |use$r AS MATERIALIZED (
         |  SELECT piece, CAST(sum(wcount) AS BIGINT) AS usage FROM (
         |    SELECT unnest(string_split(path, '|')) AS piece, wcount
         |    FROM $seg) u
         |  GROUP BY 1),
         |v$r AS MATERIALIZED (
         |  SELECT s.piece, greatest(coalesce(u.usage, 0), 1) AS freq
         |  FROM sing s LEFT JOIN use$r u ON u.piece = s.piece
         |  UNION ALL
         |  SELECT piece, usage AS freq FROM (
         |    SELECT piece, usage,
         |      row_number() OVER (ORDER BY usage DESC, piece) AS rn
         |    FROM use$r WHERE length(piece) >= 2 AND usage > 0) q
         |  WHERE rn <= $keep)""".stripMargin
      vocab = s"v$r"
    }
    val costF = costStage("f", vocab)
    if (!encode) {
      sb ++= s"\nSELECT piece, freq, cost FROM $costF ORDER BY piece"
    } else {
      val segF = dpStage("f", costF)
      sb ++= s""",
         |pieces AS (
         |  SELECT word,
         |    CAST(unnest(range(1, len(string_split(path, '|')) + 1)) AS INT)
         |      AS pos,
         |    unnest(string_split(path, '|')) AS piece
         |  FROM $segF)
         |SELECT word, pos, piece FROM pieces ORDER BY word, pos""".stripMargin
    }
    sb.toString
  }

  /** DuckDB mirror of TextAnalysis.zipfFit (t46): per-source top-R
    * token ranks, two ilogChainSql passes (rank then freq onto the
    * shared fixed-point grid), and the integer least-squares slope/R²
    * with the division sign handled explicitly (both engines only ever
    * divide non-negative operands — Spark `div` truncates toward zero,
    * DuckDB `//` floors, and they agree exactly there). The R²
    * numerator rides HUGEINT (the t40 chi² discipline).
    */
  private def zipfSql(topR: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH occ AS (SELECT source, unnest($Toks) AS token FROM documents),
       |cnt AS (SELECT source, token, CAST(count(*) AS BIGINT) AS freq
       |  FROM occ GROUP BY 1, 2),
       |top AS (SELECT source, freq,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY freq DESC, token) AS BIGINT) AS rnk
       |  FROM cnt QUALIFY rnk <= $topR)""".stripMargin
    val (xt, xn) = ilogChainSql("zx", "top", "rnk", "x", Seq("source", "freq"))
    sb ++= xt
    val (yt, yn) = ilogChainSql("zy", xn, "freq", "y", Seq("source", "x"))
    sb ++= yt
    sb ++= s""",
       |st AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM $yn GROUP BY 1 HAVING count(*) >= 2),
       |nd AS (SELECT source, n, sy, syy,
       |    n * sxy - sx * sy AS num, n * sxx - sx * sx AS den
       |  FROM st)
       |SELECT source, n AS n_ranks,
       |  CAST(CASE WHEN num >= 0 THEN num * 1000000 // den
       |       ELSE -((-num) * 1000000 // den) END AS BIGINT) AS slope_ppm,
       |  CAST(CASE WHEN n * syy - sy * sy = 0 THEN NULL
       |       ELSE (CAST(num AS HUGEINT) * num * 1000000) //
       |         (CAST(den AS HUGEINT) * (n * syy - sy * sy)) END AS BIGINT)
       |    AS r2_ppm
       |FROM nd ORDER BY source""".stripMargin
    sb.toString
  }

  /** DuckDB mirror of TextAnalysis.jsDrift (t47): the (source, token)
    * counts, floor-ppm p/q/m distributions over the corpus-vocab ×
    * source grid, and one ilogChainSql pass per distribution; the
    * LEFT-joined final select keeps every source even if a side sums
    * empty (the Spark groupBy over the grid always emits all sources).
    */
  private lazy val jsDriftSql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH occ AS (SELECT source, unnest($Toks) AS token FROM documents),
       |sc AS MATERIALIZED (
       |  SELECT source, token, CAST(count(*) AS BIGINT) AS c
       |  FROM occ GROUP BY 1, 2),
       |stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS st FROM sc GROUP BY 1),
       |voc AS (SELECT token, CAST(sum(c) AS BIGINT) AS cc FROM sc GROUP BY 1),
       |nt AS (SELECT CAST(sum(cc) AS BIGINT) AS nn FROM voc),
       |qd AS MATERIALIZED (
       |  SELECT token, CAST(cc * 1000000 // nn AS BIGINT) AS q_ppm
       |  FROM voc, nt),
       |qpos AS (SELECT q_ppm FROM qd WHERE q_ppm >= 1)""".stripMargin
    val (qt, qn) = ilogChainSql("jq", "qpos", "q_ppm", "lq", Seq("q_ppm"))
    sb ++= qt
    sb ++= s""",
       |sq AS (SELECT CAST(sum(q_ppm * lq) AS BIGINT) AS s_q FROM $qn),
       |pm AS MATERIALIZED (
       |  SELECT s.source, s.st,
       |    CAST(coalesce(c.c, 0) * 1000000 // s.st AS BIGINT) AS p_ppm,
       |    CAST((coalesce(c.c, 0) * 1000000 // s.st + q.q_ppm) // 2
       |      AS BIGINT) AS m_ppm
       |  FROM qd q CROSS JOIN stot s
       |  LEFT JOIN sc c ON c.source = s.source AND c.token = q.token),
       |ppos AS (SELECT source, p_ppm FROM pm WHERE p_ppm >= 1)""".stripMargin
    val (pt, pn) = ilogChainSql("jp", "ppos", "p_ppm", "lp", Seq("source", "p_ppm"))
    sb ++= pt
    sb ++= s""",
       |sp AS (SELECT source, CAST(sum(p_ppm * lp) AS BIGINT) AS s_p
       |  FROM $pn GROUP BY 1),
       |mpos AS (SELECT source, m_ppm FROM pm WHERE m_ppm >= 1)""".stripMargin
    val (mt, mn) = ilogChainSql("jm", "mpos", "m_ppm", "lm", Seq("source", "m_ppm"))
    sb ++= mt
    sb ++= s""",
       |sm AS (SELECT source, CAST(sum(m_ppm * lm) AS BIGINT) AS s_m
       |  FROM $mn GROUP BY 1)
       |SELECT t.source, t.st AS n_tokens,
       |  CAST(coalesce(sp.s_p, 0) AS BIGINT) AS s_p,
       |  CAST(coalesce(sm.s_m, 0) AS BIGINT) AS s_m, sq.s_q,
       |  CAST((coalesce(sp.s_p, 0) + sq.s_q) // 2 - coalesce(sm.s_m, 0)
       |    AS BIGINT) AS jsd_fix
       |FROM stot t
       |LEFT JOIN sp ON sp.source = t.source
       |LEFT JOIN sm ON sm.source = t.source
       |CROSS JOIN sq
       |ORDER BY t.source""".stripMargin
    sb.toString
  }

  /** DuckDB mirror of TextAnalysis.tfidfTerms (t49): the full-corpus
    * tf/df tables, the d36 ilog weight algebra, and a per-doc rank.
    */
  private def tfidfTermsSql(topT: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH ${tkCte("")},
       |tf AS MATERIALIZED (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(tk) AS tok FROM tk) t GROUP BY 1, 2),
       |ndc AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
       |dfc AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)""".stripMargin
    val (at, an) = ilogChainSql("ka", "ndc", "nd", "lnd", Nil)
    sb ++= at
    val (bt, bn) = ilogChainSql("kb", "dfc", "df", "ldf", Seq("tok"))
    sb ++= bt
    sb ++= s""",
       |wt AS (SELECT t.doc_id, t.tok AS token,
       |    CAST(t.tf * (a.lnd - b.ldf) AS BIGINT) AS w
       |  FROM tf t JOIN $bn b ON b.tok = t.tok CROSS JOIN $an a
       |  WHERE t.tf * (a.lnd - b.ldf) >= 1)
       |SELECT doc_id, rk, token, w FROM (
       |  SELECT doc_id, token, w,
       |    CAST(row_number() OVER (PARTITION BY doc_id
       |      ORDER BY w DESC, token) AS INT) AS rk
       |  FROM wt) x WHERE rk <= $topT ORDER BY doc_id, rk""".stripMargin
    sb.toString
  }

  /** DuckDB mirror of TextAnalysis.vocabRichness (t48): the per-source
    * type-frequency rollup and two ilogChainSql passes (V then N) for
    * Herdan's C; Yule's K rides HUGEINT.
    */
  private lazy val vocabRichnessSql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH occ AS (SELECT source, unnest($Toks) AS token FROM documents),
       |cnt AS (SELECT source, token, CAST(count(*) AS BIGINT) AS r
       |  FROM occ GROUP BY 1, 2),
       |st AS (SELECT source, CAST(sum(r) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS v_types,
       |    CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       |    CAST(sum(r * r) AS BIGINT) AS s2
       |  FROM cnt GROUP BY 1)""".stripMargin
    val (at, an) = ilogChainSql("va", "st", "v_types", "lv",
      Seq("source", "n_tokens", "v_types", "hapax", "s2"))
    sb ++= at
    val (bt, bn) = ilogChainSql("vb", an, "n_tokens", "ln",
      Seq("source", "n_tokens", "v_types", "hapax", "s2", "lv"))
    sb ++= bt
    sb ++= s"""
       |SELECT source, n_tokens, v_types, hapax, s2,
       |  CAST((CAST(s2 - n_tokens AS HUGEINT) * 10000000000) //
       |    (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT) AS yule_k_micro,
       |  CASE WHEN ln > 0 THEN CAST(lv * 1000000 // ln AS BIGINT)
       |       ELSE NULL END AS herdan_c_ppm
       |FROM $bn ORDER BY source""".stripMargin
    sb.toString
  }

  /** DuckDB mirror of TextAnalysis.textRankKeywords (t28): the word
    * co-occurrence graph (adjacent tokens, canonical undirected,
    * weight = count, self-pairs dropped) from the shared tokenization,
    * then the s21 fixed-point rounds with per-edge weights —
    * contribution (pr·w) // strength(src), damped 150000 + (85·in) //
    * 100. AS MATERIALIZED per round — the bpeSql lesson.
    */
  private def textRankSql(prRounds: Int, topN: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH ${tkCte("")},\n"
    sb ++=
      """adj AS (
        |  SELECT list_extract(tk, i) AS w1, list_extract(tk, i+1) AS w2
        |  FROM (SELECT tk, unnest(range(1, greatest(len(tk) - 1, 0) + 1)) AS i
        |        FROM tk) t),
        |undw AS MATERIALIZED (
        |  SELECT least(w1, w2) AS a, greatest(w1, w2) AS b,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM adj WHERE w1 <> w2 GROUP BY 1, 2),
        |bid AS MATERIALIZED (
        |  SELECT a AS src, b AS dst, w FROM undw
        |  UNION ALL SELECT b AS src, a AS dst, w FROM undw),
        |st AS (SELECT src, CAST(sum(w) AS BIGINT) AS s FROM bid GROUP BY 1),
        |nodes AS MATERIALIZED (SELECT DISTINCT src AS word FROM bid),
        |pr0 AS (SELECT word, CAST(1000000 AS BIGINT) AS pr FROM nodes)""".stripMargin
    for (i <- 1 to prRounds) {
      sb ++= s""",
         |in$i AS (
         |  SELECT e.dst AS word, CAST(sum((p.pr * e.w) // t.s) AS BIGINT) AS inm
         |  FROM bid e JOIN st t ON e.src = t.src
         |  JOIN pr${i - 1} p ON p.word = e.src
         |  GROUP BY 1),
         |pr$i AS MATERIALIZED (
         |  SELECT n.word,
         |    CAST(150000 + (85 * coalesce(m.inm, 0)) // 100 AS BIGINT) AS pr
         |  FROM nodes n LEFT JOIN in$i m ON n.word = m.word)""".stripMargin
    }
    sb ++= s"""
       |SELECT CAST(rn AS INT) AS rnk, word, pr, s FROM (
       |  SELECT p.word, p.pr, t.s,
       |    row_number() OVER (ORDER BY p.pr DESC, p.word) AS rn
       |  FROM pr$prRounds p JOIN st t ON t.src = p.word) r
       |WHERE rn <= $topN ORDER BY rnk""".stripMargin
    sb.result()
  }

  /** DuckDB mirror of Bpe.learnMerges: a generated `numMerges`-round
    * iterative CTE chain replaying the published BPE learning loop
    * declaratively. Per round: a wcount-weighted adjacent-pair
    * aggregate over the symbolized word table, the deterministic
    * argmax (count desc, then (lhs, rhs) lexicographic — binary
    * collation both engines since tokens are [a-z0-9]+), and a
    * list_reduce rewrite that merges leftmost-first non-overlapping.
    * The reduce carries the emitted symbol list directly: a
    * just-merged tail can never spuriously re-match as `lhs` because
    * the merged symbol lhs||rhs differs from lhs whenever rhs is
    * non-empty. Early exhaustion degrades identically: an empty b$$i
    * empties every later round, so both engines emit the same short
    * merge list.
    */
  private def bpeSql(numMerges: Int): String = {
    val sb = new StringBuilder
    // Every round table is AS MATERIALIZED: DuckDB inlines plain CTEs,
    // and s$i / b$i are each referenced twice (next round + the final
    // union), so un-materialized the plan tree doubles per round —
    // 2^numMerges scans of the base parquet. Materialization makes the
    // chain linear, mirroring the Spark side's per-round checkpoint.
    sb ++= "WITH wc AS MATERIALIZED (\n"
    sb ++= s"  SELECT word, count(*) AS wcount\n"
    sb ++= s"  FROM (SELECT unnest($Toks) AS word FROM documents)\n"
    sb ++= "  GROUP BY word),\n"
    sb ++= "s0 AS MATERIALIZED (SELECT list_transform(range(1, length(word) + 1),\n"
    sb ++= "         i -> word[CAST(i AS INT)]) AS syms, wcount FROM wc)"
    for (i <- 0 until numMerges) {
      sb ++= ",\n"
      sb ++= s"p$i AS MATERIALIZED (\n"
      sb ++= "  SELECT s.syms[j] AS lhs, s.syms[j + 1] AS rhs, sum(s.wcount) AS cnt\n"
      sb ++= s"  FROM s$i s, UNNEST(range(1, len(s.syms))) AS t(j)\n"
      sb ++= "  GROUP BY 1, 2),\n"
      sb ++= s"b$i AS MATERIALIZED (SELECT lhs, rhs FROM p$i ORDER BY cnt DESC, lhs, rhs LIMIT 1),\n"
      sb ++= s"s${i + 1} AS MATERIALIZED (\n"
      sb ++= "  SELECT list_reduce(list_transform(s.syms, x -> [x]),\n"
      sb ++= "    (acc, x) -> CASE WHEN acc[len(acc)] = b.lhs AND x[1] = b.rhs\n"
      sb ++= "                THEN acc[1:len(acc) - 1] || [b.lhs || b.rhs]\n"
      sb ++= "                ELSE acc || x END) AS syms, s.wcount\n"
      sb ++= s"  FROM s$i s CROSS JOIN b$i b)"
    }
    sb ++= "\nSELECT * FROM (\n"
    sb ++= (0 until numMerges).map(i =>
      s"  SELECT $i AS rnk, lhs, rhs FROM b$i").mkString("\n  UNION ALL\n")
    sb ++= "\n) ORDER BY rnk"
    sb.result()
  }

  val all: Seq[Query] = Seq(
    query("t01_text_stats", TextAnalysis.textStats) oracle
      s"""WITH base AS (SELECT doc_id, lang, $Toks AS tk FROM documents),
         |st AS (
         |  SELECT doc_id, lang,
         |    CAST(len(tk) AS INT) AS n_tokens,
         |    CAST(len(list_filter(tk, x -> x IN ('the','a','and','of','to','is','in'))) AS INT) AS n_stop,
         |    CAST(list_sum(list_transform(tk, x -> length(x))) AS INT) AS tok_chars
         |  FROM base
         |)
         |SELECT doc_id, lang, n_tokens, n_stop,
         |  round(CAST(tok_chars AS DOUBLE) / n_tokens, 6) AS avg_tok_len,
         |  round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
         |  round(least(1.0e0, CAST(n_tokens AS DOUBLE) / 100.0e0) *
         |        (1.0e0 - CAST(n_stop AS DOUBLE) / n_tokens), 6) AS quality
         |FROM st WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin,

    // t16: fixed-weight linear scorer over t01's rounded features; the
    // squash is the ALGEBRAIC sigmoid x/(1+|x|) — no exp/ln anywhere
    // (libm transcendentals differ across engines; add/abs/divide are
    // exact IEEE). Weight order mirrors the engine's left-to-right
    // arithmetic; keep thresholds the ROUNDED score.
    query("t16_quality_classifier", TextAnalysis.qualityClassifier(_, _)) oracle
      s"""WITH base AS (SELECT doc_id, lang, $Toks AS tk FROM documents),
         |st AS (
         |  SELECT doc_id, lang,
         |    CAST(len(tk) AS INT) AS n_tokens,
         |    CAST(len(list_filter(tk, x -> x IN ('the','a','and','of','to','is','in'))) AS INT) AS n_stop,
         |    CAST(list_sum(list_transform(tk, x -> length(x))) AS INT) AS tok_chars
         |  FROM base
         |),
         |f AS (
         |  SELECT doc_id, lang,
         |    round(CAST(tok_chars AS DOUBLE) / n_tokens, 6) AS avg_tok_len,
         |    round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
         |    round(least(1.0e0, CAST(n_tokens AS DOUBLE) / 100.0e0) *
         |          (1.0e0 - CAST(n_stop AS DOUBLE) / n_tokens), 6) AS quality
         |  FROM st WHERE n_tokens > 0
         |),
         |l AS (
         |  SELECT doc_id, lang, quality,
         |    4.0e0 * quality - 0.5e0 * stop_ratio + 0.25e0 * (avg_tok_len - 4.0e0) +
         |    0.3e0 * (CASE WHEN lang = 'en' THEN 1.0e0 ELSE 0.0e0 END) - 1.0e0 AS logit
         |  FROM f
         |)
         |SELECT doc_id, lang, quality,
         |  round(logit / (1.0e0 + abs(logit)), 6) AS score,
         |  round(logit / (1.0e0 + abs(logit)), 6) >= 0.25e0 AS keep
         |FROM l ORDER BY doc_id""".stripMargin,

    // t17: Gini impurity of the per-doc token distribution — the
    // rational entropy stand-in (no ln anywhere); exact integers until
    // one double division
    query("t17_token_gini", TextAnalysis.tokenGini) oracle
      s"""WITH toks AS (SELECT doc_id, unnest($Toks) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         |agg AS (
         |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |    count(*) AS n_distinct, CAST(sum(tf * tf) AS BIGINT) AS sumsq
         |  FROM tf GROUP BY 1
         |)
         |SELECT doc_id, n_tokens, n_distinct, sumsq,
         |  round(1.0e0 - CAST(sumsq AS DOUBLE) / (n_tokens * n_tokens), 6) AS gini
         |FROM agg ORDER BY doc_id""".stripMargin,

    // t18: per-lang corpus health rollup — the t16 score chain feeds
    // an integer-quantized (order-free) average; one count-distinct
    query("t18_corpus_report", TextAnalysis.corpusReport) oracle
      s"""WITH base AS (
         |  SELECT lang, count(*) AS n_docs,
         |    count(DISTINCT md5(text)) AS n_distinct,
         |    CAST(sum(len($Toks)) AS BIGINT) AS total_tokens
         |  FROM documents GROUP BY lang
         |),
         |tb AS (SELECT doc_id, lang, $Toks AS tk FROM documents),
         |st AS (
         |  SELECT doc_id, lang,
         |    CAST(len(tk) AS INT) AS n_tokens,
         |    CAST(len(list_filter(tk, x -> x IN ('the','a','and','of','to','is','in'))) AS INT) AS n_stop,
         |    CAST(list_sum(list_transform(tk, x -> length(x))) AS INT) AS tok_chars
         |  FROM tb
         |),
         |f AS (
         |  SELECT doc_id, lang,
         |    round(CAST(tok_chars AS DOUBLE) / n_tokens, 6) AS avg_tok_len,
         |    round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
         |    round(least(1.0e0, CAST(n_tokens AS DOUBLE) / 100.0e0) *
         |          (1.0e0 - CAST(n_stop AS DOUBLE) / n_tokens), 6) AS quality
         |  FROM st WHERE n_tokens > 0
         |),
         |l AS (
         |  SELECT doc_id, lang,
         |    4.0e0 * quality - 0.5e0 * stop_ratio + 0.25e0 * (avg_tok_len - 4.0e0) +
         |    0.3e0 * (CASE WHEN lang = 'en' THEN 1.0e0 ELSE 0.0e0 END) - 1.0e0 AS logit
         |  FROM f
         |),
         |sc AS (
         |  SELECT lang, count(*) AS n_scored,
         |    CAST(sum(CAST(round(round(logit / (1.0e0 + abs(logit)), 6) * 1e6, 0) AS BIGINT)) AS BIGINT) AS sqs,
         |    CAST(sum(CASE WHEN round(logit / (1.0e0 + abs(logit)), 6) >= 0.25e0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
         |  FROM l GROUP BY lang
         |)
         |SELECT base.lang, n_docs, n_distinct,
         |  round(1 - n_distinct / n_docs, 6) AS dup_ratio,
         |  total_tokens,
         |  round(total_tokens / n_docs, 6) AS avg_tokens,
         |  round(sqs / n_scored / 1e6, 6) AS avg_score,
         |  round(n_keep / n_scored, 6) AS keep_ratio
         |FROM base JOIN sc ON base.lang = sc.lang
         |ORDER BY base.lang""".stripMargin,

    // t19: Gopher-style rule gate — every rule is exact integer
    // arithmetic (cross-multiplied bounds, distinct-stopword counts,
    // dup-gram fraction), so no rounded-double discipline is needed
    query("t19_gopher_rules", TextAnalysis.gopherRules(_, _)) oracle
      s"""WITH ${tkCte("")},
         |g AS (
         |  SELECT doc_id,
         |    CAST(count(*) AS INT) AS n_grams,
         |    CAST(count(DISTINCT $GramExpr) AS INT) AS nd_grams
         |  FROM $GramPos GROUP BY doc_id
         |),
         |u AS (SELECT doc_id, unnest(tk) AS tok FROM tk),
         |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM u GROUP BY 1, 2),
         |st AS (
         |  SELECT doc_id,
         |    CAST(sum(tf) AS BIGINT) AS n_tokens,
         |    CAST(max(tf) AS BIGINT) AS max_tf,
         |    CAST(sum(tf * length(tok)) AS BIGINT) AS tok_chars,
         |    CAST(sum(CASE WHEN tok IN ('the','a','and','of','to','is','in') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_kinds
         |  FROM tf GROUP BY doc_id
         |)
         |SELECT s.doc_id, n_tokens,
         |  n_tokens BETWEEN 20 AND 100000 AS r_len,
         |  3 * n_tokens <= tok_chars AND tok_chars <= 10 * n_tokens AS r_meanlen,
         |  n_stop_kinds >= 2 AS r_stop,
         |  5 * max_tf <= n_tokens AS r_toptok,
         |  10 * (coalesce(g.n_grams, 0) - coalesce(g.nd_grams, 0)) <= 3 * coalesce(g.n_grams, 0) AS r_dupgram,
         |  (n_tokens BETWEEN 20 AND 100000)
         |    AND (3 * n_tokens <= tok_chars AND tok_chars <= 10 * n_tokens)
         |    AND n_stop_kinds >= 2
         |    AND 5 * max_tf <= n_tokens
         |    AND 10 * (coalesce(g.n_grams, 0) - coalesce(g.nd_grams, 0)) <= 3 * coalesce(g.n_grams, 0) AS keep
         |FROM st s LEFT JOIN g ON s.doc_id = g.doc_id
         |ORDER BY s.doc_id""".stripMargin,

    // t20: corpus bigram-LM score — add-one-smoothed conditional
    // probability per bigram occurrence, quantized to integer
    // nano-units BEFORE the per-doc sum (the integer-quantize-then-sum
    // rule; no ln anywhere)
    query("t20_bigram_lm", TextAnalysis.bigramLm) oracle
      s"""WITH ${tkCte("")},
         |u AS (SELECT doc_id, unnest(tk) AS w FROM tk),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM u GROUP BY w),
         |vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
         |bg AS (
         |  SELECT doc_id, list_extract(tk, i) || ' ' || list_extract(tk, i+1) AS bg
         |  FROM (SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 1, 0) + 1)) AS i FROM tk) t
         |),
         |c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY bg),
         |sc AS (
         |  SELECT doc_id,
         |    CAST(round(CAST(c2.c2 + 1 AS DOUBLE) / (uni.c1 + vv.v) * 1e9, 0) AS BIGINT) AS qp
         |  FROM bg JOIN c2 USING (bg)
         |  JOIN uni ON split_part(bg.bg, ' ', 1) = uni.w
         |  CROSS JOIN vv
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(qp) AS BIGINT) AS sum_qp,
         |  CAST(round(sum(qp) / count(*), 0) AS BIGINT) AS avg_qp
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // t22: the LEARNED BPE merge table — the generated 20-round
    // iterative CTE chain (bpeSql) replays the learning loop in
    // DuckDB; hash-green proves the distributed learner's fixed point
    // merge-for-merge (upgrading t21's spec-only signal to an oracle).
    query("t22_bpe_merges", Bpe.learnedMerges(_, _)) oracle bpeSql(20),

    query("t21_learned_bpe", Bpe.tokenStats(_, _)).specGated(
      Seq("graft.operators.BpeSpec"),
      "the per-doc encode under the learned merges has no SQL form; the spec " +
        "proves the learner merge-for-merge equal to a sequential reference " +
        "and recomputes the per-doc counts, and t22_bpe_merges gates the " +
        "learning loop itself"),

    // t23: the CCNet cross-corpus quality split — an add-one bigram LM
    // trained on the even-doc_id reference slice scores EVERY document
    // (left joins + coalesce: unseen bigrams (0+1)/(c1+V), unseen left
    // unigrams (0+1)/(0+V)); docs rank by (avg_qp DESC, doc_id) and cut
    // into 3 equal-width rank quantiles, bucket = (rank-1)*3 DIV total
    // + 1 (deliberately NOT SQL ntile's remainder convention — one
    // integer expression both engines evaluate identically); keep
    // drops the tail bucket.
    query("t23_perplexity_bucket", TextAnalysis.perplexityBucket(_, _)) oracle
      s"""WITH ${tkCte("")},
         |ref AS (SELECT doc_id, tk FROM tk WHERE doc_id % 2 = 0),
         |uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
         |        FROM (SELECT unnest(tk) AS w1 FROM ref) u GROUP BY w1),
         |vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
         |bgr AS (
         |  SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM (
         |    SELECT list_extract(tk, i) || ' ' || list_extract(tk, i+1) AS bg
         |    FROM (SELECT tk, unnest(range(1, greatest(len(tk) - 1, 0) + 1)) AS i
         |          FROM ref) t) b
         |  GROUP BY bg),
         |bg AS (
         |  SELECT doc_id, list_extract(tk, i) || ' ' || list_extract(tk, i+1) AS bg
         |  FROM (SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 1, 0) + 1)) AS i
         |        FROM tk) t),
         |sc AS (
         |  SELECT doc_id,
         |    CAST(round(CAST(coalesce(bgr.c2, 0) + 1 AS DOUBLE)
         |      / (coalesce(uni.c1, 0) + vv.v) * 1e9, 0) AS BIGINT) AS qp
         |  FROM bg LEFT JOIN bgr USING (bg)
         |  LEFT JOIN uni ON split_part(bg.bg, ' ', 1) = uni.w1
         |  CROSS JOIN vv),
         |d AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(round(sum(qp) / count(*), 0) AS BIGINT) AS avg_qp
         |  FROM sc GROUP BY doc_id),
         |r AS (
         |  SELECT doc_id, n_bigrams, avg_qp,
         |    row_number() OVER (ORDER BY avg_qp DESC, doc_id) AS rn,
         |    count(*) OVER () AS total
         |  FROM d)
         |SELECT doc_id, n_bigrams, avg_qp,
         |  CAST((rn - 1) * 3 // total + 1 AS INT) AS bucket,
         |  (rn - 1) * 3 // total + 1 < 3 AS keep
         |FROM r ORDER BY doc_id""".stripMargin,

    // t24: content-defined chunking — per-token value r = first 8 hex
    // chars of md5(token) (the p01 Horner idiom), window hash =
    // r + 31·lag1 + 961·lag2 + 29791·lag3 mod 1e9+7 (all products
    // inside BIGINT), boundary AFTER token i when pos >= 3 and
    // hash % 64 = 0; chunk_no = exclusive running boundary count, so a
    // boundary token ENDS its chunk; chunk hash over the ORDER BY pos
    // string_agg (the B13 ordered-agg convention).
    query("t24_cdc_chunks", TextAnalysis.cdcChunks(_, _)) oracle
      s"""WITH ${tkCte("")},
         |t AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |        list_extract(tk, i) AS tok
         |      FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
         |            FROM tk) u),
         |rv AS (SELECT doc_id, pos, tok,
         |         ${hexIntSql("md5(tok)", 8)} AS r FROM t),
         |h AS (SELECT doc_id, pos, tok,
         |        CASE WHEN pos >= 3 THEN
         |          (r + 31 * lag(r, 1) OVER w + 961 * lag(r, 2) OVER w
         |             + 29791 * lag(r, 3) OVER w) % 1000000007
         |        END AS hw
         |      FROM rv WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |cn AS (SELECT doc_id, pos, tok,
         |        CAST(coalesce(sum(CASE WHEN pos >= 3 AND hw % 64 = 0
         |            THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS BIGINT) AS chunk_no
         |      FROM h)
         |SELECT doc_id, chunk_no, CAST(min(pos) AS BIGINT) AS start_pos,
         |  CAST(count(*) AS BIGINT) AS n_toks,
         |  md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
         |FROM cn GROUP BY doc_id, chunk_no ORDER BY doc_id, chunk_no""".stripMargin,

    // t25: the count-min sketch cell table — row-d hash = first 8 md5
    // hex chars of "cm<d>:<token>" mod 256 (the p01 Horner idiom), one
    // count cell per (d, col); the sketch is the output, so the oracle
    // replays every hash placement exactly
    query("t25_countmin", TextAnalysis.countMin(_, _)) oracle
      s"""WITH ${tkCte("")},
         |u AS (SELECT unnest(tk) AS tok FROM tk),
         |x AS (SELECT tok, CAST(d AS INT) AS d
         |      FROM u, UNNEST(range(0, 4)) AS t(d)),
         |c AS (SELECT d,
         |        CAST(${hexIntSql("md5('cm' || CAST(d AS VARCHAR) || ':' || tok)", 8)} % 256 AS INT) AS col
         |      FROM x)
         |SELECT d, col, CAST(count(*) AS BIGINT) AS cnt
         |FROM c GROUP BY d, col ORDER BY d, col""".stripMargin,

    // t26: heavy hitters = count-min + candidates (the CM top-k
    // composition) — candidates are t07's top-20 unigrams, each
    // probed at its depth hashed cells (missing sparse cells read 0),
    // estimate = min over rows, ranked by (est DESC, gram). The true
    // freq rides along so the oracle re-proves est >= freq row-wise.
    query("t26_heavy_hitters", TextAnalysis.heavyHittersGate) oracle
      s"""WITH ${tkCte("")},
         |u AS (SELECT unnest(tk) AS tok FROM tk),
         |cand AS (SELECT tok AS gram, CAST(count(*) AS BIGINT) AS freq
         |         FROM u GROUP BY 1 ORDER BY freq DESC, gram LIMIT 20),
         |x AS (SELECT tok, CAST(d AS INT) AS d
         |      FROM u, UNNEST(range(0, 4)) AS t(d)),
         |cm AS (SELECT d,
         |        CAST(${hexIntSql("md5('cm' || CAST(d AS VARCHAR) || ':' || tok)", 8)} % 256 AS INT) AS col,
         |        CAST(count(*) AS BIGINT) AS cnt
         |      FROM x GROUP BY 1, 2),
         |pc AS (SELECT gram, freq, CAST(d AS INT) AS d,
         |        CAST(${hexIntSql("md5('cm' || CAST(d AS VARCHAR) || ':' || gram)", 8)} % 256 AS INT) AS col
         |      FROM cand, UNNEST(range(0, 4)) AS t(d)),
         |est AS (SELECT p.gram, p.freq,
         |          CAST(min(coalesce(cm.cnt, 0)) AS BIGINT) AS est
         |        FROM pc p LEFT JOIN cm ON cm.d = p.d AND cm.col = p.col
         |        GROUP BY 1, 2)
         |SELECT CAST(row_number() OVER (ORDER BY est DESC, gram) AS INT) AS rnk,
         |  gram, freq, est
         |FROM est ORDER BY rnk""".stripMargin,

    // t27: PMI collocations — the log-free monotone integer fixed
    // point (N·pair_c·10^6) // (c1a·c1b); hapax pairs dropped below
    // minCount = 3 before ranking
    query("t27_pmi_colloc", TextAnalysis.pmiCollocations(_, _)) oracle
      s"""WITH ${tkCte("")},
         |u AS (SELECT unnest(tk) AS w FROM tk),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM u GROUP BY w),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
         |bg AS (
         |  SELECT list_extract(tk, i) AS w1, list_extract(tk, i+1) AS w2
         |  FROM (SELECT tk, unnest(range(1, greatest(len(tk) - 1, 0) + 1)) AS i
         |        FROM tk) t),
         |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_c
         |       FROM bg GROUP BY 1, 2 HAVING count(*) >= 3),
         |sc AS (
         |  SELECT c2.w1, c2.w2, c2.pair_c, a.c1 AS c1a, b.c1 AS c1b,
         |    CAST((nn.n * c2.pair_c * 1000000) // (a.c1 * b.c1) AS BIGINT) AS pmi_q
         |  FROM c2 JOIN uni a ON c2.w1 = a.w JOIN uni b ON c2.w2 = b.w
         |  CROSS JOIN nn)
         |SELECT CAST(rn AS INT) AS rnk, w1, w2, pair_c, c1a, c1b, pmi_q FROM (
         |  SELECT *, row_number() OVER (ORDER BY pmi_q DESC, w1, w2) AS rn
         |  FROM sc) r
         |WHERE rn <= 50 ORDER BY rnk""".stripMargin,

    // t28: TextRank keywords — weighted integer PageRank over the
    // adjacent-token co-occurrence graph, generated CTE rounds
    query("t28_textrank", TextAnalysis.textRankKeywords(_, _)) oracle textRankSql(prRounds = 3, topN = 30),

    // t29: trigram stupid backoff — the even-slice model scores every
    // trigram occurrence with the α = 2/5 penalty cleared into pure
    // integer division (no float at any level of the backoff)
    query("t29_trigram_backoff", TextAnalysis.trigramBackoff(_, _)) oracle
      s"""WITH ${tkCte("")},
         |ref AS (SELECT doc_id, tk FROM tk WHERE doc_id % 2 = 0),
         |u AS (SELECT unnest(tk) AS w FROM ref),
         |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM u GROUP BY w),
         |nr AS (SELECT CAST(count(*) AS BIGINT) AS nref FROM u),
         |c2 AS (
         |  SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM (
         |    SELECT list_extract(tk, i) || ' ' || list_extract(tk, i+1) AS bg
         |    FROM (SELECT tk, unnest(range(1, greatest(len(tk) - 1, 0) + 1)) AS i
         |          FROM ref) t) b GROUP BY bg),
         |c3 AS (
         |  SELECT tg, CAST(count(*) AS BIGINT) AS c3 FROM (
         |    SELECT list_extract(tk, i) || ' ' || list_extract(tk, i+1)
         |      || ' ' || list_extract(tk, i+2) AS tg
         |    FROM (SELECT tk, unnest(range(1, greatest(len(tk) - 2, 0) + 1)) AS i
         |          FROM ref) t) b GROUP BY tg),
         |occ AS (
         |  SELECT doc_id,
         |    list_extract(tk, i) AS a, list_extract(tk, i+1) AS b,
         |    list_extract(tk, i+2) AS c
         |  FROM (SELECT doc_id, tk,
         |          unnest(range(1, greatest(len(tk) - 2, 0) + 1)) AS i
         |        FROM tk) t),
         |sc AS (
         |  SELECT o.doc_id,
         |    CASE
         |      WHEN t3.c3 IS NOT NULL THEN (t3.c3 * 1000000000) // ab.c2
         |      WHEN bc.c2 IS NOT NULL THEN (bc.c2 * 2000000000) // (5 * ub.c1)
         |      WHEN uc.c1 IS NOT NULL THEN (uc.c1 * 4000000000) // (25 * nr.nref)
         |      ELSE CAST(0 AS BIGINT)
         |    END AS qp
         |  FROM occ o
         |  LEFT JOIN c3 t3 ON t3.tg = o.a || ' ' || o.b || ' ' || o.c
         |  LEFT JOIN c2 ab ON ab.bg = o.a || ' ' || o.b
         |  LEFT JOIN c2 bc ON bc.bg = o.b || ' ' || o.c
         |  LEFT JOIN c1 ub ON ub.w = o.b
         |  LEFT JOIN c1 uc ON uc.w = o.c
         |  CROSS JOIN nr)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
         |  CAST(sum(qp) AS BIGINT) AS sum_qp,
         |  CAST(sum(qp) // count(*) AS BIGINT) AS avg_qp
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // t30: T5 span corruption — stride-3 blocks fire on an md5 key
    // (25%), span length 1 + (h//4)%3 <= the stride so spans never
    // overlap; sentinels number left-to-right; string_agg skips the
    // NULL pieces exactly as the Spark filter drops them
    query("t30_span_corrupt", TextAnalysis.spanCorrupt(_, _)) oracle
      s"""WITH ${tkCte("")},
         |pos AS (
         |  SELECT doc_id, CAST(i AS INT) - 1 AS p, list_extract(tk, i) AS w
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
         |        FROM tk) t),
         |blk AS (SELECT doc_id, p, w, p - (p % 3) AS s FROM pos),
         |hx AS (
         |  SELECT doc_id, s,
         |    ${hexIntSql("md5('sc0:' || CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR))", 4)} AS h
         |  FROM (SELECT DISTINCT doc_id, s FROM blk) u),
         |sp AS (
         |  SELECT doc_id, s, 1 + (h // 4) % 3 AS len,
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS INT) AS idx
         |  FROM hx WHERE h % 4 = 0),
         |m AS (
         |  SELECT b.doc_id, b.p, b.w, b.s, sp.idx,
         |    coalesce(b.p - b.s < sp.len, false) AS masked
         |  FROM blk b LEFT JOIN sp ON b.doc_id = sp.doc_id AND b.s = sp.s),
         |corr AS (
         |  SELECT doc_id,
         |    string_agg(CASE WHEN NOT masked THEN w
         |                    WHEN p = s THEN '<X' || CAST(idx AS VARCHAR) || '>'
         |               END, ' ' ORDER BY p) AS corrupted
         |  FROM m GROUP BY doc_id),
         |tg1 AS (
         |  SELECT doc_id, s,
         |    '<X' || CAST(idx AS VARCHAR) || '> ' ||
         |      string_agg(w, ' ' ORDER BY p) AS span_str
         |  FROM m WHERE masked GROUP BY doc_id, s, idx),
         |tg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |    string_agg(span_str, ' ' ORDER BY s) AS targets
         |  FROM tg1 GROUP BY doc_id),
         |nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
         |       FROM pos GROUP BY doc_id)
         |SELECT nt.doc_id, nt.n_tokens,
         |  CAST(coalesce(tg.n_spans, 0) AS BIGINT) AS n_spans,
         |  corr.corrupted, coalesce(tg.targets, '') AS targets
         |FROM nt JOIN corr USING (doc_id) LEFT JOIN tg USING (doc_id)
         |ORDER BY nt.doc_id""".stripMargin,

    // t31: RAKE — phrases = maximal stopword-free runs (pid = running
    // stopword count), per-doc word freq/degree, phrase score =
    // sum(degree*1e6 // freq) on the integer grid, top-3 per doc
    query("t31_rake_keywords", TextAnalysis.rakeKeywords(_, _)) oracle
      s"""WITH ${tkCte("")},
         |pos AS (
         |  SELECT doc_id, CAST(i AS INT) AS i, tk[CAST(i AS INT)] AS tok
         |  FROM tk, UNNEST(range(1, len(tk) + 1)) AS t(i)
         |),
         |marked AS (
         |  SELECT doc_id, i, tok,
         |    CASE WHEN tok IN ('the','a','and','of','to','is','in')
         |         THEN 1 ELSE 0 END AS is_stop
         |  FROM pos
         |),
         |cand AS (
         |  SELECT doc_id, i, tok,
         |    sum(is_stop) OVER (PARTITION BY doc_id ORDER BY i) AS pid
         |  FROM marked QUALIFY is_stop = 0
         |),
         |plen AS (
         |  SELECT doc_id, pid, count(*) AS plen FROM cand GROUP BY 1, 2
         |),
         |wl AS (SELECT c.doc_id, c.pid, c.i, c.tok, p.plen
         |       FROM cand c JOIN plen p USING (doc_id, pid)),
         |wstats AS (
         |  SELECT doc_id, tok, count(*) AS freq, sum(plen) AS degree
         |  FROM wl GROUP BY 1, 2
         |),
         |scored AS (
         |  SELECT wl.doc_id, wl.pid,
         |    string_agg(wl.tok, ' ' ORDER BY wl.i) AS phrase,
         |    CAST(sum((ws.degree * 1000000) // ws.freq) AS BIGINT) AS score
         |  FROM wl JOIN wstats ws ON wl.doc_id = ws.doc_id AND wl.tok = ws.tok
         |  GROUP BY wl.doc_id, wl.pid
         |)
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id
         |         ORDER BY score DESC, phrase, pid) AS INT) AS rnk,
         |  phrase, score
         |FROM scored QUALIFY rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    // t32: Heaps-law trajectory — per doc-count decile, cumulative
    // token count and distinct vocab; vocab membership in a prefix is
    // decided by the token's first-seen doc alone
    // t35: interpolated Kneser-Ney — discounted bigram term +
    // continuation-unigram backoff, all floor-ppb integer arithmetic
    query("t35_kn_bigram", TextAnalysis.knBigramLm) oracle
      s"""WITH ${tkCte("")},
         |pos AS (SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 1, 0) + 1)) AS i FROM tk),
         |bgs AS (SELECT list_extract(tk, CAST(i AS INT)) AS w1,
         |        list_extract(tk, CAST(i AS INT) + 1) AS w2 FROM pos),
         |bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
         |       FROM bgs GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
         |        CAST(count(*) AS BIGINT) AS n1p_succ FROM bg GROUP BY 1),
         |pr AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_pred
         |       FROM bg GROUP BY 1),
         |ty AS (SELECT CAST(count(*) AS BIGINT) AS b FROM bg)
         |SELECT bg.w1, bg.w2, c12, c1, n1p_succ, n1p_pred, b,
         |  greatest(100 * c12 - 75, 0) * 1000000000 // (100 * c1) AS term1_ppb,
         |  (75 * n1p_succ * 1000000000 // (100 * c1))
         |    * (n1p_pred * 1000000000 // b) // 1000000000 AS term2_ppb,
         |  greatest(100 * c12 - 75, 0) * 1000000000 // (100 * c1)
         |    + (75 * n1p_succ * 1000000000 // (100 * c1))
         |      * (n1p_pred * 1000000000 // b) // 1000000000 AS p_kn_ppb
         |FROM bg JOIN c1 ON bg.w1 = c1.w1 JOIN pr ON bg.w2 = pr.w2, ty
         |ORDER BY bg.w1, bg.w2""".stripMargin,

    // t36: the oracle rebuilds the identical unicode-garbled string
    // from chr() first principles, then runs its own normalization
    // chain — translate + global regexp_replace — so every fold
    // (curly quotes, dashes, NBSP, zero-widths, controls, collapse,
    // trim, lower) must byte-agree across engines
    query("t36_normalize", TextAnalysis.normalizeText) oracle
      """WITH g AS (
        |  SELECT doc_id,
        |    chr(8220) || upper(substr(text, 1, 12)) || chr(8221) ||
        |    chr(8212) || chr(160) ||
        |    CASE WHEN doc_id % 2 = 0 THEN chr(8203) ELSE chr(65279) END ||
        |    'it' || chr(8217) || 's' || chr(9) ||
        |    CASE WHEN doc_id % 3 = 0 THEN chr(7)
        |         WHEN doc_id % 3 = 1 THEN chr(11)
        |         ELSE chr(13) || chr(10) END ||
        |    substr(text, 13) ||
        |    '  ' || chr(8216) || 'q' || chr(8217) || ' ' || chr(8211) ||
        |    ' end  ' AS dirty
        |  FROM documents WHERE length(text) >= 20
        |), n AS (
        |  SELECT doc_id, dirty,
        |    lower(trim(regexp_replace(regexp_replace(regexp_replace(
        |      translate(dirty,
        |        chr(8220) || chr(8221) || chr(8216) || chr(8217) ||
        |        chr(8212) || chr(8211) || chr(160),
        |        '""' || chr(39) || chr(39) || '-- '),
        |      '[' || chr(8203) || chr(65279) || ']', '', 'g'),
        |      '[\x01-\x1f\x7f]', ' ', 'g'),
        |      ' +', ' ', 'g'))) AS norm
        |  FROM g
        |)
        |SELECT doc_id, norm, CAST(length(dirty) AS INT) AS dirty_chars,
        |  CAST(length(norm) AS INT) AS norm_chars
        |FROM n ORDER BY doc_id""".stripMargin,

    // t38: Good-Turing frequency-of-frequencies — histogram over token
    // counts, adjusted count r* = (r+1)N_{r+1}/N_r and unseen mass
    // N_1/N, both exact floor ppm
    query("t38_good_turing", TextAnalysis.goodTuring) oracle
      s"""WITH ${tkCte("")},
         |occ AS (SELECT unnest(tk) AS token FROM tk),
         |cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS r
         |        FROM occ GROUP BY 1),
         |hist AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r
         |         FROM cnt GROUP BY 1),
         |tot AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n_1
         |  FROM hist)
         |SELECT h.r, h.n_r, COALESCE(h2.n_r, 0) AS n_next,
         |  (h.r + 1) * COALESCE(h2.n_r, 0) * 1000000 // h.n_r AS rstar_ppm,
         |  n_1 * 1000000 // n_tokens AS p0_ppm, n_tokens
         |FROM hist h LEFT JOIN hist h2 ON h.r + 1 = h2.r, tot
         |ORDER BY h.r""".stripMargin,

    // t43: Dice collocations — 2·c12/(c1+c2) floor ppm, support floor
    // c12 >= 3, (dice DESC, w1, w2) top-50
    query("t43_dice_colloc", TextAnalysis.diceCollocations(_, _)) oracle
      s"""WITH ${tkCte("")},
         |uni AS (SELECT token AS w, CAST(count(*) AS BIGINT) AS c
         |        FROM (SELECT unnest(tk) AS token FROM tk) o GROUP BY 1),
         |pos AS (SELECT doc_id, tk,
         |          unnest(range(1, greatest(len(tk) - 1, 0) + 1)) AS i
         |        FROM tk),
         |bg AS (SELECT list_extract(tk, CAST(i AS INT)) AS w1,
         |         list_extract(tk, CAST(i AS INT) + 1) AS w2,
         |         CAST(count(*) AS BIGINT) AS c12
         |       FROM pos GROUP BY 1, 2
         |       HAVING count(*) >= 3)
         |SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
         |  2 * c12 * 1000000 // (u1.c + u2.c) AS dice_ppm
         |FROM bg JOIN uni u1 ON bg.w1 = u1.w JOIN uni u2 ON bg.w2 = u2.w
         |ORDER BY dice_ppm DESC, w1, w2 LIMIT 50""".stripMargin,

    // t42: KWIC — the data-derived top token with ±3 tokens of
    // context; inclusive list_slice mirrors Spark's (start, length)
    // slice at both document edges (empty contexts → '')
    query("t42_kwic", TextAnalysis.kwic(_, _)) oracle
      s"""WITH ${tkCte("")},
         |occ AS (SELECT doc_id, tk, CAST(i AS BIGINT) AS pos,
         |          list_extract(tk, CAST(i AS INT)) AS token
         |        FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
         |              FROM tk) t),
         |tgt AS (SELECT token AS t FROM (
         |  SELECT token, count(*) AS n FROM occ GROUP BY 1
         |  ORDER BY n DESC, token LIMIT 1))
         |SELECT doc_id, pos,
         |  COALESCE(array_to_string(list_slice(tk,
         |    CAST(greatest(1, pos - 3) AS INT), CAST(pos - 1 AS INT)), ' '),
         |    '') AS left_ctx,
         |  token,
         |  COALESCE(array_to_string(list_slice(tk, CAST(pos + 1 AS INT),
         |    CAST(least(len(tk), pos + 3) AS INT)), ' '), '') AS right_ctx
         |FROM occ, tgt WHERE token = t ORDER BY doc_id, pos""".stripMargin,

    // t41: index of dispersion — n·Σx²−(Σx)² over n·Σx on the ppm
    // grid, absent docs riding through the totals
    query("t41_burstiness", TextAnalysis.burstiness(_, _)) oracle
      s"""WITH base AS (SELECT doc_id, $Toks AS tk FROM documents),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |pd AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS x
         |       FROM (SELECT doc_id, unnest(tk) AS token FROM base) o
         |       GROUP BY 1, 2),
         |t AS (SELECT token, CAST(count(*) AS BIGINT) AS n_docs_with,
         |        CAST(sum(x) AS BIGINT) AS total_tf,
         |        CAST(sum(x * x) AS BIGINT) AS sum_sq
         |      FROM pd GROUP BY 1)
         |SELECT token, n_docs_with, total_tf, sum_sq,
         |  (n * sum_sq - total_tf * total_tf) * 1000000 // (n * total_tf)
         |    AS d_ppm
         |FROM t, nn WHERE total_tf >= 5
         |ORDER BY d_ppm DESC, token""".stripMargin,

    // t40: chi-squared keyness of the 'en' slice vs the rest — exact
    // HUGEINT contingency arithmetic, one floor division to the micro
    // grid, (chi2 DESC, token) top-50
    query("t40_chi2_keyness", TextAnalysis.chi2Keyness(_, _)) oracle
      s"""WITH base AS (SELECT lang, $Toks AS tk FROM documents),
         |occ AS (SELECT (lang = 'en') AS ina, unnest(tk) AS token FROM base),
         |cnt AS (SELECT token,
         |    CAST(sum(CASE WHEN ina THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |    CAST(sum(CASE WHEN ina THEN 0 ELSE 1 END) AS BIGINT) AS b
         |  FROM occ GROUP BY 1),
         |tot AS (SELECT CAST(sum(a) AS BIGINT) AS na,
         |               CAST(sum(b) AS BIGINT) AS nb FROM cnt),
         |sc AS (
         |  SELECT token, a, b,
         |    CAST(a AS HUGEINT) * (nb - b) - CAST(b AS HUGEINT) * (na - a) AS det,
         |    na, nb
         |  FROM cnt, tot WHERE a + b >= 5
         |)
         |SELECT token, a, b, det > 0 AS over_slice,
         |  CAST((CAST(na + nb AS HUGEINT) * det * det * 1000000) //
         |    (CAST(a + b AS HUGEINT) * (na + nb - a - b) *
         |     CAST(na AS HUGEINT) * nb) AS BIGINT) AS chi2_micro
         |FROM sc ORDER BY chi2_micro DESC, token LIMIT 50""".stripMargin,

    // t39: the signed hashing trick — bucket from the first 4 md5 hex
    // chars, sign from the 5th char's parity, collisions cancel via
    // summed signs; zero dims drop
    query("t39_feature_hash", TextAnalysis.featureHash(_, _)) oracle
      s"""WITH ${tkCte("")},
         |occ AS (SELECT doc_id, unnest(tk) AS token FROM tk),
         |hh AS (SELECT doc_id,
         |    CAST((${hexIntSql("md5(token)", 4)}) % 16 AS INT) AS dim,
         |    CASE WHEN (${hexIntSql("substr(md5(token), 5, 1)", 1)}) % 2 = 0
         |         THEN 1 ELSE -1 END AS sgn
         |  FROM occ)
         |SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS val
         |FROM hh GROUP BY 1, 2 HAVING sum(sgn) <> 0
         |ORDER BY doc_id, dim""".stripMargin,

    // t37: the oracle re-embeds the identical URLs, then re-runs
    // extraction / host parse / www-strip / registered-domain
    // reduction with its own regex engine (RE2 vs Java — the patterns
    // stay inside the shared-dialect subset)
    query("t37_url_domains", TextAnalysis.urlDomainStats) oracle
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' see https://' ||
        |    'd' || replace(substr(text, 1, 6), ' ', '') ||
        |    '.example.com/p/x and http://www.' ||
        |    'd' || replace(substr(text, 9, 6), ' ', '') ||
        |    '.org/a?b=1 plus https://cdn.img.' ||
        |    'd' || replace(substr(text, 17, 6), ' ', '') ||
        |    '.net/y ignore ftp://skip.me end' AS u
        |  FROM documents WHERE length(text) >= 40
        |), e AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(u, 'https?://[a-z0-9._/?=-]+')) AS url
        |  FROM d
        |), r AS (
        |  SELECT doc_id, url,
        |    regexp_extract(
        |      regexp_replace(
        |        regexp_extract(url, '^https?://([a-z0-9.-]+)', 1),
        |        '^www\.', ''),
        |      '([a-z0-9-]+\.[a-z0-9-]+)$', 1) AS domain
        |  FROM e
        |)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN url LIKE 'https://%' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_https
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // t33: vocab learning + the greedy longest-match loop, both
    // replayed as one generated CTE chain
    query("t33_wordpiece", TextAnalysis.wordPieceEncode(_, _)) oracle wordPieceSql(topGrams = 50, maxWordLen = 12),

    // t44/t45: the unigram-LM trainer — seed, every hard-EM round
    // (fixed-point integer-log costs, Viterbi DP, usage re-count,
    // prune) and the final costs/segmentation, all replayed as one
    // generated CTE chain; hash-green proves the learning fixed point
    // equal on an independent engine (the t22 upgrade, third family)
    query("t44_unigram_vocab", Unigram.trainedVocab) oracle unigramSql(encode = false),
    query("t45_unigram_encode", Unigram.encodeTable) oracle unigramSql(encode = true),

    // t46: per-source Zipf fit — top-100 ranks, fixed-point log2 grid,
    // sign-explicit integer least squares (slope + R² in floor ppm)
    query("t46_zipf_fit", TextAnalysis.zipfFit(_, _)) oracle zipfSql(topR = 100),

    // t47: per-source Jensen–Shannon drift vs the corpus — floor-ppm
    // distributions, fixed-point log2, jsd = (S(P)+S(Q))//2 − S(M)
    query("t47_js_drift", TextAnalysis.jsDrift(_, _)) oracle jsDriftSql,

    // t48: Yule's K / Herdan's C vocabulary richness — HUGEINT K,
    // fixed-point log-ratio C
    query("t48_vocab_richness", TextAnalysis.vocabRichness(_, _)) oracle vocabRichnessSql,

    // t49: per-doc TF-IDF top terms — d36's fixed-point weights over
    // the full corpus, per-document rank
    query("t49_tfidf_terms", TextAnalysis.tfidfTerms(_, _)) oracle tfidfTermsSql(topT = 3),

    query("t32_vocab_growth", TextAnalysis.vocabGrowth(_, _)) oracle
      s"""WITH ${tkCte("")},
         |pos AS (SELECT doc_id, unnest(tk) AS tok FROM tk),
         |ks AS (
         |  SELECT CAST(t.k AS INT) AS k, (t.k * m.n) // 10 AS thr
         |  FROM (SELECT max(doc_id) + 1 AS n FROM documents) m
         |  CROSS JOIN (SELECT unnest(range(1, 11)) AS k) t
         |),
         |fs AS (SELECT tok, min(doc_id) AS fs FROM pos GROUP BY 1),
         |vc AS (SELECT ks.k, count(*) AS vocab
         |       FROM ks JOIN fs ON fs.fs < ks.thr GROUP BY 1),
         |tpd AS (SELECT doc_id, count(*) AS nt FROM pos GROUP BY 1),
         |nt AS (SELECT ks.k, sum(tpd.nt) AS n_tokens
         |       FROM ks JOIN tpd ON tpd.doc_id < ks.thr GROUP BY 1),
         |nd AS (SELECT ks.k, count(*) AS n_docs
         |       FROM ks JOIN documents d ON d.doc_id < ks.thr GROUP BY 1)
         |SELECT nd.k, CAST(nd.n_docs AS BIGINT) AS n_docs,
         |  CAST(coalesce(nt.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(vc.vocab, 0) AS BIGINT) AS vocab
         |FROM nd LEFT JOIN nt USING (k) LEFT JOIN vc USING (k)
         |ORDER BY nd.k""".stripMargin,

    query("t02_lang_id", TextAnalysis.langId) oracle
      s"""WITH toks AS (SELECT doc_id, unnest($Toks) AS tok FROM documents),
         |scores AS (
         |  SELECT doc_id, cand_lang, CAST(sum((length(tok) * c) % 7) AS BIGINT) AS score
         |  FROM toks CROSS JOIN (VALUES ('de', 5), ('en', 3), ('es', 7), ('fr', 11), ('zh', 13)) v(cand_lang, c)
         |  GROUP BY 1, 2
         |),
         |ranked AS (
         |  SELECT doc_id, cand_lang, score,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang) AS rn
         |  FROM scores
         |)
         |SELECT doc_id, cand_lang AS pred_lang, score FROM ranked WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,

    // classifier-eval rollup: the t02 prediction chain joined to the
    // labeled lang column, accuracy per source slice (integer counts
    // until one rounded division)
    query("t12_langid_eval", TextAnalysis.langIdEval) oracle
      s"""WITH toks AS (SELECT doc_id, unnest($Toks) AS tok FROM documents),
         |scores AS (
         |  SELECT doc_id, cand_lang, CAST(sum((length(tok) * c) % 7) AS BIGINT) AS score
         |  FROM toks CROSS JOIN (VALUES ('de', 5), ('en', 3), ('es', 7), ('fr', 11), ('zh', 13)) v(cand_lang, c)
         |  GROUP BY 1, 2
         |),
         |ranked AS (
         |  SELECT doc_id, cand_lang, score,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang) AS rn
         |  FROM scores
         |),
         |pred AS (SELECT doc_id, cand_lang AS pred_lang FROM ranked WHERE rn = 1)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN p.pred_lang = d.lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  round(CAST(sum(CASE WHEN p.pred_lang = d.lang THEN 1 ELSE 0 END) AS BIGINT)
         |        / count(*), 6) AS accuracy
         |FROM pred p JOIN documents d USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // slice drift: top movers ranked on the EXACT integer numerator
    // |tf_a*tot_b - tf_b*tot_a| (common-denominator TVD contribution);
    // the one float step divides exact integers once (t08/t09 pattern)
    query("t13_token_drift", TextAnalysis.tokenDrift(_, _)) oracle
      s"""WITH occ AS (SELECT lang, unnest($Toks) AS token FROM documents
         |             WHERE lang IN ('en', 'de')),
         |tf AS (SELECT lang, token, count(*) AS tf FROM occ GROUP BY 1, 2),
         |ta AS (SELECT CAST(sum(tf) AS BIGINT) AS tot_a FROM tf WHERE lang = 'en'),
         |tb AS (SELECT CAST(sum(tf) AS BIGINT) AS tot_b FROM tf WHERE lang = 'de'),
         |j AS (
         |  SELECT COALESCE(a.token, b.token) AS token,
         |    COALESCE(a.tf, 0) AS tf_a, COALESCE(b.tf, 0) AS tf_b
         |  FROM (SELECT token, tf FROM tf WHERE lang = 'en') a
         |  FULL JOIN (SELECT token, tf FROM tf WHERE lang = 'de') b ON a.token = b.token
         |)
         |SELECT token, tf_a, tf_b,
         |  CAST(abs(tf_a * tot_b - tf_b * tot_a) AS BIGINT) AS numq,
         |  round(CAST(abs(tf_a * tot_b - tf_b * tot_a) AS BIGINT)
         |        / (2e0 * tot_a * tot_b), 9) AS drift
         |FROM j CROSS JOIN ta CROSS JOIN tb
         |ORDER BY numq DESC, token LIMIT 40""".stripMargin,

    // t14: the corpus has no digits, so both engines plant the SAME
    // doc_id-derived PII and the scrub is verified to find and redact
    // all of it. Patterns are the RE2/java.regex common subset; stage
    // order (email -> ip -> phone) is part of the operator contract.
    query("t14_pii_scrub", TextAnalysis.piiScrub) oracle
      s"""WITH enr AS (
         |  SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |    '@mail.example or +1 (' || CAST(200 + doc_id % 700 AS VARCHAR) ||
         |    ') ' || CAST(100 + doc_id % 800 AS VARCHAR) ||
         |    '-' || CAST(1000 + doc_id % 9000 AS VARCHAR) ||
         |    ' from 10.' || CAST(doc_id % 256 AS VARCHAR) ||
         |    '.0.' || CAST(doc_id % 200 AS VARCHAR) AS raw
         |  FROM documents),
         |s1 AS (SELECT doc_id, raw,
         |         regexp_replace(raw, '${TextAnalysis.PiiEmail}', '<EMAIL>', 'g') AS t1
         |       FROM enr),
         |s2 AS (SELECT doc_id, raw, t1,
         |         regexp_replace(t1, '${TextAnalysis.PiiIp}', '<IP>', 'g') AS t2
         |       FROM s1)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(raw, '${TextAnalysis.PiiEmail}')) AS INT) AS n_email,
         |  CAST(len(regexp_extract_all(t1, '${TextAnalysis.PiiIp}')) AS INT) AS n_ip,
         |  CAST(len(regexp_extract_all(t2, '${TextAnalysis.PiiPhone}')) AS INT) AS n_phone,
         |  regexp_replace(t2, '${TextAnalysis.PiiPhone}', '<PHONE>', 'g') AS clean
         |FROM s2 ORDER BY doc_id""".stripMargin,

    // t15: passages partition the token stream (trailing partial kept,
    // unlike d10's full-window unit), df counted on the md5 key exactly
    // as the engine shuffles it; docs rebuild from surviving passages
    // in order. COALESCE mirrors Spark's empty-array -> '' when every
    // passage of a doc is boilerplate.
    query("t15_boilerplate", TextAnalysis.boilerplateRemove(_, _)) oracle
      s"""WITH ${tkCte("")},
         |p AS (
         |  SELECT doc_id, i, array_to_string(tk[(i*20+1):(i*20+20)], ' ') AS ptext
         |  FROM (SELECT doc_id, tk,
         |          unnest(range(0, CAST(ceil(len(tk) / 20.0) AS INT))) AS i
         |        FROM tk) t),
         |d AS (SELECT md5(ptext) AS ph, count(DISTINCT doc_id) AS df
         |      FROM p GROUP BY 1)
         |SELECT p.doc_id, count(*) AS n_passages,
         |  count(*) FILTER (WHERE d.df >= 2) AS n_removed,
         |  COALESCE(string_agg(p.ptext, ' ' ORDER BY p.i) FILTER (WHERE d.df < 2), '') AS clean
         |FROM p JOIN d ON md5(p.ptext) = d.ph
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    query("t03_fingerprint", TextAnalysis.fingerprint) oracle
      s"""WITH ${tkCte("")},
         |toks AS (
         |  SELECT doc_id, i AS pos, list_extract(tk, i) AS tok
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM tk) t
         |),
         |vocab AS (SELECT tok, dense_rank() OVER (ORDER BY tok) AS tid
         |          FROM (SELECT DISTINCT tok FROM toks) v)
         |SELECT t.doc_id,
         |  CAST(sum((t.pos * (v.tid % 1000000007)) % 1000000007) % 1000000007 AS BIGINT) AS fp
         |FROM toks t JOIN vocab v ON t.tok = v.tok
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    query("t04_langid_char_ngram", TextAnalysis.langIdCharNgram) oracle
      """WITH bg AS (
        |  SELECT doc_id, substr(text, CAST(i AS INT), 2) AS bg
        |  FROM (SELECT doc_id, text, unnest(range(1, length(text))) AS i
        |        FROM documents WHERE length(text) >= 2) t
        |),
        |scores AS (
        |  SELECT doc_id, cand_lang,
        |    CAST(sum(((ascii(substr(bg, 1, 1)) * 31 + ascii(substr(bg, 2, 1))) * c) % 13) AS BIGINT) AS score
        |  FROM bg CROSS JOIN (VALUES ('de', 5), ('en', 3), ('es', 7), ('fr', 11), ('zh', 13)) v(cand_lang, c)
        |  GROUP BY 1, 2
        |),
        |ranked AS (
        |  SELECT doc_id, cand_lang, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang) AS rn
        |  FROM scores
        |)
        |SELECT doc_id, cand_lang AS pred_lang, score FROM ranked WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    query("t05_bpe_tokens", TextAnalysis.bpeTokenCount) oracle
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_bpe_tokens,
         |  CAST(len($Toks) AS INT) AS n_ws_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    query("t06_repetition", TextAnalysis.repetition) oracle
      s"""WITH ${tkCte("")},
         |$ShxCte
         |SELECT doc_id, count(*) AS n_shingles, count(DISTINCT sh) AS n_distinct,
         |  round(1.0 - count(DISTINCT sh) / count(*), 6) AS rep_ratio
         |FROM shx GROUP BY 1 ORDER BY doc_id""".stripMargin,

    query("t07_top_ngrams", TextAnalysis.topNgrams(_, _)) oracle
      s"""WITH ${tkCte("")},
         |uni AS (SELECT unnest(tk) AS gram FROM tk),
         |$ShxCte,
         |u AS (SELECT 1 AS n, gram, count(*) AS freq FROM uni GROUP BY 2
         |      ORDER BY freq DESC, gram LIMIT 20),
         |g AS (SELECT 3 AS n, sh AS gram, count(*) AS freq FROM shx GROUP BY 2
         |      ORDER BY freq DESC, gram LIMIT 20),
         |allg AS (SELECT * FROM u UNION ALL SELECT * FROM g)
         |SELECT n, CAST(row_number() OVER (PARTITION BY n ORDER BY freq DESC, gram) AS INT) AS rnk,
         |  gram, freq
         |FROM allg ORDER BY n, rnk""".stripMargin,

    // integer arithmetic until the final rounded division (no float
    // logs — the cross-engine-exact stand-in for unigram perplexity)
    query("t08_token_rarity", TextAnalysis.tokenRarity) oracle
      s"""WITH ${tkCte("")},
         |tox AS (SELECT doc_id, unnest(tk) AS tok FROM tk),
         |d AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS df
         |  FROM (SELECT DISTINCT doc_id, tok FROM tox) u GROUP BY tok
         |)
         |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(df) AS BIGINT) / count(*), 6) AS mean_df
         |FROM tox t JOIN d USING (tok)
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    // novelty = share of shingle OCCURRENCES whose shingle has df == 1;
    // integer counts until the final rounded division
    query("t09_ngram_novelty", TextAnalysis.ngramNovelty) oracle
      s"""WITH ${tkCte("")},
         |$ShxCte,
         |d AS (
         |  SELECT sh, CAST(count(*) AS BIGINT) AS df
         |  FROM (SELECT DISTINCT doc_id, sh FROM shx) u GROUP BY sh
         |)
         |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |        / count(*), 6) AS novelty
         |FROM shx s JOIN d USING (sh)
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    // posting-list head is ranked BEFORE collecting (mirrors the
    // Spark side's bounded-array build)
    query("t10_inverted_index", TextAnalysis.invertedIndex(_, _)) oracle
      s"""WITH ${tkCte("")},
         |tox AS (SELECT doc_id, unnest(tk) AS term FROM tk),
         |stats AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS tf,
         |    CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM tox GROUP BY term
         |),
         |u AS (SELECT DISTINCT term, doc_id FROM tox),
         |h AS (SELECT term, doc_id,
         |        row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
         |      FROM u),
         |heads AS (SELECT term, string_agg(doc_id, ',' ORDER BY doc_id) AS postings_head
         |          FROM h WHERE rn <= 20 GROUP BY term)
         |SELECT s.term, s.df, s.tf, heads.postings_head
         |FROM stats s JOIN heads USING (term) ORDER BY s.term""".stripMargin,

    // rational-idf BM25 (monotone transform of log idf — see
    // TextAnalysis.bm25 scaladoc); every float literal is e-notation so
    // DuckDB types it DOUBLE (a plain 0.5 is DECIMAL there, which would
    // fork the arithmetic tree from Spark's doubles)
    query("t11_bm25", TextAnalysis.bm25) oracle
      s"""WITH ${tkCte("")},
         |lens AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM tk),
         |corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |                  CAST(sum(dl) AS BIGINT) AS tot_tokens FROM lens),
         |occ AS (SELECT doc_id, unnest(tk) AS term FROM tk),
         |qocc AS (SELECT doc_id, term FROM occ
         |         WHERE term IN ('spark', 'vector', 'window')),
         |tf AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN term = 'spark' THEN 1 ELSE 0 END) AS BIGINT) AS tf_spark,
         |    CAST(sum(CASE WHEN term = 'vector' THEN 1 ELSE 0 END) AS BIGINT) AS tf_vector,
         |    CAST(sum(CASE WHEN term = 'window' THEN 1 ELSE 0 END) AS BIGINT) AS tf_window
         |  FROM qocc GROUP BY doc_id
         |),
         |dfs AS (
         |  SELECT
         |    CAST(count(DISTINCT CASE WHEN term = 'spark' THEN doc_id END) AS BIGINT) AS df_spark,
         |    CAST(count(DISTINCT CASE WHEN term = 'vector' THEN doc_id END) AS BIGINT) AS df_vector,
         |    CAST(count(DISTINCT CASE WHEN term = 'window' THEN doc_id END) AS BIGINT) AS df_window
         |  FROM qocc
         |)
         |SELECT t.doc_id, l.dl, t.tf_spark, t.tf_vector, t.tf_window,
         |  round(
         |    ((n_docs - df_spark + 0.5e0) / (df_spark + 0.5e0))
         |      * (CAST(tf_spark AS DOUBLE) * 2.2e0)
         |      / (CAST(tf_spark AS DOUBLE)
         |         + 1.2e0 * (0.25e0 + 0.75e0 * (dl / (tot_tokens / n_docs))))
         |    + ((n_docs - df_vector + 0.5e0) / (df_vector + 0.5e0))
         |      * (CAST(tf_vector AS DOUBLE) * 2.2e0)
         |      / (CAST(tf_vector AS DOUBLE)
         |         + 1.2e0 * (0.25e0 + 0.75e0 * (dl / (tot_tokens / n_docs))))
         |    + ((n_docs - df_window + 0.5e0) / (df_window + 0.5e0))
         |      * (CAST(tf_window AS DOUBLE) * 2.2e0)
         |      / (CAST(tf_window AS DOUBLE)
         |         + 1.2e0 * (0.25e0 + 0.75e0 * (dl / (tot_tokens / n_docs)))), 6) AS score
         |FROM tf t JOIN lens l USING (doc_id)
         |CROSS JOIN corpus CROSS JOIN dfs
         |ORDER BY t.doc_id""".stripMargin,
  )
}
