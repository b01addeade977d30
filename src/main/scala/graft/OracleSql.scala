package graft

/** DuckDB SQL fragments that more than one query family's oracles use. */
private[graft] object OracleSql {

  // Canonical DuckDB tokenization — must stay in lockstep with
  // graft.functions.Text.toks / Text.shingles.
  val Toks =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  def tkCte(where: String): String =
    s"tk AS (SELECT doc_id, $Toks AS tk FROM documents $where)"

  // Single source for the DuckDB 3-gram construction (lockstep with
  // Text.shingles): position subquery + join-by-space gram expression.
  val GramPos =
    "(SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 2, 0) + 1)) AS i FROM tk) t"

  val GramExpr =
    "list_extract(tk, i) || ' ' || list_extract(tk, i+1) || ' ' || list_extract(tk, i+2)"

  /** distinct (doc_id, shingle) pairs — set semantics (dedup operators). */
  val ShCte =
    s"sh AS (SELECT DISTINCT doc_id, $GramExpr AS sh FROM $GramPos)"

  /** First `digits` hex chars of `expr` as a BIGINT — the p01 strpos
    * idiom generalized to a Horner chain (DuckDB-portable hex→int
    * without from_hex/bit casts).
    */
  def hexIntSql(expr: String, digits: Int): String = {
    val ds = (1 to digits).map(i =>
      s"(strpos('0123456789abcdef', substr($expr, $i, 1)) - 1)")
    "CAST(" + ds.reduceLeft((acc, x) => s"($acc * 16 + $x)") + " AS BIGINT)"
  }

  /** Shared CTE chain for d06/d08: shingle sets → exact Jaccard near
    * edges + exact-dup edges → undirected closure → components with
    * min-doc_id labels (the DuckDB mirror of GraphX CC).
    */
  val CanonCtes: String =
    s"""${tkCte("")},
       |$ShCte,
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS ic
       |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |),
       |near AS (
       |  SELECT a, b FROM inter
       |  JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
       |  WHERE ic / (sa.n + sb.n - ic) >= 0.6
       |),
       |ex AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM documents x JOIN documents y ON x.text = y.text AND x.doc_id < y.doc_id
       |),
       |und AS (
       |  SELECT a, b FROM near UNION SELECT b, a FROM near
       |  UNION SELECT a, b FROM ex UNION SELECT b, a FROM ex
       |),
       |reach(s, t) AS (
       |  SELECT a, b FROM und
       |  UNION
       |  SELECT r.s, u.b FROM reach r JOIN und u ON r.t = u.a
       |),
       |comp AS (SELECT s AS doc_id, least(s, min(t)) AS canonical_id FROM reach GROUP BY s)""".stripMargin

  // Position-exploded embedding elements (cast to DOUBLE so products
  // match Spark's double arithmetic bit-for-bit).
  def embCte(where: String): String =
    s"""e AS (
       |  SELECT vec_id, i, CAST(list_extract(embedding, i) AS DOUBLE) AS x
       |  FROM (SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings WHERE $where) t
       |)""".stripMargin

  /** DuckDB mirror of Similarity.corpusClusters' full-corpus Lloyd:
    * seed centroids = the first k VECTORS, then `iters` exact
    * integer-grid rounds. Expects a CTE `p(vec_id, pos, xq)`; emits
    * cb0..cb\$iters, the final centroids being cb\$iters.
    */
  def corpusLloydCtes(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"cb0 AS (SELECT CAST(vec_id AS INT) AS cluster, pos, xq AS cq\n"
    sb ++= s"        FROM p WHERE vec_id < $k)"
    for (i <- 0 until iters) {
      sb ++= ",\n"
      sb ++= s"kd$i AS (\n"
      sb ++= "  SELECT p.vec_id, c.cluster,\n"
      sb ++= "    CAST(sum((p.xq - c.cq) * (p.xq - c.cq)) AS BIGINT) AS dist2q\n"
      sb ++= s"  FROM p JOIN cb$i c ON p.pos = c.pos GROUP BY 1, 2\n"
      sb ++= "),\n"
      sb ++= s"ka$i AS (\n"
      sb ++= "  SELECT vec_id, cluster FROM (\n"
      sb ++= "    SELECT vec_id, cluster,\n"
      sb ++= "      row_number() OVER (PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn\n"
      sb ++= s"    FROM kd$i) r WHERE rn = 1\n"
      sb ++= "),\n"
      sb ++= s"cb${i + 1} AS (\n"
      sb ++= "  SELECT a.cluster, p.pos,\n"
      sb ++= "    CAST(round(sum(p.xq) / count(*), 0) AS BIGINT) AS cq\n"
      sb ++= s"  FROM p JOIN ka$i a ON p.vec_id = a.vec_id GROUP BY 1, 2\n"
      sb ++= ")"
    }
    sb.result()
  }

  /** Shared CTE chain for s16/d22 (the corpus k-NN graph): the s11
    * trained assignment (corpusLloydCtes over all vectors) + exact
    * norms + within-cell neighbor pairs ranked per src by (rounded
    * cosine DESC, dst). Consumers filter `ranked.rnk`.
    */
  lazy val KnnCtes: String =
    s"""${embCte("TRUE")},
       |p AS (SELECT vec_id, i AS pos, CAST(round(x * 1e6, 0) AS BIGINT) AS xq FROM e),
       |${corpusLloydCtes(8, 2)},
       |fin AS (
       |  SELECT p.vec_id, c.cluster,
       |    CAST(sum((p.xq - c.cq) * (p.xq - c.cq)) AS BIGINT) AS dist2q
       |  FROM p JOIN cb2 c ON p.pos = c.pos GROUP BY 1, 2
       |),
       |asg AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT vec_id, cluster,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn
       |    FROM fin) r WHERE rn = 1
       |),
       |n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY 1),
       |d AS (
       |  SELECT aa.vec_id AS src, bb.vec_id AS dst, aa.cluster AS cell,
       |    sum(ea.x * eb.x) AS dp
       |  FROM asg aa JOIN asg bb
       |    ON aa.cluster = bb.cluster AND aa.vec_id <> bb.vec_id
       |  JOIN e ea ON ea.vec_id = aa.vec_id
       |  JOIN e eb ON eb.vec_id = bb.vec_id AND eb.i = ea.i
       |  GROUP BY 1, 2, 3
       |),
       |scored AS (
       |  SELECT src, dst, cell, round(dp / sqrt(na.nrm * nb.nrm), 6) AS cos
       |  FROM d JOIN n na ON na.vec_id = src JOIN n nb ON nb.vec_id = dst
       |),
       |ranked AS (
       |  SELECT src, dst, cell, cos,
       |    CAST(row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS INT) AS rnk
       |  FROM scored
       |)""".stripMargin

  /** Exact fixed-point log2 as a generated CTE chain — the DuckDB
    * mirror of [[graft.functions.IntLog.log2Fixed]], in lockstep via
    * the shared F/SH/step constants: 11 conditional constant shifts
    * normalize `v` into a [2^SH, 2^(SH+1)) mantissa accumulating the
    * exponent, then F square-and-carry rounds extract fractional bits.
    * Integer compares/shifts only, so both engines truncate
    * identically — no IEEE `ln` anywhere near a hash gate. Emits CTEs
    * `tag_0..tag_N`; returns (cteText, finalCteName) where the final
    * CTE carries `keep` passthrough columns plus `out`.
    */
  def ilogChainSql(tag: String, src: String, v: String,
      out: String, keep: Seq[String]): (String, String) = {
    import graft.functions.IntLog.{F, SH, DownSteps, UpSteps}
    val sb = new StringBuilder
    val kp = keep.map(c => s"p.$c, ").mkString
    var prev = src
    var idx = 0
    def step(sel: String): Unit = {
      sb ++= s",\n${tag}_$idx AS (SELECT $kp$sel FROM $prev p)"
      prev = s"${tag}_$idx"; idx += 1
    }
    step(s"CAST(p.$v AS BIGINT) AS m, CAST(0 AS BIGINT) AS b")
    for (k <- DownSteps) step(
      s"CASE WHEN p.m >= (CAST(1 AS BIGINT) << ${SH + k}) " +
        s"THEN p.m >> $k ELSE p.m END AS m, " +
        s"CASE WHEN p.m >= (CAST(1 AS BIGINT) << ${SH + k}) " +
        s"THEN p.b + $k ELSE p.b END AS b")
    for (k <- UpSteps) step(
      s"CASE WHEN p.m < (CAST(1 AS BIGINT) << ${SH + 1 - k}) " +
        s"THEN p.m << $k ELSE p.m END AS m, " +
        s"CASE WHEN p.m < (CAST(1 AS BIGINT) << ${SH + 1 - k}) " +
        s"THEN p.b - $k ELSE p.b END AS b")
    step(s"p.m AS m, p.b + $SH AS r")
    for (_ <- 0 until F) step(
      s"CASE WHEN ((p.m * p.m) >> $SH) >= (CAST(1 AS BIGINT) << ${SH + 1}) " +
        s"THEN ((p.m * p.m) >> $SH) >> 1 ELSE (p.m * p.m) >> $SH END AS m, " +
        s"CASE WHEN ((p.m * p.m) >> $SH) >= (CAST(1 AS BIGINT) << ${SH + 1}) " +
        s"THEN p.r * 2 + 1 ELSE p.r * 2 END AS r")
    step(s"p.r AS $out")
    (sb.toString, prev)
  }
}
