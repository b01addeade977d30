package graft.operators

import org.apache.spark.sql.SparkSession

import graft.OracleSql._
import graft.Query
import graft.Query.query

/** The s-family: ANN search, clustering and the corpus k-NN graph analytics. */
object SimilarityQueries {

  /** DuckDB mirror of Similarity.annIvf's relational Lloyd quantizer:
    * seed centroids = first k candidate vectors; each iteration is one
    * integer-grid argmin assignment (d_i/a_i) and one exact integer
    * re-average (c_{i+1}); cells/probes rank against the final c_iters.
    * All quantizer arithmetic is order-free integer sums, so the CTE
    * chain hash-matches the Spark plan bit-for-bit.
    */
  /** The s10 per-subspace Lloyd chain (ivfCtes with `sub` joining every
    * key): seed codebook cb0 from the candidate-ordinal mod-ksub means,
    * then per round an exact-integer argmin assign (pd_i → pa_i) and
    * re-average (cb_{i+1}). Expects a CTE `c` of (vec_id, sub, pos, xq);
    * the caller encodes/LUTs against the final cb{iters}.
    */
  private def pqLloydCtes(ksub: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"cb0 AS (SELECT sub, CAST((vec_id // 20) % $ksub AS INT) AS code, pos,\n"
    sb ++= "         CAST(round(sum(xq) / count(*), 0) AS BIGINT) AS cq\n"
    sb ++= "       FROM c GROUP BY 1, 2, 3)"
    for (i <- 0 until iters) {
      sb ++= ",\n"
      sb ++= s"pd$i AS (\n"
      sb ++= "  SELECT c.vec_id, c.sub, cb.code,\n"
      sb ++= "    CAST(sum((c.xq - cb.cq) * (c.xq - cb.cq)) AS BIGINT) AS dist2q\n"
      sb ++= s"  FROM c JOIN cb$i cb ON c.sub = cb.sub AND c.pos = cb.pos\n"
      sb ++= "  GROUP BY 1, 2, 3\n"
      sb ++= "),\n"
      sb ++= s"pa$i AS (\n"
      sb ++= "  SELECT vec_id, sub, code FROM (\n"
      sb ++= "    SELECT vec_id, sub, code,\n"
      sb ++= "      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist2q, code) AS rn\n"
      sb ++= s"    FROM pd$i) r WHERE rn = 1\n"
      sb ++= "),\n"
      sb ++= s"cb${i + 1} AS (\n"
      sb ++= "  SELECT c.sub, a.code, c.pos,\n"
      sb ++= "    CAST(round(sum(c.xq) / count(*), 0) AS BIGINT) AS cq\n"
      sb ++= s"  FROM c JOIN pa$i a ON c.vec_id = a.vec_id AND c.sub = a.sub\n"
      sb ++= "  GROUP BY 1, 2, 3\n"
      sb ++= ")"
    }
    sb.result()
  }

  private def ivfCtes(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= "cp AS (SELECT vec_id, i AS pos, CAST(round(x * 1e6, 0) AS BIGINT) AS xq\n"
    sb ++= "      FROM e WHERE vec_id % 20 = 0),\n"
    sb ++= "qp AS (SELECT vec_id, i AS pos, CAST(round(x * 1e6, 0) AS BIGINT) AS xq\n"
    sb ++= "      FROM e WHERE vec_id < 8),\n"
    sb ++= s"c0 AS (SELECT CAST(vec_id // 20 AS INT) AS cluster, pos, xq AS cq\n"
    sb ++= s"      FROM cp WHERE vec_id < ${20L * k}),\n"
    for (i <- 0 until iters) {
      sb ++= s"d$i AS (\n"
      sb ++= s"  SELECT cp.vec_id, c.cluster,\n"
      sb ++= s"    CAST(sum((cp.xq - c.cq) * (cp.xq - c.cq)) AS BIGINT) AS dist2q\n"
      sb ++= s"  FROM cp JOIN c$i c ON cp.pos = c.pos GROUP BY 1, 2\n"
      sb ++= s"),\n"
      sb ++= s"a$i AS (\n"
      sb ++= s"  SELECT vec_id, cluster FROM (\n"
      sb ++= s"    SELECT vec_id, cluster,\n"
      sb ++= s"      row_number() OVER (PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn\n"
      sb ++= s"    FROM d$i) r WHERE rn = 1\n"
      sb ++= s"),\n"
      sb ++= s"c${i + 1} AS (\n"
      sb ++= s"  SELECT a.cluster, cp.pos,\n"
      sb ++= s"    CAST(round(sum(cp.xq) / count(*), 0) AS BIGINT) AS cq\n"
      sb ++= s"  FROM cp JOIN a$i a ON cp.vec_id = a.vec_id GROUP BY 1, 2\n"
      sb ++= s")"
      if (i < iters - 1) sb ++= ",\n"
    }
    sb.result()
  }

  /** DuckDB mirror of Similarity.pageRank (s21): KnnCtes supplies the
    * literal s16 edges; each fixed-point round is one generated pair
    * of CTEs — dst-keyed integer contribution sum (`pr // deg`) and
    * the damped update `150000 + (85·in) // 100` left-joined over all
    * ids (dangling mass leaks, both engines). AS MATERIALIZED on each
    * pr round — the bpeSql lesson.
    */
  private def pageRankSql(prIters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH $KnnCtes,\n"
    sb ++= "edges AS MATERIALIZED (SELECT src, dst FROM ranked WHERE rnk <= 3),\n"
    sb ++= "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),\n"
    sb ++= "ids AS (SELECT vec_id FROM embeddings),\n"
    sb ++= "pr0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS pr FROM ids)"
    for (i <- 1 to prIters) {
      sb ++= s""",
         |in$i AS (
         |  SELECT e.dst AS vec_id, CAST(sum(p.pr // d.deg) AS BIGINT) AS inm
         |  FROM edges e JOIN deg d ON e.src = d.src
         |  JOIN pr${i - 1} p ON p.vec_id = e.src
         |  GROUP BY 1),
         |pr$i AS MATERIALIZED (
         |  SELECT i.vec_id,
         |    CAST(150000 + (85 * coalesce(n.inm, 0)) // 100 AS BIGINT) AS pr
         |  FROM ids i LEFT JOIN in$i n ON i.vec_id = n.vec_id)""".stripMargin
    }
    sb ++= s"\nSELECT vec_id, pr FROM pr$prIters ORDER BY vec_id"
    sb.toString
  }

  /** DuckDB mirror of Similarity.personalizedPageRank (s38):
    * pageRankSql with seed as an extra key column and the SPARSE
    * update — damped inbound mass per (seed, dst) plus the 150000
    * restart re-injected at each seed, unreached nodes absent (exact
    * zeros). AS MATERIALIZED per round (the bpeSql lesson).
    */
  private def pprSql(pprIters: Int, nSeeds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH $KnnCtes,\n"
    sb ++= "edges AS MATERIALIZED (SELECT src, dst FROM ranked WHERE rnk <= 3),\n"
    sb ++= "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),\n"
    sb ++= s"pp0 AS (SELECT vec_id AS seed, vec_id, CAST(1000000 AS BIGINT) AS pr FROM embeddings WHERE vec_id < $nSeeds)"
    for (i <- 1 to pprIters) {
      sb ++= s""",
         |pin$i AS (
         |  SELECT p.seed, e.dst AS vec_id,
         |    CAST(sum(p.pr // d.deg) AS BIGINT) AS inm
         |  FROM edges e JOIN deg d ON e.src = d.src
         |  JOIN pp${i - 1} p ON p.vec_id = e.src
         |  GROUP BY 1, 2),
         |pp$i AS MATERIALIZED (
         |  SELECT seed, vec_id, CAST(sum(pr) AS BIGINT) AS pr FROM (
         |    SELECT seed, vec_id, (85 * inm) // 100 AS pr FROM pin$i
         |    UNION ALL
         |    SELECT vec_id AS seed, vec_id, CAST(150000 AS BIGINT) AS pr
         |    FROM embeddings WHERE vec_id < $nSeeds) u
         |  GROUP BY 1, 2)""".stripMargin
    }
    sb ++= s"\nSELECT seed, vec_id, pr FROM pp$pprIters WHERE pr > 0 ORDER BY seed, vec_id"
    sb.toString
  }

  /** DuckDB mirror of Similarity.hits (s39): KnnCtes supplies the s16
    * edges; each synchronous round is two generated keyed-sum CTEs
    * (hub from the previous auth, auth from the previous hub) LEFT-
    * joined over all ids. AS MATERIALIZED per round (the bpeSql
    * lesson).
    */
  private def hitsSql(hitsIters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH $KnnCtes,\n"
    sb ++= "edges AS MATERIALIZED (SELECT src, dst FROM ranked WHERE rnk <= 3),\n"
    sb ++= "ids AS (SELECT vec_id FROM embeddings),\n"
    sb ++= "hb0 AS (SELECT vec_id, CAST(1 AS BIGINT) AS h FROM ids),\n"
    sb ++= "au0 AS (SELECT vec_id, CAST(1 AS BIGINT) AS a FROM ids)"
    for (i <- 1 to hitsIters) {
      sb ++= s""",
         |hin$i AS (
         |  SELECT e.src AS vec_id, CAST(sum(a.a) AS BIGINT) AS h
         |  FROM edges e JOIN au${i - 1} a ON a.vec_id = e.dst GROUP BY 1),
         |ain$i AS (
         |  SELECT e.dst AS vec_id, CAST(sum(h.h) AS BIGINT) AS a
         |  FROM edges e JOIN hb${i - 1} h ON h.vec_id = e.src GROUP BY 1),
         |hb$i AS MATERIALIZED (
         |  SELECT i.vec_id, CAST(coalesce(n.h, 0) AS BIGINT) AS h
         |  FROM ids i LEFT JOIN hin$i n ON i.vec_id = n.vec_id),
         |au$i AS MATERIALIZED (
         |  SELECT i.vec_id, CAST(coalesce(n.a, 0) AS BIGINT) AS a
         |  FROM ids i LEFT JOIN ain$i n ON i.vec_id = n.vec_id)""".stripMargin
    }
    sb ++= s"""\nSELECT h.vec_id, h.h AS hub, a.a AS auth
       |FROM hb$hitsIters h JOIN au$hitsIters a ON a.vec_id = h.vec_id
       |ORDER BY h.vec_id""".stripMargin
    sb.toString
  }

  /** DuckDB mirror of Similarity.bfsHops (s29): KnnCtes supplies the
    * literal s16 edges; each BFS round is one generated pair of CTEs —
    * frontier propagation across the edge list, then the per-node min
    * with the settled set. AS MATERIALIZED per round (the bpeSql
    * lesson).
    */
  private def bfsSql(hops: Int, nSeeds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH $KnnCtes,\n"
    sb ++= "edges AS MATERIALIZED (SELECT src, dst FROM ranked WHERE rnk <= 3),\n"
    sb ++= s"d0 AS (SELECT vec_id, CAST(0 AS INT) AS hop FROM embeddings WHERE vec_id < $nSeeds)"
    for (i <- 1 to hops) {
      sb ++= s""",
         |p$i AS (
         |  SELECT e.dst AS vec_id, CAST($i AS INT) AS hop
         |  FROM edges e JOIN d${i - 1} d ON d.vec_id = e.src),
         |d$i AS MATERIALIZED (
         |  SELECT vec_id, CAST(min(hop) AS INT) AS hop FROM (
         |    SELECT * FROM d${i - 1} UNION ALL SELECT * FROM p$i) u
         |  GROUP BY vec_id)""".stripMargin
    }
    sb ++= s"\nSELECT vec_id, hop FROM d$hops ORDER BY vec_id"
    sb.toString
  }

  /** DuckDB mirror of Similarity.rocchioExpand (s41): the quantized
    * position table, round-1 ranking, the integer expansion
    * q' = 6·q + Σ top-k0, and the round-2 re-rank — both rounds the
    * exact-integer-dot + one-IEEE-division discipline.
    */
  private def rocchioSql(k0: Int, k: Int): String =
    s"""WITH ${embCte("vec_id < 8 OR vec_id % 20 = 0")},
       |p AS MATERIALIZED (
       |  SELECT vec_id, i, CAST(round(x * 1e6, 0) AS BIGINT) AS xq FROM e),
       |c AS (SELECT vec_id, i, xq FROM p WHERE vec_id % 20 = 0),
       |q AS (SELECT vec_id AS qid, i, xq AS qxq FROM p WHERE vec_id < 8),
       |cn AS (SELECT vec_id, CAST(sum(xq * xq) AS BIGINT) AS nc
       |  FROM c GROUP BY 1),
       |qn AS (SELECT qid, CAST(sum(qxq * qxq) AS BIGINT) AS nq
       |  FROM q GROUP BY 1),
       |d1 AS (SELECT q.qid, c.vec_id AS cand,
       |    CAST(sum(q.qxq * c.xq) AS BIGINT) AS dp
       |  FROM q JOIN c ON c.i = q.i WHERE c.vec_id <> q.qid GROUP BY 1, 2),
       |s1 AS (SELECT d.qid, d.cand,
       |    round(d.dp / sqrt(CAST(qn.nq AS DOUBLE) * CAST(cn.nc AS DOUBLE)), 6) AS cos
       |  FROM d1 d JOIN qn ON qn.qid = d.qid JOIN cn ON cn.vec_id = d.cand),
       |r1 AS (SELECT qid, cand FROM (
       |    SELECT qid, cand,
       |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS rnk
       |    FROM s1) x WHERE rnk <= $k0),
       |qe AS MATERIALIZED (
       |  SELECT q.qid, q.i, CAST(6 * max(q.qxq) + sum(t.xq) AS BIGINT) AS qxq
       |  FROM q JOIN r1 ON r1.qid = q.qid
       |  JOIN c t ON t.vec_id = r1.cand AND t.i = q.i
       |  GROUP BY 1, 2),
       |qn2 AS (SELECT qid, CAST(sum(qxq * qxq) AS BIGINT) AS nq
       |  FROM qe GROUP BY 1),
       |d2 AS (SELECT qe.qid, c.vec_id AS cand,
       |    CAST(sum(qe.qxq * c.xq) AS BIGINT) AS dp
       |  FROM qe JOIN c ON c.i = qe.i WHERE c.vec_id <> qe.qid GROUP BY 1, 2),
       |s2 AS (SELECT d.qid, d.cand,
       |    round(d.dp / sqrt(CAST(n2.nq AS DOUBLE) * CAST(cn.nc AS DOUBLE)), 6) AS cos
       |  FROM d2 d JOIN qn2 n2 ON n2.qid = d.qid JOIN cn ON cn.vec_id = d.cand)
       |SELECT qid, rnk, cand, cos FROM (
       |  SELECT qid, cand, cos,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand)
       |      AS INT) AS rnk
       |  FROM s2) x WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin

  /** DuckDB mirror of Similarity.kCenter (s22): seed = min vec_id,
    * then each generated round computes every unselected point's exact
    * integer-grid min-distance to the selected set and takes the
    * (mind DESC, vec_id) argmax — the greedy farthest-point sequence
    * replayed declaratively.
    */
  private def kcenterSql(kSel: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH ${embCte("TRUE")},\n"
    sb ++= "p AS MATERIALIZED (SELECT vec_id, i AS pos, CAST(round(x * 1e6, 0) AS BIGINT) AS xq FROM e),\n"
    sb ++= "sel1 AS (SELECT CAST(1 AS INT) AS pick, CAST(min(vec_id) AS BIGINT) AS vec_id, CAST(0 AS BIGINT) AS mind FROM p)"
    for (i <- 2 to kSel) {
      val prev = (1 until i).map(j => s"SELECT vec_id FROM sel$j")
        .mkString(" UNION ALL ")
      sb ++= s""",
         |selcur$i AS ($prev),
         |pd$i AS (
         |  SELECT a.vec_id, b.vec_id AS sid,
         |    CAST(sum((a.xq - b.xq) * (a.xq - b.xq)) AS BIGINT) AS d2
         |  FROM p a JOIN p b ON a.pos = b.pos
         |  JOIN selcur$i s ON b.vec_id = s.vec_id
         |  WHERE a.vec_id NOT IN (SELECT vec_id FROM selcur$i)
         |  GROUP BY 1, 2),
         |md$i AS (SELECT vec_id, min(d2) AS mind FROM pd$i GROUP BY 1),
         |sel$i AS MATERIALIZED (
         |  SELECT CAST($i AS INT) AS pick, vec_id, mind FROM (
         |    SELECT vec_id, mind,
         |      row_number() OVER (ORDER BY mind DESC, vec_id) AS rn
         |    FROM md$i) r WHERE rn = 1)""".stripMargin
    }
    sb ++= "\n" + (1 to kSel).map(i => s"SELECT pick, vec_id, mind FROM sel$i")
      .mkString(" UNION ALL ")
    sb ++= "\nORDER BY pick"
    sb.toString
  }

  /** Undirected + bidirectional views of the s16 graph, appended to
    * [[KnnCtes]] by the graph-analytics oracles (s23/s24/s25): each
    * directed top-3 edge canonicalized to (least, greatest) and
    * deduped, then unioned both ways for degree/neighbor scans.
    */
  private lazy val UndirCtes: String =
    """und AS MATERIALIZED (
      |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM ranked WHERE rnk <= 3),
      |bidir AS MATERIALIZED (
      |  SELECT a AS src, b AS dst FROM und
      |  UNION ALL SELECT b AS src, a AS dst FROM und)""".stripMargin

  /** DuckDB mirror of Similarity.triangleCounts (s23): the canonical
    * a<b<c enumeration (und ⋈ und on the middle vertex + the closing
    * edge probe) materializes each triangle once; per-vertex counts
    * come from unioning the three corners.
    */
  private lazy val triangleSql: String =
    s"""WITH $KnnCtes,
       |$UndirCtes,
       |dg AS (SELECT v AS vec_id, CAST(count(*) AS BIGINT) AS deg FROM (
       |  SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) u GROUP BY 1),
       |tri AS (
       |  SELECT e1.a AS v1, e1.b AS v2, e2.b AS v3
       |  FROM und e1 JOIN und e2 ON e1.b = e2.a
       |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
       |pv AS (SELECT v AS vec_id, CAST(count(*) AS BIGINT) AS tri FROM (
       |  SELECT v1 AS v FROM tri UNION ALL SELECT v2 FROM tri
       |  UNION ALL SELECT v3 FROM tri) u GROUP BY 1)
       |SELECT i.vec_id, coalesce(d.deg, CAST(0 AS BIGINT)) AS deg,
       |  coalesce(p.tri, CAST(0 AS BIGINT)) AS tri
       |FROM embeddings i
       |LEFT JOIN dg d ON i.vec_id = d.vec_id
       |LEFT JOIN pv p ON i.vec_id = p.vec_id
       |ORDER BY i.vec_id""".stripMargin

  /** DuckDB mirror of Similarity.labelPropagation (s24): each
    * synchronous round is one generated CTE trio — neighbor-label
    * counts through the bidirectional edges, the (cnt DESC, lbl)
    * argmax, and the coalesced update (isolated vertices keep their
    * previous label). AS MATERIALIZED per round — the bpeSql lesson.
    */
  private def lpaSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH $KnnCtes,\n$UndirCtes,\n"
    sb ++= "lbl0 AS (SELECT vec_id, vec_id AS lbl FROM embeddings)"
    for (i <- 1 to rounds) {
      sb ++= s""",
         |nl$i AS (
         |  SELECT b.dst AS vec_id, l.lbl, count(*) AS cnt
         |  FROM bidir b JOIN lbl${i - 1} l ON l.vec_id = b.src
         |  GROUP BY 1, 2),
         |pk$i AS (
         |  SELECT vec_id, lbl AS nlbl FROM (
         |    SELECT vec_id, lbl,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cnt DESC, lbl) AS rn
         |    FROM nl$i) r WHERE rn = 1),
         |lbl$i AS MATERIALIZED (
         |  SELECT p.vec_id, coalesce(k.nlbl, p.lbl) AS lbl
         |  FROM lbl${i - 1} p LEFT JOIN pk$i k ON p.vec_id = k.vec_id)""".stripMargin
    }
    sb ++= s"\nSELECT vec_id, lbl FROM lbl$rounds ORDER BY vec_id"
    sb.result()
  }

  /** DuckDB mirror of Similarity.kCorePeel (s25): the mutual edge
    * set is ranked self-joined on the reversed (src, dst) key (both
    * directions rnk <= 3); each peel round recomputes
    * survivor-restricted degrees (two semi-join-shaped joins against
    * the previous alive set) and keeps deg >= coreK; the final
    * projection re-derives within-core degree over the last survivor
    * set.
    */
  private def kcorePeelSql(coreK: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH $KnnCtes,\n"
    sb ++=
      """mund AS MATERIALIZED (
        |  SELECT r1.src AS a, r1.dst AS b
        |  FROM ranked r1 JOIN ranked r2
        |    ON r1.src = r2.dst AND r1.dst = r2.src
        |  WHERE r1.rnk <= 3 AND r2.rnk <= 3 AND r1.src < r1.dst),
        |bidir AS MATERIALIZED (
        |  SELECT a AS src, b AS dst FROM mund
        |  UNION ALL SELECT b AS src, a AS dst FROM mund),
        |""".stripMargin
    sb ++= "alive0 AS (SELECT vec_id FROM embeddings)"
    for (i <- 1 to rounds) {
      sb ++= s""",
         |dg$i AS (
         |  SELECT b.src AS vec_id, CAST(count(*) AS BIGINT) AS deg
         |  FROM bidir b JOIN alive${i - 1} x ON x.vec_id = b.src
         |  JOIN alive${i - 1} y ON y.vec_id = b.dst
         |  GROUP BY 1),
         |alive$i AS MATERIALIZED (
         |  SELECT vec_id FROM dg$i WHERE deg >= $coreK)""".stripMargin
    }
    sb ++= s""",
       |fdeg AS (
       |  SELECT b.src AS vec_id, CAST(count(*) AS BIGINT) AS deg
       |  FROM bidir b JOIN alive$rounds x ON x.vec_id = b.src
       |  JOIN alive$rounds y ON y.vec_id = b.dst
       |  GROUP BY 1)
       |SELECT a.vec_id, coalesce(f.deg, CAST(0 AS BIGINT)) AS deg
       |FROM alive$rounds a LEFT JOIN fdeg f ON a.vec_id = f.vec_id
       |ORDER BY a.vec_id""".stripMargin
    sb.result()
  }

  /** DuckDB mirror of Similarity.linkPrediction (s26): wedges through
    * the shared neighbor z (bidir self-join, a < b) carry z's degree;
    * candidates aggregate cn and the integer resource-allocation sum
    * Σ 10^6 // deg(z), drop existing und edges, join both endpoint
    * degrees, and the (cn DESC, ra DESC, a, b) top-N ranks.
    */
  private def linkPredSql(topN: Int): String =
    s"""WITH $KnnCtes,
       |$UndirCtes,
       |dg AS MATERIALIZED (
       |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM bidir GROUP BY 1),
       |wedge AS (
       |  SELECT x.src AS a, y.src AS b, d.deg AS zdeg
       |  FROM bidir x JOIN bidir y ON x.dst = y.dst AND x.src < y.src
       |  JOIN dg d ON d.src = x.dst),
       |cand AS (
       |  SELECT w.a, w.b, CAST(count(*) AS BIGINT) AS cn,
       |    CAST(sum(1000000 // zdeg) AS BIGINT) AS ra
       |  FROM wedge w GROUP BY 1, 2),
       |nonedge AS (
       |  SELECT c.* FROM cand c
       |  WHERE NOT EXISTS (SELECT 1 FROM und u WHERE u.a = c.a AND u.b = c.b)),
       |lpsc AS (
       |  SELECT n.a, n.b, n.cn, n.ra, da.deg * db.deg AS pa
       |  FROM nonedge n
       |  JOIN dg da ON da.src = n.a
       |  JOIN dg db ON db.src = n.b)
       |SELECT CAST(rn AS INT) AS rnk, a, b, cn, ra, pa FROM (
       |  SELECT *, row_number() OVER (ORDER BY cn DESC, ra DESC, a, b) AS rn
       |  FROM lpsc) r
       |WHERE rn <= $topN ORDER BY rnk""".stripMargin

  /** DuckDB mirror of Similarity.annBeam (s18): KnnCtes supplies the
    * trained cells (fin/asg), norms and within-cell ranked edges —
    * the literal s16 graph — then the beam search unrolls to a fixed
    * CTE chain: entry = each query's `nEntry` nearest cells (ranked
    * in `fin`, the all-pairs exact distances to the final centroids)
    * entered at the cell medoid; each hop materializes frontier
    * (per-query top-`beam` of visited), expansion through the edge
    * list, a NOT EXISTS anti-join against visited, exact rounded-
    * cosine scoring of the fresh vertices, and the growing visited
    * union. AS MATERIALIZED on every multiply-referenced CTE — the
    * bpeSql lesson (without it the plan re-expands 2^hops times).
    */
  private def beamSql(nEntry: Int, beam: Int, hops: Int, topK: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH $KnnCtes,\n"
    sb ++= "edges AS MATERIALIZED (SELECT src, dst FROM ranked WHERE rnk <= 3),\n"
    sb ++= """med AS MATERIALIZED (
             |  SELECT cluster, vec_id AS cand FROM (
             |    SELECT a.cluster, a.vec_id,
             |      row_number() OVER (PARTITION BY a.cluster
             |        ORDER BY f.dist2q, a.vec_id) AS rn
             |    FROM asg a JOIN fin f
             |      ON f.vec_id = a.vec_id AND f.cluster = a.cluster) r
             |  WHERE rn = 1),
             |""".stripMargin
    sb ++= s"""qc AS (
              |  SELECT vec_id AS qid, cluster FROM (
              |    SELECT vec_id, cluster,
              |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn
              |    FROM fin WHERE vec_id < 8) r WHERE rn <= $nEntry),
              |v0 AS (SELECT DISTINCT qc.qid, m.cand FROM qc JOIN med m ON qc.cluster = m.cluster),
              |""".stripMargin
    // scoring a (qid, cand) frame: exact dot via the e expansion, then
    // one rounded IEEE division by the norms (the s01/s16 discipline)
    def scoreCtes(tag: String, src: String): String =
      s"""ds$tag AS (
         |  SELECT w.qid, w.cand, sum(eq.x * ec.x) AS dp
         |  FROM $src w JOIN e eq ON eq.vec_id = w.qid
         |  JOIN e ec ON ec.vec_id = w.cand AND ec.i = eq.i
         |  GROUP BY 1, 2),
         |ns$tag AS (
         |  SELECT ds.qid, ds.cand, round(ds.dp / sqrt(nq.nrm * nc.nrm), 6) AS cos
         |  FROM ds$tag ds JOIN n nq ON nq.vec_id = ds.qid
         |  JOIN n nc ON nc.vec_id = ds.cand)""".stripMargin
    sb ++= scoreCtes("0", "v0")
    sb ++= ",\nvis0 AS MATERIALIZED (SELECT * FROM ns0)"
    for (i <- 1 to hops) {
      sb ++= s""",
                |fr$i AS (
                |  SELECT qid, cand FROM (
                |    SELECT qid, cand,
                |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS rn
                |    FROM vis${i - 1}) r WHERE rn <= $beam),
                |nw$i AS MATERIALIZED (
                |  SELECT DISTINCT f.qid, ed.dst AS cand
                |  FROM fr$i f JOIN edges ed ON ed.src = f.cand
                |  WHERE NOT EXISTS (SELECT 1 FROM vis${i - 1} v
                |                    WHERE v.qid = f.qid AND v.cand = ed.dst)),
                |""".stripMargin
      sb ++= scoreCtes(i.toString, s"nw$i")
      sb ++= s""",
                |vis$i AS MATERIALIZED (
                |  SELECT * FROM vis${i - 1} UNION ALL SELECT * FROM ns$i)""".stripMargin
    }
    sb ++= s"""
              |SELECT qid, cand, cos, rnk FROM (
              |  SELECT qid, cand, cos,
              |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS INT) AS rnk
              |  FROM vis$hops WHERE cand <> qid) r
              |WHERE rnk <= $topK ORDER BY qid, rnk""".stripMargin
    sb.result()
  }

  /** DuckDB mirror of Similarity.annMmr (s19): the s01 scoring CTEs
    * put the pool on the 1e-6 integer grid (ONE rounding:
    * round(cos·1e6) as BIGINT), pairwise within-pool sims land on the
    * same grid, and the greedy loop unrolls to k−1 rounds of
    * (remaining = pool − selected) → max-sim-to-selected → integer
    * MMR objective argmax. AS MATERIALIZED on every multiply-
    * referenced CTE (the bpeSql lesson).
    */
  private def mmrSql(poolK: Int, k: Int, lambdaNum: Int, lambdaDen: Int): String = {
    val pen = lambdaDen - lambdaNum
    val sb = new StringBuilder
    sb ++= s"""WITH ${embCte("vec_id < 8 OR vec_id % 20 = 0")},
              |n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY 1),
              |d AS (
              |  SELECT q.vec_id AS qid, c.vec_id AS cand, sum(q.x * c.x) AS dp
              |  FROM e q JOIN e c ON q.i = c.i
              |  WHERE q.vec_id < 8 AND c.vec_id % 20 = 0 AND q.vec_id <> c.vec_id
              |  GROUP BY 1, 2
              |),
              |pool AS MATERIALIZED (
              |  SELECT qid, cand, rel6 FROM (
              |    SELECT qid, cand,
              |      CAST(round(dp / sqrt(nq.nrm * nc.nrm) * 1e6, 0) AS BIGINT) AS rel6,
              |      row_number() OVER (PARTITION BY qid
              |        ORDER BY round(dp / sqrt(nq.nrm * nc.nrm) * 1e6, 0) DESC, cand) AS rn
              |    FROM d JOIN n nq ON qid = nq.vec_id JOIN n nc ON cand = nc.vec_id) r
              |  WHERE rn <= $poolK),
              |prs AS MATERIALIZED (
              |  SELECT a.qid, a.cand AS ca, b.cand AS cb,
              |    CAST(round(sum(ea.x * eb.x) / sqrt(na.nrm * nb.nrm) * 1e6, 0) AS BIGINT) AS sim6
              |  FROM pool a JOIN pool b ON a.qid = b.qid AND a.cand <> b.cand
              |  JOIN e ea ON ea.vec_id = a.cand JOIN e eb ON eb.vec_id = b.cand AND eb.i = ea.i
              |  JOIN n na ON na.vec_id = a.cand JOIN n nb ON nb.vec_id = b.cand
              |  GROUP BY 1, 2, 3, na.nrm, nb.nrm),
              |sel1 AS MATERIALIZED (
              |  SELECT qid, cand, rel6, $lambdaNum * rel6 AS mmr6, 1 AS pick FROM (
              |    SELECT qid, cand, rel6,
              |      row_number() OVER (PARTITION BY qid
              |        ORDER BY $lambdaNum * rel6 DESC, cand) AS rn
              |    FROM pool) r WHERE rn = 1)""".stripMargin
    for (i <- 2 to k) {
      sb ++= s""",
                |rem$i AS (
                |  SELECT p.qid, p.cand, p.rel6 FROM pool p
                |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s
                |                    WHERE s.qid = p.qid AND s.cand = p.cand)),
                |ms$i AS (
                |  SELECT r.qid, r.cand, max(pr.sim6) AS maxsim6
                |  FROM rem$i r JOIN prs pr ON pr.qid = r.qid AND pr.ca = r.cand
                |  JOIN sel${i - 1} s ON s.qid = pr.qid AND s.cand = pr.cb
                |  GROUP BY 1, 2),
                |pk$i AS (
                |  SELECT qid, cand, rel6, mmr6, $i AS pick FROM (
                |    SELECT r.qid, r.cand, r.rel6,
                |      $lambdaNum * r.rel6 - $pen * m.maxsim6 AS mmr6,
                |      row_number() OVER (PARTITION BY r.qid
                |        ORDER BY $lambdaNum * r.rel6 - $pen * m.maxsim6 DESC, r.cand) AS rn
                |    FROM rem$i r JOIN ms$i m ON m.qid = r.qid AND m.cand = r.cand) t
                |  WHERE rn = 1),
                |sel$i AS MATERIALIZED (
                |  SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM pk$i)""".stripMargin
    }
    sb ++= s"""
              |SELECT qid, cand, rel6, CAST(mmr6 AS BIGINT) AS mmr6, pick
              |FROM sel$k ORDER BY qid, pick""".stripMargin
    sb.result()
  }

  /** Shared generator for the s15/s17 IVF+PQ oracles: the ivfCtes
    * coarse quantizer (cells + probes vs the final c2), pqLloydCtes
    * subspace codebooks over candidate sub-points `c` — RAW for s15,
    * RESIDUAL (xq − assigned coarse cq) for s17 — and the probed-cells
    * ADC; the residual form adds the exact per-(query, cell) coarse
    * term q·c_cell to the score (q·x ≈ q·c_cell + q·r̂).
    */
  private def ivfPqSql(residual: Boolean): String = {
    val cCte =
      if (!residual)
        "c AS (SELECT vec_id, CAST((pos - 1) // 16 AS INT) AS sub, pos, xq FROM cp)"
      else
        """c AS (
          |  SELECT cp.vec_id, CAST((cp.pos - 1) // 16 AS INT) AS sub, cp.pos,
          |    cp.xq - cc.cq AS xq
          |  FROM cp JOIN cells cl ON cp.vec_id = cl.vec_id
          |  JOIN c2 cc ON cc.cluster = cl.cell AND cc.pos = cp.pos
          |)""".stripMargin
    val adcCtes =
      if (!residual)
        """adc AS (SELECT p.qid, codes.vec_id, CAST(sum(lutq) AS BIGINT) AS adcq
          |        FROM codes
          |        JOIN cells cl ON codes.vec_id = cl.vec_id
          |        JOIN probes p ON p.cell = cl.cell
          |        JOIN lut ON codes.sub = lut.sub AND codes.code = lut.code
          |          AND lut.qid = p.qid
          |        WHERE codes.vec_id <> p.qid
          |        GROUP BY 1, 2)""".stripMargin
      else
        """qc AS (SELECT qp.vec_id AS qid, p.cell,
          |         CAST(sum(qp.xq * cc.cq) AS BIGINT) AS t1q
          |       FROM qp JOIN probes p ON p.qid = qp.vec_id
          |       JOIN c2 cc ON cc.cluster = p.cell AND cc.pos = qp.pos
          |       GROUP BY 1, 2),
          |radc AS (SELECT p.qid, codes.vec_id, cl.cell,
          |           CAST(sum(lutq) AS BIGINT) AS rq
          |         FROM codes
          |         JOIN cells cl ON codes.vec_id = cl.vec_id
          |         JOIN probes p ON p.cell = cl.cell
          |         JOIN lut ON codes.sub = lut.sub AND codes.code = lut.code
          |           AND lut.qid = p.qid
          |         WHERE codes.vec_id <> p.qid
          |         GROUP BY 1, 2, 3),
          |adc AS (SELECT radc.qid, radc.vec_id,
          |          CAST(rq + qc.t1q AS BIGINT) AS adcq
          |        FROM radc JOIN qc ON qc.qid = radc.qid AND qc.cell = radc.cell)""".stripMargin
    s"""WITH ${embCte("vec_id < 8 OR vec_id % 20 = 0")},
       |${ivfCtes(8, 2)},
       |dc AS (
       |  SELECT cp.vec_id, c.cluster,
       |    CAST(sum((cp.xq - c.cq) * (cp.xq - c.cq)) AS BIGINT) AS dist2q
       |  FROM cp JOIN c2 c ON cp.pos = c.pos GROUP BY 1, 2
       |),
       |cells AS (
       |  SELECT vec_id, cluster AS cell FROM (
       |    SELECT vec_id, cluster,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn
       |    FROM dc) r WHERE rn = 1
       |),
       |dq AS (
       |  SELECT qp.vec_id, c.cluster,
       |    CAST(sum((qp.xq - c.cq) * (qp.xq - c.cq)) AS BIGINT) AS dist2q
       |  FROM qp JOIN c2 c ON qp.pos = c.pos GROUP BY 1, 2
       |),
       |probes AS (
       |  SELECT vec_id AS qid, cluster AS cell FROM (
       |    SELECT vec_id, cluster,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn
       |    FROM dq) r WHERE rn <= 4
       |),
       |$cCte,
       |${pqLloydCtes(8, 2)},
       |enc AS (
       |  SELECT vec_id, sub, code,
       |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist2q, code) AS rn
       |  FROM (SELECT c.vec_id, c.sub, cb.code,
       |          CAST(sum((c.xq - cb.cq) * (c.xq - cb.cq)) AS BIGINT) AS dist2q
       |        FROM c JOIN cb2 cb ON c.sub = cb.sub AND c.pos = cb.pos
       |        GROUP BY 1, 2, 3) d),
       |codes AS (SELECT vec_id, sub, code FROM enc WHERE rn = 1),
       |qsp AS (SELECT vec_id AS qid, CAST((pos - 1) // 16 AS INT) AS sub, pos, xq
       |        FROM qp),
       |lut AS (SELECT qid, cb.sub, cb.code, CAST(sum(qsp.xq * cb.cq) AS BIGINT) AS lutq
       |        FROM qsp JOIN cb2 cb ON qsp.sub = cb.sub AND qsp.pos = cb.pos
       |        GROUP BY 1, 2, 3),
       |$adcCtes,
       |short AS (SELECT qid, vec_id, adcq,
       |            row_number() OVER (PARTITION BY qid ORDER BY adcq DESC, vec_id) AS srn
       |          FROM adc),
       |n AS (SELECT vec_id, list_reduce(
       |        list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
       |        (x, y) -> x + y) AS nrm
       |      FROM embeddings),
       |rer AS (
       |  SELECT s.qid, s.vec_id AS cand, s.adcq,
       |    round(list_reduce(list_transform(list_zip(eq.embedding, ec.embedding),
       |        z -> z[1]::DOUBLE * z[2]::DOUBLE), (x, y) -> x + y)
       |      / sqrt(nq.nrm * nc.nrm), 6) AS cos
       |  FROM short s
       |  JOIN embeddings eq ON eq.vec_id = s.qid
       |  JOIN embeddings ec ON ec.vec_id = s.vec_id
       |  JOIN n nq ON nq.vec_id = s.qid
       |  JOIN n nc ON nc.vec_id = s.vec_id
       |  WHERE s.srn <= 16),
       |fin AS (SELECT qid, cand, adcq, cos,
       |          CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS INT) AS rnk
       |        FROM rer)
       |SELECT qid, cand, adcq, cos, rnk FROM fin WHERE rnk <= 3
       |ORDER BY qid, rnk""".stripMargin
  }

  /** The RP-tree build/route rounds (s36/s37): level l projects with
    * the planeDotQ weight family at offset base+l, splits each node at
    * the value of its (n+1)//2-th smallest projection, and routes both
    * the candidate set (c-chain) and the queries (q-chain) by the SAME
    * thresholds. `pfx` namespaces the CTEs so the s37 forest can stack
    * several trees in one query; the caller defines ${pfx}c0/${pfx}q0.
    */
  private def rpTreeCtesAt(pfx: String, base: Int, depth: Int): String =
    (0 until depth).map { l =>
      s"""${pfx}d$l AS (
         |  SELECT vec_id,
         |    CAST(sum(CAST(round(x * 1e6, 0) AS BIGINT) *
         |      (((${17 * (base + l)} + 31 * (i - 1) + 5) % 7) - 3)) AS BIGINT) AS dt
         |  FROM e GROUP BY 1
         |),
         |${pfx}rk$l AS (
         |  SELECT c.vec_id, c.node, dt,
         |    row_number() OVER (PARTITION BY c.node ORDER BY dt, c.vec_id) AS rn,
         |    count(*) OVER (PARTITION BY c.node) AS nn
         |  FROM ${pfx}c$l c JOIN ${pfx}d$l USING (vec_id)
         |),
         |${pfx}th$l AS (SELECT node, max(dt) AS t FROM ${pfx}rk$l
         |         WHERE rn <= (nn + 1) // 2 GROUP BY 1),
         |${pfx}c${l + 1} AS (
         |  SELECT vec_id, node * 2 + CASE WHEN dt > t THEN 1 ELSE 0 END AS node
         |  FROM ${pfx}rk$l JOIN ${pfx}th$l USING (node)
         |),
         |${pfx}q${l + 1} AS (
         |  SELECT q.qid, q.node * 2 + CASE WHEN d.dt > t.t THEN 1 ELSE 0 END AS node
         |  FROM ${pfx}q$l q JOIN ${pfx}d$l d ON q.qid = d.vec_id
         |  JOIN ${pfx}th$l t ON q.node = t.node
         |)""".stripMargin
    }.mkString(",\n")

  private def rpTreeCtes(depth: Int): String = rpTreeCtesAt("", 10, depth)

  /** The s37 forest: `trees` rpTreeCtesAt chains (tree t at offset base
    * 10 + depth*t — tree 0 is EXACTLY the s36 tree), leaf-matched
    * per tree, unioned and deduped to (qid, cand, n_trees), then
    * exact-cosine re-ranked.
    */
  private def rpForestCtes(trees: Int, depth: Int): String = {
    val chains = (0 until trees).map { t =>
      s"""t${t}c0 AS (SELECT DISTINCT vec_id, 0 AS node FROM e WHERE vec_id % 20 = 0),
         |t${t}q0 AS (SELECT DISTINCT vec_id AS qid, 0 AS node FROM e WHERE vec_id < 8),
         |${rpTreeCtesAt(s"t$t", 10 + depth * t, depth)}""".stripMargin
    }.mkString(",\n")
    val matches = (0 until trees).map { t =>
      s"""  SELECT q.qid, c.vec_id AS cand
         |  FROM t${t}q$depth q JOIN t${t}c$depth c ON c.node = q.node
         |  WHERE c.vec_id <> q.qid""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""$chains,
       |pairs AS MATERIALIZED (
       |  SELECT qid, cand, CAST(count(*) AS INT) AS n_trees FROM (
       |$matches) u
       |  GROUP BY 1, 2)""".stripMargin
  }

  val all: Seq[Query] = Seq(
    query("s01_ann_bruteforce", Similarity.annBruteForce) oracle
      s"""WITH ${embCte("vec_id < 8 OR vec_id % 20 = 0")},
         |n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY 1),
         |d AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cand, sum(q.x * c.x) AS dp
         |  FROM e q JOIN e c ON q.i = c.i
         |  WHERE q.vec_id < 8 AND c.vec_id % 20 = 0 AND q.vec_id <> c.vec_id
         |  GROUP BY 1, 2
         |),
         |scored AS (
         |  SELECT qid, cand, round(dp / sqrt(nq.nrm * nc.nrm), 6) AS cos
         |  FROM d JOIN n nq ON qid = nq.vec_id JOIN n nc ON cand = nc.vec_id
         |),
         |ranked AS (
         |  SELECT qid, cand, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS INT) AS rnk
         |  FROM scored
         |)
         |SELECT qid, cand, cos, rnk FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    query("s02_ann_lsh", Similarity.annLsh(_, _)) oracle
      s"""WITH ${embCte("vec_id < 8 OR vec_id % 20 = 0")},
         |n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY 1),
         |dots AS (
         |  SELECT vec_id, j,
         |    sum(CAST(round(x * 1e6, 0) AS BIGINT) * (((17 * j + 31 * (i - 1) + 5) % 7) - 3)) AS pd
         |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS j) js
         |  GROUP BY 1, 2
         |),
         |bkt AS (
         |  SELECT vec_id, CAST(sum(CASE WHEN pd > 0 THEN (1 << j) ELSE 0 END) AS INT) AS bucket
         |  FROM dots GROUP BY 1
         |),
         |d AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cand, sum(q.x * c.x) AS dp
         |  FROM e q JOIN e c ON q.i = c.i
         |  WHERE q.vec_id < 8 AND c.vec_id % 20 = 0 AND q.vec_id <> c.vec_id
         |  GROUP BY 1, 2
         |),
         |scored AS (
         |  SELECT d.qid, d.cand, bq.bucket, round(dp / sqrt(nq.nrm * nc.nrm), 6) AS cos
         |  FROM d
         |  JOIN bkt bq ON d.qid = bq.vec_id
         |  JOIN bkt bc ON d.cand = bc.vec_id AND bq.bucket = bc.bucket
         |  JOIN n nq ON d.qid = nq.vec_id JOIN n nc ON d.cand = nc.vec_id
         |),
         |ranked AS (
         |  SELECT qid, cand, bucket, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS INT) AS rnk
         |  FROM scored
         |)
         |SELECT qid, cand, bucket, cos, rnk FROM ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,

    // s36: the RP-tree — per-level projections at offsets 10+l, lower
    // median BY VALUE per node ((dot, vec_id) rank, t = max of first
    // (n+1)//2), route left iff dt <= t; queries walk the identical
    // thresholds; exact-cosine re-rank within the shared leaf
    query("s36_ann_rptree", Similarity.annRpTree(_, _)) oracle
      s"""WITH ${embCte("vec_id < 8 OR vec_id % 20 = 0")},
         |c0 AS (SELECT DISTINCT vec_id, 0 AS node FROM e WHERE vec_id % 20 = 0),
         |q0 AS (SELECT DISTINCT vec_id AS qid, 0 AS node FROM e WHERE vec_id < 8),
         |${rpTreeCtes(3)},
         |n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY 1),
         |d AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cand, sum(q.x * c.x) AS dp
         |  FROM e q JOIN e c ON q.i = c.i
         |  WHERE q.vec_id < 8 AND c.vec_id % 20 = 0 AND q.vec_id <> c.vec_id
         |  GROUP BY 1, 2
         |),
         |scored AS (
         |  SELECT d.qid, d.cand, CAST(q3.node AS INT) AS leaf,
         |    round(dp / sqrt(nq.nrm * nc.nrm), 6) AS cos
         |  FROM d
         |  JOIN c3 ON d.cand = c3.vec_id
         |  JOIN q3 ON d.qid = q3.qid AND c3.node = q3.node
         |  JOIN n nq ON d.qid = nq.vec_id JOIN n nc ON d.cand = nc.vec_id
         |),
         |ranked AS (
         |  SELECT qid, cand, leaf, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS INT) AS rnk
         |  FROM scored
         |)
         |SELECT qid, cand, leaf, cos, rnk FROM ranked WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin,

    // s37: the RP-forest — three rpTreeCtesAt chains (tree t at offsets
    // 10+3t; tree 0 == the s36 tree), per-tree leaf matches unioned and
    // deduped with the tree-vote count, exact-cosine re-rank of the union
    query("s37_ann_rpforest", Similarity.annRpForest(_, _)) oracle
      s"""WITH ${embCte("vec_id < 8 OR vec_id % 20 = 0")},
         |${rpForestCtes(3, 3)},
         |n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY 1),
         |d AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cand, sum(q.x * c.x) AS dp
         |  FROM e q JOIN e c ON q.i = c.i
         |  WHERE q.vec_id < 8 AND c.vec_id % 20 = 0 AND q.vec_id <> c.vec_id
         |  GROUP BY 1, 2
         |),
         |scored AS (
         |  SELECT p.qid, p.cand, p.n_trees,
         |    round(dp / sqrt(nq.nrm * nc.nrm), 6) AS cos
         |  FROM pairs p
         |  JOIN d ON d.qid = p.qid AND d.cand = p.cand
         |  JOIN n nq ON p.qid = nq.vec_id JOIN n nc ON p.cand = nc.vec_id
         |),
         |ranked AS (
         |  SELECT qid, cand, n_trees, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS INT) AS rnk
         |  FROM scored
         |)
         |SELECT qid, cand, n_trees, cos, rnk FROM ranked WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin,

    // IVF with the relational integer-grid Lloyd quantizer (seed = first
    // 8 candidate vectors, 2 assign→re-average rounds — ivfCtes), final
    // candidate cells + query probes ranked against c2, exact-cosine
    // re-rank of the probed cells only
    query("s03_ann_ivf", Similarity.annIvf(_, _)) oracle
      s"""WITH ${embCte("vec_id < 8 OR vec_id % 20 = 0")},
         |${ivfCtes(8, 2)},
         |n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY 1),
         |dc AS (
         |  SELECT cp.vec_id, c.cluster,
         |    CAST(sum((cp.xq - c.cq) * (cp.xq - c.cq)) AS BIGINT) AS dist2q
         |  FROM cp JOIN c2 c ON cp.pos = c.pos GROUP BY 1, 2
         |),
         |cells AS (
         |  SELECT vec_id, cluster AS cell FROM (
         |    SELECT vec_id, cluster,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn
         |    FROM dc) r WHERE rn = 1
         |),
         |dq AS (
         |  SELECT qp.vec_id, c.cluster,
         |    CAST(sum((qp.xq - c.cq) * (qp.xq - c.cq)) AS BIGINT) AS dist2q
         |  FROM qp JOIN c2 c ON qp.pos = c.pos GROUP BY 1, 2
         |),
         |probes AS (
         |  SELECT vec_id AS qid, cluster AS cell FROM (
         |    SELECT vec_id, cluster,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn
         |    FROM dq) r WHERE rn <= 4
         |),
         |dd AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cand, sum(q.x * c.x) AS dp
         |  FROM e q JOIN e c ON q.i = c.i
         |  WHERE q.vec_id < 8 AND c.vec_id % 20 = 0 AND q.vec_id <> c.vec_id
         |  GROUP BY 1, 2
         |),
         |scored AS (
         |  SELECT dd.qid, dd.cand, cl.cell,
         |    round(dp / sqrt(nq.nrm * nc.nrm), 6) AS cos
         |  FROM dd
         |  JOIN cells cl ON dd.cand = cl.vec_id
         |  JOIN probes p ON dd.qid = p.qid AND p.cell = cl.cell
         |  JOIN n nq ON dd.qid = nq.vec_id JOIN n nc ON dd.cand = nc.vec_id
         |),
         |ranked AS (
         |  SELECT qid, cand, cell, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS INT) AS rnk
         |  FROM scored
         |)
         |SELECT qid, cand, cell, cos, rnk FROM ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,

    // s02 + hamming-1 multi-probe: each query also probes every bucket
    // one plane-sign flip away (probe set = bucket XOR single bits;
    // pairwise distinct, so no pair dedup before the re-rank)
    query("s06_ann_multiprobe", Similarity.annMultiProbe(_, _)) oracle
      s"""WITH ${embCte("vec_id < 8 OR vec_id % 20 = 0")},
         |n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY 1),
         |dots AS (
         |  SELECT vec_id, j,
         |    sum(CAST(round(x * 1e6, 0) AS BIGINT) * (((17 * j + 31 * (i - 1) + 5) % 7) - 3)) AS pd
         |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS j) js
         |  GROUP BY 1, 2
         |),
         |bkt AS (
         |  SELECT vec_id, CAST(sum(CASE WHEN pd > 0 THEN (1 << j) ELSE 0 END) AS INT) AS bucket
         |  FROM dots GROUP BY 1
         |),
         |probes AS (
         |  SELECT vec_id, CASE WHEN j = 0 THEN bucket
         |                      ELSE CAST(xor(bucket, 1 << (j - 1)) AS INT) END AS probe
         |  FROM bkt CROSS JOIN (SELECT unnest(range(0, 5)) AS j) js
         |  WHERE vec_id < 8
         |),
         |d AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cand, sum(q.x * c.x) AS dp
         |  FROM e q JOIN e c ON q.i = c.i
         |  WHERE q.vec_id < 8 AND c.vec_id % 20 = 0 AND q.vec_id <> c.vec_id
         |  GROUP BY 1, 2
         |),
         |scored AS (
         |  SELECT d.qid, d.cand, bc.bucket, round(dp / sqrt(nq.nrm * nc.nrm), 6) AS cos
         |  FROM d
         |  JOIN probes pq ON d.qid = pq.vec_id
         |  JOIN bkt bc ON d.cand = bc.vec_id AND pq.probe = bc.bucket
         |  JOIN n nq ON d.qid = nq.vec_id JOIN n nc ON d.cand = nc.vec_id
         |),
         |ranked AS (
         |  SELECT qid, cand, bucket, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS INT) AS rnk
         |  FROM scored
         |)
         |SELECT qid, cand, bucket, cos, rnk FROM ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,

    // matryoshka two-stage: shortlist on the rounded 16-dim-prefix
    // cosine (cand tiebreak — both engines shortlist identically),
    // exact full-dim re-rank of the shortlist only
    query("s07_matryoshka", Similarity.annMatryoshka(_, _)) oracle
      s"""WITH ${embCte("vec_id < 8 OR vec_id % 20 = 0")},
         |ns AS (SELECT vec_id, sum(x * x) AS snrm FROM e WHERE i <= 16 GROUP BY 1),
         |n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY 1),
         |dsub AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cand, sum(q.x * c.x) AS dp
         |  FROM e q JOIN e c ON q.i = c.i
         |  WHERE q.vec_id < 8 AND c.vec_id % 20 = 0 AND q.vec_id <> c.vec_id
         |    AND q.i <= 16
         |  GROUP BY 1, 2
         |),
         |coarse AS (
         |  SELECT d.qid, d.cand,
         |    round(dp / sqrt(nq.snrm * nc.snrm), 6) AS sub_cos
         |  FROM dsub d
         |  JOIN ns nq ON d.qid = nq.vec_id JOIN ns nc ON d.cand = nc.vec_id
         |),
         |short AS (
         |  SELECT qid, cand, sub_cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY sub_cos DESC, cand) AS srn
         |  FROM coarse
         |),
         |dfull AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cand, sum(q.x * c.x) AS dp
         |  FROM e q JOIN e c ON q.i = c.i
         |  WHERE q.vec_id < 8 AND c.vec_id % 20 = 0 AND q.vec_id <> c.vec_id
         |  GROUP BY 1, 2
         |),
         |reranked AS (
         |  SELECT s.qid, s.cand, s.sub_cos,
         |    round(df.dp / sqrt(nq.nrm * nc.nrm), 6) AS cos
         |  FROM short s
         |  JOIN dfull df ON s.qid = df.qid AND s.cand = df.cand
         |  JOIN n nq ON s.qid = nq.vec_id JOIN n nc ON s.cand = nc.vec_id
         |  WHERE s.srn <= 10
         |),
         |ranked AS (
         |  SELECT qid, cand, sub_cos, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS INT) AS rnk
         |  FROM reranked
         |)
         |SELECT qid, cand, sub_cos, cos, rnk FROM ranked WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin,

    // reciprocal-rank fusion of the full-width and 16-dim-prefix
    // retrievers (Similarity.rrfFusion): both ranks are row_numbers
    // over (rounded cosine DESC, cand); the fused score is a fixed
    // two-term sum of exact IEEE divisions
    query("s08_rrf_fusion", Similarity.rrfFusion(_, _)) oracle
      s"""WITH ${embCte("vec_id < 8 OR vec_id % 20 = 0")},
         |n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY 1),
         |ns AS (SELECT vec_id, sum(x * x) AS snrm FROM e WHERE i <= 16 GROUP BY 1),
         |d AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cand, sum(q.x * c.x) AS dp
         |  FROM e q JOIN e c ON q.i = c.i
         |  WHERE q.vec_id < 8 AND c.vec_id % 20 = 0 AND q.vec_id <> c.vec_id
         |  GROUP BY 1, 2
         |),
         |dsub AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cand, sum(q.x * c.x) AS dp
         |  FROM e q JOIN e c ON q.i = c.i
         |  WHERE q.vec_id < 8 AND c.vec_id % 20 = 0 AND q.vec_id <> c.vec_id
         |    AND q.i <= 16
         |  GROUP BY 1, 2
         |),
         |scored AS (
         |  SELECT d.qid, d.cand,
         |    round(d.dp / sqrt(nq.nrm * nc.nrm), 6) AS cos,
         |    round(ds.dp / sqrt(sq.snrm * sc.snrm), 6) AS sub_cos
         |  FROM d JOIN dsub ds ON d.qid = ds.qid AND d.cand = ds.cand
         |  JOIN n nq ON d.qid = nq.vec_id JOIN n nc ON d.cand = nc.vec_id
         |  JOIN ns sq ON d.qid = sq.vec_id JOIN ns sc ON d.cand = sc.vec_id
         |),
         |ranked AS (
         |  SELECT qid, cand,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS INT) AS rank_full,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sub_cos DESC, cand) AS INT) AS rank_sub
         |  FROM scored
         |),
         |fused AS (
         |  SELECT qid, cand, rank_full, rank_sub,
         |    round(1.0e0 / (60 + rank_full) + 1.0e0 / (60 + rank_sub), 6) AS rrf
         |  FROM ranked
         |),
         |fin AS (
         |  SELECT qid, cand, rank_full, rank_sub, rrf,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, cand) AS INT) AS rnk
         |  FROM fused
         |)
         |SELECT qid, cand, rank_full, rank_sub, rrf, rnk FROM fin
         |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // int8-quantized ANN: per-vector max-abs scale, [-127,127] codes,
    // cosine from INTEGER dot + integer norms (order-free — the one
    // float step divides exact integers)
    query("s09_ann_int8", Similarity.annInt8(_, _)) oracle
      s"""WITH ${embCte("vec_id < 8 OR vec_id % 20 = 0")},
         |mx AS (SELECT vec_id, max(abs(x)) AS mx FROM e GROUP BY 1),
         |qv AS (
         |  SELECT e.vec_id, i, CAST(round(x / mx * 127) AS BIGINT) AS q
         |  FROM e JOIN mx ON e.vec_id = mx.vec_id WHERE mx > 0
         |),
         |qn AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS qn FROM qv GROUP BY 1),
         |d AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS cand,
         |    CAST(sum(a.q * b.q) AS BIGINT) AS intdot
         |  FROM qv a JOIN qv b ON a.i = b.i
         |  WHERE a.vec_id < 8 AND b.vec_id % 20 = 0 AND a.vec_id <> b.vec_id
         |  GROUP BY 1, 2
         |),
         |scored AS (
         |  SELECT d.qid, d.cand,
         |    round(intdot / sqrt(CAST(na.qn * nb.qn AS DOUBLE)), 6) AS cos_q
         |  FROM d JOIN qn na ON d.qid = na.vec_id JOIN qn nb ON d.cand = nb.vec_id
         |),
         |ranked AS (
         |  SELECT qid, cand, cos_q,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_q DESC, cand) AS INT) AS rnk
         |  FROM scored
         |)
         |SELECT qid, cand, cos_q, rnk FROM ranked WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin,

    // s10 product quantization: per-subspace codebooks (seeded mod-ksub
    // mean, s04 idiom), argmin encode, integer ADC lookup-table scoring,
    // exact re-rank of the shortlist with the order-pinned list_reduce
    // fold (d13 idiom). // is integer division — CAST(double AS INT)
    // would ROUND, not truncate.
    query("s10_ann_pq", Similarity.annPq(_, _)) oracle
      s"""WITH ${embCte("vec_id < 8 OR vec_id % 20 = 0")},
         |c AS (SELECT vec_id, CAST((i - 1) // 16 AS INT) AS sub, i AS pos,
         |        CAST(round(x * 1e6, 0) AS BIGINT) AS xq
         |      FROM e WHERE vec_id % 20 = 0),
         |${pqLloydCtes(8, 2)},
         |enc AS (
         |  SELECT vec_id, sub, code,
         |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist2q, code) AS rn
         |  FROM (SELECT c.vec_id, c.sub, cb.code,
         |          CAST(sum((c.xq - cb.cq) * (c.xq - cb.cq)) AS BIGINT) AS dist2q
         |        FROM c JOIN cb2 cb ON c.sub = cb.sub AND c.pos = cb.pos
         |        GROUP BY 1, 2, 3) d),
         |codes AS (SELECT vec_id, sub, code FROM enc WHERE rn = 1),
         |qp AS (SELECT vec_id AS qid, CAST((i - 1) // 16 AS INT) AS sub, i AS pos,
         |         CAST(round(x * 1e6, 0) AS BIGINT) AS xq
         |       FROM e WHERE vec_id < 8),
         |lut AS (SELECT qid, cb.sub, cb.code, CAST(sum(qp.xq * cb.cq) AS BIGINT) AS lutq
         |        FROM qp JOIN cb2 cb ON qp.sub = cb.sub AND qp.pos = cb.pos
         |        GROUP BY 1, 2, 3),
         |adc AS (SELECT lut.qid, codes.vec_id, CAST(sum(lutq) AS BIGINT) AS adcq
         |        FROM codes JOIN lut ON codes.sub = lut.sub AND codes.code = lut.code
         |        WHERE codes.vec_id <> lut.qid
         |        GROUP BY 1, 2),
         |short AS (SELECT qid, vec_id, adcq,
         |            row_number() OVER (PARTITION BY qid ORDER BY adcq DESC, vec_id) AS srn
         |          FROM adc),
         |n AS (SELECT vec_id, list_reduce(
         |        list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
         |        (x, y) -> x + y) AS nrm
         |      FROM embeddings),
         |rer AS (
         |  SELECT s.qid, s.vec_id AS cand, s.adcq,
         |    round(list_reduce(list_transform(list_zip(eq.embedding, ec.embedding),
         |        z -> z[1]::DOUBLE * z[2]::DOUBLE), (x, y) -> x + y)
         |      / sqrt(nq.nrm * nc.nrm), 6) AS cos
         |  FROM short s
         |  JOIN embeddings eq ON eq.vec_id = s.qid
         |  JOIN embeddings ec ON ec.vec_id = s.vec_id
         |  JOIN n nq ON nq.vec_id = s.qid
         |  JOIN n nc ON nc.vec_id = s.vec_id
         |  WHERE s.srn <= 16),
         |fin AS (SELECT qid, cand, adcq, cos,
         |          CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS INT) AS rnk
         |        FROM rer)
         |SELECT qid, cand, adcq, cos, rnk FROM fin WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin,

    // s15: IVF+PQ combined — ivfCtes trains the coarse quantizer
    // (cells + query probes against the final c2), pqLloydCtes trains
    // the subspace codebooks over the SAME candidate set, and the ADC
    // aggregate runs ONLY over candidates whose cell the query probed
    // (the one semantic difference from s10's adc); shortlist + exact
    // re-rank exactly as s10. qsp = the query sub-points (the name qp
    // is ivfCtes' query grid points here).
    query("s15_ann_ivfpq", Similarity.annIvfPq(_, _)) oracle ivfPqSql(residual = false),

    // s17: the FAISS-default residual variant — the PQ chain trains on
    // and encodes x − c_cell (the c CTE subtracts the assigned coarse
    // centroid), and the ADC score adds the exact per-(query, cell)
    // coarse term q·c_cell; everything else is s15's chain verbatim
    // (one generator, two queries).
    query("s17_ann_ivfpq_res", (s: SparkSession, d: String) => Similarity.annIvfPq(s, d, residual = true)) oracle ivfPqSql(residual = true),

    // s16: the corpus k-NN graph — s11's trained assignment partitions
    // the corpus into cells, neighbors are searched within the cell
    // only (the production kNN-graph approximation), per-src top-3 by
    // (rounded cosine DESC, dst). KnnCtes is shared with d22.
    query("s16_knn_graph", Similarity.knnGraph(_, _)) oracle
      s"""WITH $KnnCtes
         |SELECT src, dst, cell, cos, rnk FROM ranked WHERE rnk <= 3
         |ORDER BY src, rnk""".stripMargin,

    // s44: the persisted kNN-edge artifact roundtrip — the Spark side
    // writes the session artifact (knnGraphWrite) and returns the
    // parquet READ-BACK; the oracle rebuilds the same edges from the
    // base tables (s16's SQL verbatim). Hash-green = build → parquet →
    // scan loses nothing, licensing the family's artifact consumption.
    query("s44_knn_artifact", Similarity.knnArtifactGate) oracle
      s"""WITH $KnnCtes
         |SELECT src, dst, cell, cos, rnk FROM ranked WHERE rnk <= 3
         |ORDER BY src, rnk""".stripMargin,

    // s18: graph-ANN beam search — the s16 graph searched by a
    // bounded best-first traversal (entry = nEntry nearest cells'
    // medoids, `hops` expand/score/prune rounds, exact re-rank of the
    // visited set); the whole search unrolls to an iterative CTE
    // chain over the shared KnnCtes, so the traversal itself is
    // hash-gated, not just its ingredients
    query("s18_ann_beam", Similarity.annBeam(_, _)) oracle beamSql(nEntry = 2, beam = 4, hops = 2, topK = 5),

    // s21: integer PageRank over the s16 graph — fixed-point rounds
    // generated as a CTE chain; dangling mass leaks identically
    query("s21_pagerank", Similarity.pageRank(_, _)) oracle pageRankSql(prIters = 3),

    // s38: personalized PageRank — the sparse seed-keyed walk; only
    // reached (seed, node) pairs carry mass
    query("s38_ppr", Similarity.personalizedPageRank(_, _)) oracle pprSql(pprIters = 3, nSeeds = 8),

    // s39: HITS hubs/authorities — unnormalized synchronous rounds,
    // exact integers (normalization only rescales rank order)
    query("s39_hits", Similarity.hits(_, _)) oracle hitsSql(hitsIters = 3),

    // s41: Rocchio pseudo-relevance feedback — integer expansion
    // q' = 6q + Σ top-3, two exact-grid ranking rounds
    query("s41_rocchio", Similarity.rocchioExpand(_, _)) oracle rocchioSql(k0 = 3, k = 5),

    // s32: cell-population drift under the frozen quantizer — exact
    // floor-ppm shares before/after the new batch, alert past the
    // threshold
    query("s32_cell_drift", Similarity.cellDrift(_, _)) oracle
      s"""WITH ${embCte("vec_id % 20 = 0 OR vec_id % 20 = 10")},
         |${ivfCtes(8, 2)},
         |ap AS (SELECT vec_id, i AS pos, CAST(round(x * 1e6, 0) AS BIGINT) AS xq
         |      FROM e WHERE vec_id % 20 = 0 OR vec_id % 20 = 10),
         |db AS (
         |  SELECT cp.vec_id, c.cluster,
         |    CAST(sum((cp.xq - c.cq) * (cp.xq - c.cq)) AS BIGINT) AS dist2q
         |  FROM cp JOIN c2 c ON cp.pos = c.pos GROUP BY 1, 2),
         |cb AS (SELECT cluster AS cell, CAST(count(*) AS BIGINT) AS n_base
         |  FROM (SELECT vec_id, cluster, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn FROM db) r
         |  WHERE rn = 1 GROUP BY 1),
         |da AS (
         |  SELECT ap.vec_id, c.cluster,
         |    CAST(sum((ap.xq - c.cq) * (ap.xq - c.cq)) AS BIGINT) AS dist2q
         |  FROM ap JOIN c2 c ON ap.pos = c.pos GROUP BY 1, 2),
         |ca AS (SELECT cluster AS cell, CAST(count(*) AS BIGINT) AS n_after
         |  FROM (SELECT vec_id, cluster, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn FROM da) r
         |  WHERE rn = 1 GROUP BY 1),
         |tb AS (SELECT CAST(sum(n_base) AS BIGINT) AS t_base FROM cb),
         |ta AS (SELECT CAST(sum(n_after) AS BIGINT) AS t_after FROM ca),
         |m AS (SELECT coalesce(cb.cell, ca.cell) AS cell,
         |    coalesce(n_base, 0) AS n_base, coalesce(n_after, 0) AS n_after
         |  FROM cb FULL JOIN ca ON cb.cell = ca.cell)
         |SELECT cell, n_base, n_after,
         |  CAST(n_base * 1000000 // t_base AS BIGINT) AS share_base_ppm,
         |  CAST(n_after * 1000000 // t_after AS BIGINT) AS share_after_ppm,
         |  CAST(abs(n_after * 1000000 // t_after - n_base * 1000000 // t_base)
         |    AS BIGINT) AS drift_ppm,
         |  CAST(CASE WHEN abs(n_after * 1000000 // t_after
         |      - n_base * 1000000 // t_base) > 20000 THEN 1 ELSE 0 END
         |    AS INT) AS alert
         |FROM m, tb, ta ORDER BY cell""".stripMargin,

    // s31: incremental IVF refresh — quantizer trained on the BASE
    // slice only (ivfCtes), new batch assigned under the frozen book,
    // search over the merged cells with the freshness flag
    query("s31_ivf_refresh", Similarity.annIvfRefresh(_, _)) oracle
      s"""WITH ${embCte("vec_id < 8 OR vec_id % 20 = 0 OR vec_id % 20 = 10")},
         |${ivfCtes(8, 2)},
         |ap AS (SELECT vec_id, i AS pos, CAST(round(x * 1e6, 0) AS BIGINT) AS xq
         |      FROM e WHERE vec_id % 20 = 0 OR vec_id % 20 = 10),
         |n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY 1),
         |da AS (
         |  SELECT ap.vec_id, c.cluster,
         |    CAST(sum((ap.xq - c.cq) * (ap.xq - c.cq)) AS BIGINT) AS dist2q
         |  FROM ap JOIN c2 c ON ap.pos = c.pos GROUP BY 1, 2
         |),
         |cells AS (
         |  SELECT vec_id, cluster AS cell FROM (
         |    SELECT vec_id, cluster,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn
         |    FROM da) r WHERE rn = 1
         |),
         |dq AS (
         |  SELECT qp.vec_id, c.cluster,
         |    CAST(sum((qp.xq - c.cq) * (qp.xq - c.cq)) AS BIGINT) AS dist2q
         |  FROM qp JOIN c2 c ON qp.pos = c.pos GROUP BY 1, 2
         |),
         |probes AS (
         |  SELECT vec_id AS qid, cluster AS cell FROM (
         |    SELECT vec_id, cluster,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn
         |    FROM dq) r WHERE rn <= 4
         |),
         |d AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cand, sum(q.x * c.x) AS dp
         |  FROM e q JOIN e c ON q.i = c.i
         |  WHERE q.vec_id < 8 AND (c.vec_id % 20 = 0 OR c.vec_id % 20 = 10)
         |    AND q.vec_id <> c.vec_id
         |  GROUP BY 1, 2
         |),
         |scored AS (
         |  SELECT d.qid, d.cand, cl.cell, d.cand % 20 = 10 AS is_new,
         |    round(dp / sqrt(nq.nrm * nc.nrm), 6) AS cos
         |  FROM d
         |  JOIN cells cl ON d.cand = cl.vec_id
         |  JOIN probes pr ON pr.qid = d.qid AND pr.cell = cl.cell
         |  JOIN n nq ON d.qid = nq.vec_id JOIN n nc ON d.cand = nc.vec_id
         |),
         |ranked AS (
         |  SELECT qid, cand, cell, is_new, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS INT) AS rnk
         |  FROM scored
         |)
         |SELECT qid, cand, cell, is_new, cos, rnk FROM ranked WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin,

    // s29: BFS as a generated fixed-round CTE chain    // s29: BFS as a generated fixed-round CTE chain over the same
    // literal kNN edges — the min with the settled set makes fixed
    // rounds ≡ true BFS truncated at `hops`
    query("s29_bfs_hops", Similarity.bfsHops(_, _)) oracle bfsSql(hops = 4, nSeeds = 2),

    // s30: rank of the brute-force top-1 inside the LSH method's
    // ranking; reciprocal rank as exact 10^6 div rank, 0 on a miss
    query("s30_ann_mrr", Similarity.annMrr) oracle
      s"""WITH ${embCte("vec_id < 8 OR vec_id % 20 = 0")},
         |n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY 1),
         |d AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cand, sum(q.x * c.x) AS dp
         |  FROM e q JOIN e c ON q.i = c.i
         |  WHERE q.vec_id < 8 AND c.vec_id % 20 = 0 AND q.vec_id <> c.vec_id
         |  GROUP BY 1, 2
         |),
         |scored AS (
         |  SELECT qid, cand, round(dp / sqrt(nq.nrm * nc.nrm), 6) AS cos
         |  FROM d JOIN n nq ON qid = nq.vec_id JOIN n nc ON cand = nc.vec_id
         |),
         |truth AS (
         |  SELECT qid, cand AS truth_cand FROM (
         |    SELECT qid, cand,
         |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS rnk
         |    FROM scored) r WHERE rnk = 1
         |),
         |dots AS (
         |  SELECT vec_id, j,
         |    sum(CAST(round(x * 1e6, 0) AS BIGINT) * (((17 * j + 31 * (i - 1) + 5) % 7) - 3)) AS pd
         |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS j) js
         |  GROUP BY 1, 2
         |),
         |bkt AS (
         |  SELECT vec_id, CAST(sum(CASE WHEN pd > 0 THEN (1 << j) ELSE 0 END) AS INT) AS bucket
         |  FROM dots GROUP BY 1
         |),
         |meth AS (
         |  SELECT qid, cand, CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, cand) AS INT) AS method_rank
         |  FROM (
         |    SELECT s.qid, s.cand, s.cos
         |    FROM scored s
         |    JOIN bkt bq ON s.qid = bq.vec_id
         |    JOIN bkt bc ON s.cand = bc.vec_id AND bq.bucket = bc.bucket) b
         |)
         |SELECT t.qid, t.truth_cand,
         |  CASE WHEN m.method_rank <= 3 THEN m.method_rank END AS method_rank,
         |  CAST(coalesce(CASE WHEN m.method_rank <= 3
         |    THEN 1000000 // m.method_rank END, 0) AS BIGINT) AS rr_ppm
         |FROM truth t LEFT JOIN meth m
         |  ON t.qid = m.qid AND t.truth_cand = m.cand
         |ORDER BY t.qid""".stripMargin,

    // s22: greedy k-center coreset — exact integer-grid farthest-point
    // selection, every argmax replayed round by round
    query("s22_kcenter", Similarity.kCenter(_, _)) oracle kcenterSql(kSel = 5),
    query("s23_triangles", Similarity.triangleCounts(_, _)) oracle triangleSql,
    query("s24_labelprop", Similarity.labelPropagation(_, _)) oracle lpaSql(rounds = 3),
    query("s25_kcore", Similarity.kCorePeel(_, _)) oracle kcorePeelSql(coreK = 2, rounds = 10),

    // s26: link prediction — common-neighbor / resource-allocation /
    // preferential-attachment scores for non-edge pairs of the s16
    // graph; ra is the integer fixed-point Σ 10^6 // deg(z) (no log)
    query("s26_link_pred", Similarity.linkPrediction(_, _)) oracle linkPredSql(topN = 50),

    // s27: k-NN majority-vote classification — s01's scoring CTE with
    // labels riding along; the vote is (votes DESC, label ASC) argmax
    query("s27_knn_classify", Similarity.knnClassify(_, _)) oracle
      """WITH e AS (
        |  SELECT vec_id, i, CAST(list_extract(embedding, i) AS DOUBLE) AS x
        |  FROM (SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS i
        |        FROM embeddings WHERE vec_id < 8 OR vec_id % 20 = 0) t),
        |lab AS (SELECT vec_id, label FROM embeddings
        |        WHERE vec_id < 8 OR vec_id % 20 = 0),
        |n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY 1),
        |d AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cand, sum(q.x * c.x) AS dp
        |  FROM e q JOIN e c ON q.i = c.i
        |  WHERE q.vec_id < 8 AND c.vec_id % 20 = 0 AND q.vec_id <> c.vec_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT qid, cand, round(dp / sqrt(nq.nrm * nc.nrm), 6) AS cos
        |  FROM d JOIN n nq ON qid = nq.vec_id JOIN n nc ON cand = nc.vec_id),
        |nb AS (
        |  SELECT qid, cand,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS rnk
        |  FROM scored),
        |votes AS (
        |  SELECT nb.qid, lc.label, CAST(count(*) AS BIGINT) AS votes
        |  FROM nb JOIN lab lc ON nb.cand = lc.vec_id
        |  WHERE nb.rnk <= 5 GROUP BY 1, 2),
        |win AS (
        |  SELECT qid, label, votes,
        |    row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS vr
        |  FROM votes)
        |SELECT w.qid, lq.label AS true_label, w.label AS pred_label,
        |  CAST(w.votes AS INT) AS votes
        |FROM win w JOIN lab lq ON w.qid = lq.vec_id
        |WHERE w.vr = 1 ORDER BY w.qid""".stripMargin,

    // s19: MMR diversified top-k — greedy maximal-marginal-relevance
    // over the s01 top-10 pool, integer-exact objective
    // (lambdaNum·rel6 − (lambdaDen−lambdaNum)·maxsim6 on the 1e-6
    // grid), the k-round greedy loop unrolled to an iterative CTE
    // chain so every pick's argmax is hash-gated
    query("s19_ann_mmr", Similarity.annMmr(_, _)) oracle mmrSql(poolK = 10, k = 5, lambdaNum = 1, lambdaDen = 2),

    // s20: binary (sign-bit) quantization — one bit per dimension
    // packed into two 32-bit words (bit 63 would need BIGINT's sign
    // bit, so two halves keep every partial sum positive and exact on
    // both engines), Hamming = bit_count of two XORs, shortlist by
    // (ham ASC, cand), exact-cosine re-rank via the s10 list_reduce
    // fold. Integer-exact end to end except the final rounded cosine.
    query("s20_ann_binary", Similarity.annBinary(_, _)) oracle
      s"""WITH ${embCte("vec_id < 8 OR vec_id % 20 = 0")},
         |bits AS (
         |  SELECT vec_id,
         |    CAST(sum(CASE WHEN x > 0 AND i <= 32
         |          THEN CAST(1 AS BIGINT) << CAST(i - 1 AS INT) ELSE 0 END) AS BIGINT) AS lo,
         |    CAST(sum(CASE WHEN x > 0 AND i > 32
         |          THEN CAST(1 AS BIGINT) << CAST(i - 33 AS INT) ELSE 0 END) AS BIGINT) AS hi
         |  FROM e GROUP BY 1),
         |ham AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cand,
         |    CAST(bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)) AS INT) AS ham
         |  FROM bits q JOIN bits c
         |    ON q.vec_id < 8 AND c.vec_id % 20 = 0 AND q.vec_id <> c.vec_id),
         |short AS (
         |  SELECT qid, cand, ham,
         |    row_number() OVER (PARTITION BY qid ORDER BY ham, cand) AS srn
         |  FROM ham),
         |n AS (SELECT vec_id, list_reduce(
         |        list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
         |        (x, y) -> x + y) AS nrm
         |      FROM embeddings),
         |rer AS (
         |  SELECT s.qid, s.cand, s.ham,
         |    round(list_reduce(list_transform(list_zip(eq.embedding, ec.embedding),
         |        z -> z[1]::DOUBLE * z[2]::DOUBLE), (x, y) -> x + y)
         |      / sqrt(nq.nrm * nc.nrm), 6) AS cos
         |  FROM short s
         |  JOIN embeddings eq ON eq.vec_id = s.qid
         |  JOIN embeddings ec ON ec.vec_id = s.cand
         |  JOIN n nq ON nq.vec_id = s.qid
         |  JOIN n nc ON nc.vec_id = s.cand
         |  WHERE s.srn <= 8),
         |fin AS (SELECT qid, cand, ham, cos,
         |          CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS INT) AS rnk
         |        FROM rer)
         |SELECT qid, cand, ham, cos, rnk FROM fin WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin,

    // s11: full-corpus Lloyd — seed = first k vectors, 2 exact
    // integer-grid rounds, final assignment with its distance
    query("s11_corpus_clusters", Similarity.corpusClusters(_, _)) oracle
      s"""WITH ${embCte("TRUE")},
         |p AS (SELECT vec_id, i AS pos, CAST(round(x * 1e6, 0) AS BIGINT) AS xq FROM e),
         |${corpusLloydCtes(8, 2)},
         |fin AS (
         |  SELECT p.vec_id, c.cluster,
         |    CAST(sum((p.xq - c.cq) * (p.xq - c.cq)) AS BIGINT) AS dist2q
         |  FROM p JOIN cb2 c ON p.pos = c.pos GROUP BY 1, 2
         |)
         |SELECT vec_id, cluster, dist2q FROM (
         |  SELECT vec_id, cluster, dist2q,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn
         |  FROM fin) r WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // s33: simplified silhouette — distances to ALL k trained
    // centroids, own (rn=1) vs nearest-other (min of rn>1), margin as
    // exact floor ppm on the squared integer grid
    query("s33_silhouette", Similarity.silhouette(_, _)) oracle
      s"""WITH ${embCte("TRUE")},
         |p AS (SELECT vec_id, i AS pos, CAST(round(x * 1e6, 0) AS BIGINT) AS xq FROM e),
         |${corpusLloydCtes(8, 2)},
         |fin AS (
         |  SELECT p.vec_id, c.cluster,
         |    CAST(sum((p.xq - c.cq) * (p.xq - c.cq)) AS BIGINT) AS dist2q
         |  FROM p JOIN cb2 c ON p.pos = c.pos GROUP BY 1, 2
         |),
         |r AS (
         |  SELECT vec_id, cluster, dist2q,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn
         |  FROM fin
         |),
         |own AS (SELECT vec_id, cluster, dist2q AS a2 FROM r WHERE rn = 1),
         |oth AS (SELECT vec_id, CAST(min(dist2q) AS BIGINT) AS b2
         |        FROM r WHERE rn > 1 GROUP BY 1)
         |SELECT o.vec_id, o.cluster, a2, b2,
         |  CASE WHEN greatest(a2, b2) = 0 THEN 0
         |       ELSE (b2 - a2) * 1000000 // greatest(a2, b2) END AS sil_ppm
         |FROM own o JOIN oth USING (vec_id) ORDER BY o.vec_id""".stripMargin,

    // s34: external validity of the s11 clustering against the label
    // column — majority share + Gini impurity per cluster, overall
    // purity as a 1-row total, all exact floor ppm
    query("s34_cluster_purity", Similarity.clusterPurity(_, _)) oracle
      s"""WITH ${embCte("TRUE")},
         |p AS (SELECT vec_id, i AS pos, CAST(round(x * 1e6, 0) AS BIGINT) AS xq FROM e),
         |${corpusLloydCtes(8, 2)},
         |fin AS (
         |  SELECT p.vec_id, c.cluster,
         |    CAST(sum((p.xq - c.cq) * (p.xq - c.cq)) AS BIGINT) AS dist2q
         |  FROM p JOIN cb2 c ON p.pos = c.pos GROUP BY 1, 2
         |),
         |asg AS (
         |  SELECT vec_id, cluster FROM (
         |    SELECT vec_id, cluster, dist2q,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn
         |    FROM fin) r WHERE rn = 1
         |),
         |cl AS (
         |  SELECT a.cluster, em.label, CAST(count(*) AS BIGINT) AS cnt
         |  FROM asg a JOIN embeddings em ON a.vec_id = em.vec_id
         |  GROUP BY 1, 2
         |),
         |tots AS (
         |  SELECT cluster, CAST(sum(cnt) AS BIGINT) AS n,
         |    CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq
         |  FROM cl GROUP BY 1
         |),
         |maj AS (
         |  SELECT cluster, label AS maj_label, cnt AS maj_cnt FROM (
         |    SELECT cluster, label, cnt,
         |      row_number() OVER (PARTITION BY cluster ORDER BY cnt DESC, label) AS rn
         |    FROM cl) r WHERE rn = 1
         |),
         |j AS (SELECT m.cluster, n, maj_label, maj_cnt, sum_sq
         |      FROM maj m JOIN tots USING (cluster)),
         |ov AS (SELECT CAST(sum(maj_cnt) AS BIGINT) AS t_maj,
         |              CAST(sum(n) AS BIGINT) AS t_n FROM j)
         |SELECT cluster, n, maj_label, maj_cnt,
         |  maj_cnt * 1000000 // n AS purity_ppm,
         |  1000000 - sum_sq * 1000000 // (n * n) AS gini_ppm,
         |  t_maj * 1000000 // t_n AS overall_ppm
         |FROM j, ov ORDER BY cluster""".stripMargin,

    // s35: the cartography dashboard — ONE shared Lloyd chain feeds
    // the s11 distortion rollup, the s33 margin mean, and the s34
    // purity columns
    query("s35_cluster_report", Similarity.clusterReport(_, _)) oracle
      s"""WITH ${embCte("TRUE")},
         |p AS (SELECT vec_id, i AS pos, CAST(round(x * 1e6, 0) AS BIGINT) AS xq FROM e),
         |${corpusLloydCtes(8, 2)},
         |fin AS (
         |  SELECT p.vec_id, c.cluster,
         |    CAST(sum((p.xq - c.cq) * (p.xq - c.cq)) AS BIGINT) AS dist2q
         |  FROM p JOIN cb2 c ON p.pos = c.pos GROUP BY 1, 2
         |),
         |r AS (
         |  SELECT vec_id, cluster, dist2q,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn
         |  FROM fin
         |),
         |asg AS (SELECT vec_id, cluster, dist2q FROM r WHERE rn = 1),
         |dist AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n,
         |           CAST(sum(dist2q) AS BIGINT) AS sum_d
         |         FROM asg GROUP BY 1),
         |oth AS (SELECT vec_id, CAST(min(dist2q) AS BIGINT) AS b2
         |        FROM r WHERE rn > 1 GROUP BY 1),
         |silrows AS (
         |  SELECT a.cluster,
         |    CASE WHEN greatest(a.dist2q, b2) = 0 THEN 0
         |         ELSE (b2 - a.dist2q) * 1000000 // greatest(a.dist2q, b2)
         |    END AS sil_ppm
         |  FROM asg a JOIN oth USING (vec_id)
         |),
         |sil AS (SELECT cluster, CAST(sum(sil_ppm) AS BIGINT) AS sil_sum
         |        FROM silrows GROUP BY 1),
         |cl AS (
         |  SELECT a.cluster, em.label, CAST(count(*) AS BIGINT) AS cnt
         |  FROM asg a JOIN embeddings em ON a.vec_id = em.vec_id
         |  GROUP BY 1, 2
         |),
         |tots AS (SELECT cluster, CAST(sum(cnt) AS BIGINT) AS np,
         |           CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq
         |         FROM cl GROUP BY 1),
         |maj AS (
         |  SELECT cluster, label AS maj_label, cnt AS maj_cnt FROM (
         |    SELECT cluster, label, cnt,
         |      row_number() OVER (PARTITION BY cluster ORDER BY cnt DESC, label) AS rn
         |    FROM cl) x WHERE rn = 1
         |)
         |SELECT d.cluster, d.n, d.sum_d,
         |  sil_sum // d.n AS mean_sil_ppm,
         |  maj_label,
         |  maj_cnt * 1000000 // np AS purity_ppm,
         |  1000000 - sum_sq * 1000000 // (np * np) AS gini_ppm
         |FROM dist d JOIN sil USING (cluster) JOIN maj USING (cluster)
         |  JOIN tots USING (cluster)
         |ORDER BY d.cluster""".stripMargin,

    // s12: the s11 assignment + per-cluster mean-distance outlier flag
    query("s12_embed_outliers", Similarity.embedOutliers(_, _)) oracle
      s"""WITH ${embCte("TRUE")},
         |p AS (SELECT vec_id, i AS pos, CAST(round(x * 1e6, 0) AS BIGINT) AS xq FROM e),
         |${corpusLloydCtes(8, 2)},
         |fin AS (
         |  SELECT p.vec_id, c.cluster,
         |    CAST(sum((p.xq - c.cq) * (p.xq - c.cq)) AS BIGINT) AS dist2q
         |  FROM p JOIN cb2 c ON p.pos = c.pos GROUP BY 1, 2
         |),
         |asg AS (
         |  SELECT vec_id, cluster, dist2q FROM (
         |    SELECT vec_id, cluster, dist2q,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn
         |    FROM fin) r WHERE rn = 1
         |),
         |st AS (
         |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_c,
         |    CAST(sum(dist2q) AS BIGINT) AS sum_d
         |  FROM asg GROUP BY 1
         |)
         |SELECT a.vec_id, a.cluster, a.dist2q, n_c, sum_d,
         |  a.dist2q > 2.0e0 * sum_d / n_c AS is_outlier
         |FROM asg a JOIN st USING (cluster) ORDER BY a.vec_id""".stripMargin,

    // s13: recall@3 of the s02 LSH search against s01 ground truth —
    // the shared exact-dot CTEs score once, the truth ranking and the
    // bucket-restricted ranking both derive from them, and the final
    // division is one exact IEEE op per query
    query("s13_ann_recall", Similarity.annRecall(_, _)) oracle
      s"""WITH ${embCte("vec_id < 8 OR vec_id % 20 = 0")},
         |n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY 1),
         |d AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cand, sum(q.x * c.x) AS dp
         |  FROM e q JOIN e c ON q.i = c.i
         |  WHERE q.vec_id < 8 AND c.vec_id % 20 = 0 AND q.vec_id <> c.vec_id
         |  GROUP BY 1, 2
         |),
         |sc AS (
         |  SELECT qid, cand, round(dp / sqrt(nq.nrm * nc.nrm), 6) AS cos
         |  FROM d JOIN n nq ON qid = nq.vec_id JOIN n nc ON cand = nc.vec_id
         |),
         |truth AS (
         |  SELECT qid, cand FROM (
         |    SELECT qid, cand,
         |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS rnk
         |    FROM sc) r WHERE rnk <= 3
         |),
         |dots AS (
         |  SELECT vec_id, j,
         |    sum(CAST(round(x * 1e6, 0) AS BIGINT) * (((17 * j + 31 * (i - 1) + 5) % 7) - 3)) AS pd
         |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS j) js
         |  GROUP BY 1, 2
         |),
         |bkt AS (
         |  SELECT vec_id, CAST(sum(CASE WHEN pd > 0 THEN (1 << j) ELSE 0 END) AS INT) AS bucket
         |  FROM dots GROUP BY 1
         |),
         |a_sc AS (
         |  SELECT sc.qid, sc.cand, sc.cos
         |  FROM sc
         |  JOIN bkt bq ON sc.qid = bq.vec_id
         |  JOIN bkt bc ON sc.cand = bc.vec_id AND bq.bucket = bc.bucket
         |),
         |approx AS (
         |  SELECT qid, cand FROM (
         |    SELECT qid, cand,
         |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS rnk
         |    FROM a_sc) r WHERE rnk <= 3
         |)
         |SELECT t.qid, CAST(count(*) AS BIGINT) AS n_truth,
         |  CAST(count(a.cand) AS BIGINT) AS n_hits,
         |  round(CAST(count(a.cand) AS DOUBLE) / count(*), 6) AS recall
         |FROM truth t LEFT JOIN approx a ON t.qid = a.qid AND t.cand = a.cand
         |GROUP BY t.qid ORDER BY t.qid""".stripMargin,

    // s28: the IVF nprobe tuning curve — the s03 Lloyd chain (ivfCtes)
    // re-trained, then every brute-force top-3 pair joined to the FULL
    // per-query cell ranking; one unnest fans the k probe budgets out
    query("s28_ivf_recall_curve", Similarity.ivfRecallCurve(_, _)) oracle
      s"""WITH ${embCte("vec_id < 8 OR vec_id % 20 = 0")},
         |${ivfCtes(8, 2)},
         |n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY 1),
         |dcf AS (
         |  SELECT cp.vec_id, c.cluster,
         |    CAST(sum((cp.xq - c.cq) * (cp.xq - c.cq)) AS BIGINT) AS dist2q
         |  FROM cp JOIN c2 c ON cp.pos = c.pos GROUP BY 1, 2
         |),
         |cells AS (
         |  SELECT vec_id, cluster AS cell FROM (
         |    SELECT vec_id, cluster,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn
         |    FROM dcf) r WHERE rn = 1
         |),
         |dqf AS (
         |  SELECT qp.vec_id, c.cluster,
         |    CAST(sum((qp.xq - c.cq) * (qp.xq - c.cq)) AS BIGINT) AS dist2q
         |  FROM qp JOIN c2 c ON qp.pos = c.pos GROUP BY 1, 2
         |),
         |cellrank AS (
         |  SELECT vec_id AS qid, cluster AS cell,
         |    CAST(row_number() OVER (PARTITION BY vec_id ORDER BY dist2q, cluster) AS INT) AS crn
         |  FROM dqf
         |),
         |d AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cand, sum(q.x * c.x) AS dp
         |  FROM e q JOIN e c ON q.i = c.i
         |  WHERE q.vec_id < 8 AND c.vec_id % 20 = 0 AND q.vec_id <> c.vec_id
         |  GROUP BY 1, 2
         |),
         |sc AS (
         |  SELECT qid, cand, round(dp / sqrt(nq.nrm * nc.nrm), 6) AS cos
         |  FROM d JOIN n nq ON qid = nq.vec_id JOIN n nc ON cand = nc.vec_id
         |),
         |truth AS (
         |  SELECT qid, cand FROM (
         |    SELECT qid, cand,
         |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS rnk
         |    FROM sc) r WHERE rnk <= 3
         |),
         |pc AS (
         |  SELECT t.qid, cr.crn
         |  FROM truth t
         |  JOIN cells cl ON t.cand = cl.vec_id
         |  JOIN cellrank cr ON cr.qid = t.qid AND cr.cell = cl.cell
         |)
         |SELECT CAST(np.nprobe AS INT) AS nprobe,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN crn <= np.nprobe THEN 1 ELSE 0 END) AS BIGINT) AS n_caught
         |FROM pc CROSS JOIN (SELECT unnest(range(1, 9)) AS nprobe) np
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // s14: metadata-FILTERED top-k — the s01 ranking restricted to
    // same-label candidates; the label predicate joins BEFORE scoring
    // in both engines (a non-matching candidate contributes no pair)
    query("s14_ann_filtered", Similarity.annFiltered(_, _)) oracle
      s"""WITH ${embCte("vec_id < 8 OR vec_id % 20 = 0")},
         |l AS (SELECT vec_id, label FROM embeddings
         |      WHERE vec_id < 8 OR vec_id % 20 = 0),
         |n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY 1),
         |d AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cand, sum(q.x * c.x) AS dp
         |  FROM e q JOIN e c ON q.i = c.i
         |  JOIN l lq ON lq.vec_id = q.vec_id
         |  JOIN l lc ON lc.vec_id = c.vec_id AND lq.label = lc.label
         |  WHERE q.vec_id < 8 AND c.vec_id % 20 = 0 AND q.vec_id <> c.vec_id
         |  GROUP BY 1, 2
         |),
         |scored AS (
         |  SELECT qid, cand, round(dp / sqrt(nq.nrm * nc.nrm), 6) AS cos
         |  FROM d JOIN n nq ON qid = nq.vec_id JOIN n nc ON cand = nc.vec_id
         |),
         |ranked AS (
         |  SELECT qid, cand, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS INT) AS rnk
         |  FROM scored
         |)
         |SELECT r.qid, l.label, r.cand, r.cos, r.rnk
         |FROM ranked r JOIN l ON r.qid = l.vec_id
         |WHERE r.rnk <= 5 ORDER BY r.qid, r.rnk""".stripMargin,

    // s40: hard-negative mining — s14 with the label predicate
    // inverted (nearest candidates with a DIFFERENT label)
    query("s40_hard_negatives", Similarity.hardNegatives(_, _)) oracle
      s"""WITH ${embCte("vec_id < 8 OR vec_id % 20 = 0")},
         |l AS (SELECT vec_id, label FROM embeddings
         |      WHERE vec_id < 8 OR vec_id % 20 = 0),
         |n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY 1),
         |d AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cand, lc.label,
         |    sum(q.x * c.x) AS dp
         |  FROM e q JOIN e c ON q.i = c.i
         |  JOIN l lq ON lq.vec_id = q.vec_id
         |  JOIN l lc ON lc.vec_id = c.vec_id AND lq.label <> lc.label
         |  WHERE q.vec_id < 8 AND c.vec_id % 20 = 0 AND q.vec_id <> c.vec_id
         |  GROUP BY 1, 2, 3
         |),
         |scored AS (
         |  SELECT qid, cand, label, round(dp / sqrt(nq.nrm * nc.nrm), 6) AS cos
         |  FROM d JOIN n nq ON qid = nq.vec_id JOIN n nc ON cand = nc.vec_id
         |),
         |ranked AS (
         |  SELECT qid, cand, label, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand)
         |      AS INT) AS rnk
         |  FROM scored
         |)
         |SELECT qid, rnk, cand, label, cos FROM ranked
         |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // s04/s05 arithmetic is EXACT: components quantize to 1e-6-grid
    // integers first, so every aggregate is an order-free integer sum —
    // no float summation-order noise near rounding boundaries on either
    // engine (q.xq below mirrors Similarity.quantized).
    query("s04_centroids", Similarity.centroids(_, _)) oracle
      s"""WITH ${embCte("TRUE")},
         |q AS (SELECT vec_id, CAST(vec_id % 8 AS INT) AS cluster, i AS pos,
         |        CAST(round(x * 1e6, 0) AS BIGINT) AS xq FROM e)
         |SELECT cluster, pos,
         |  CAST(round(sum(xq) / count(*), 0) AS BIGINT) / 1e6 AS centroid
         |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    query("s05_assign_centroids", Similarity.assignToCentroids(_, _)) oracle
      s"""WITH ${embCte("TRUE")},
         |q AS (SELECT vec_id, CAST(vec_id % 8 AS INT) AS cluster, i AS pos,
         |        CAST(round(x * 1e6, 0) AS BIGINT) AS xq FROM e),
         |cent AS (
         |  SELECT cluster, pos, CAST(round(sum(xq) / count(*), 0) AS BIGINT) AS cq
         |  FROM q GROUP BY 1, 2
         |),
         |d AS (
         |  SELECT q.vec_id, c.cluster,
         |    CAST(sum((q.xq - c.cq) * (q.xq - c.cq)) AS BIGINT) AS dist2q
         |  FROM q JOIN cent c ON q.pos = c.pos
         |  GROUP BY 1, 2
         |),
         |r AS (
         |  SELECT vec_id, cluster, dist2q,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn
         |  FROM d
         |)
         |SELECT vec_id, cluster AS cell, dist2q FROM r WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,

    // s43: label assortativity — Newman's categorical mixing r over
    // the s16 edges, sign-explicit HUGEINT ppm, NULL when degenerate
    query("s43_label_assortativity", Similarity.labelAssortativity(_, _)) oracle
      s"""WITH $KnnCtes,
         |edges AS MATERIALIZED (SELECT src, dst FROM ranked WHERE rnk <= 3),
         |lbl AS (SELECT vec_id, label FROM embeddings),
         |el AS (SELECT la.label AS la, lb.label AS lb FROM edges e
         |  JOIN lbl la ON la.vec_id = e.src
         |  JOIN lbl lb ON lb.vec_id = e.dst),
         |mix AS (SELECT la, lb, CAST(count(*) AS BIGINT) AS c
         |  FROM el GROUP BY 1, 2),
         |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM mix),
         |aa AS (SELECT la, CAST(sum(c) AS BIGINT) AS ca FROM mix GROUP BY 1),
         |bb AS (SELECT lb, CAST(sum(c) AS BIGINT) AS cb FROM mix GROUP BY 1),
         |ab AS (SELECT CAST(coalesce(sum(aa.ca * bb.cb), 0) AS BIGINT) AS sab
         |  FROM aa JOIN bb ON bb.lb = aa.la),
         |sm AS (SELECT CAST(coalesce(sum(CASE WHEN la = lb THEN c END), 0)
         |    AS BIGINT) AS n_same FROM mix)
         |SELECT nn.n AS n_edges, sm.n_same,
         |  CASE WHEN CAST(nn.n AS HUGEINT) * nn.n - ab.sab = 0
         |    THEN CAST(NULL AS BIGINT)
         |  WHEN CAST(sm.n_same AS HUGEINT) * nn.n - ab.sab >= 0
         |    THEN CAST((CAST(sm.n_same AS HUGEINT) * nn.n - ab.sab) * 1000000
         |      // (CAST(nn.n AS HUGEINT) * nn.n - ab.sab) AS BIGINT)
         |  ELSE -CAST((CAST(ab.sab AS HUGEINT) -
         |      CAST(sm.n_same AS HUGEINT) * nn.n) * 1000000
         |      // (CAST(nn.n AS HUGEINT) * nn.n - ab.sab) AS BIGINT)
         |  END AS r_ppm
         |FROM nn CROSS JOIN ab CROSS JOIN sm""".stripMargin,

    // s42: kNN-graph in-degree assortativity — the q64 moment algebra
    // over the edge list, one exact row
    query("s42_assortativity", Similarity.degreeAssortativity(_, _)) oracle
      s"""WITH $KnnCtes,
         |edges AS MATERIALIZED (SELECT src, dst FROM ranked WHERE rnk <= 3),
         |ind AS (SELECT dst AS vec_id, CAST(count(*) AS BIGINT) AS ind
         |  FROM edges GROUP BY 1),
         |ex AS (SELECT coalesce(a.ind, 0) AS x, b.ind AS y
         |  FROM edges e LEFT JOIN ind a ON a.vec_id = e.src
         |  JOIN ind b ON b.vec_id = e.dst),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(y * y) AS BIGINT) AS syy
         |  FROM ex),
         |asst AS (SELECT n AS n_edges,
         |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
         |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dx,
         |    CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dy
         |  FROM m)
         |SELECT n_edges,
         |  CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
         |    AS INT) AS r_sign,
         |  CASE WHEN dx = 0 OR dy = 0 THEN CAST(NULL AS BIGINT)
         |       ELSE CAST(((num * num // dx) * 1000000) // dy AS BIGINT)
         |  END AS r2_ppm
         |FROM asst""".stripMargin,
  )
}
