package graft.operators

import graft.OracleSql._
import graft.Query
import graft.Query.query

/** The d-family: exact, n-gram, MinHash/SimHash and embedding dedup. */
object DedupQueries {

  private val DictCte =
    "dict AS (SELECT sh, dense_rank() OVER (ORDER BY sh) AS sid FROM (SELECT DISTINCT sh FROM sh) dd)"

  private val HashCte =
    "h AS (SELECT i, 4097 + 7919*i AS a, 17 + 104729*i AS b FROM (SELECT unnest(range(0, 16)) AS i) hh)"

  /** DuckDB mirror of Dedup.tfidfCosine (d36): the sampled tf table,
    * two ilogChainSql passes (N and per-token df onto the shared
    * fixed-point grid), weights, norms, the posting-list pair join,
    * and the HUGEINT squared-cosine threshold.
    */
  private def tfidfSql(maxSample: Int, minCos2Ppm: Long): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH dd AS (SELECT doc_id, $Toks AS tk FROM documents
       |  WHERE doc_id % 10 = 0 AND doc_id < ${10L * maxSample}),
       |tf AS MATERIALIZED (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(tk) AS tok FROM dd) t GROUP BY 1, 2),
       |ndc AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM dd),
       |dfc AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)""".stripMargin
    val (at, an) = ilogChainSql("ca", "ndc", "nd", "lnd", Nil)
    sb ++= at
    val (bt, bn) = ilogChainSql("cb", "dfc", "df", "ldf", Seq("tok"))
    sb ++= bt
    sb ++= s""",
       |wt AS MATERIALIZED (
       |  SELECT t.doc_id, t.tok, t.tf * (a.lnd - b.ldf) AS w
       |  FROM tf t JOIN $bn b ON b.tok = t.tok CROSS JOIN $an a
       |  WHERE t.tf * (a.lnd - b.ldf) >= 1),
       |n2 AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
       |  FROM wt GROUP BY 1),
       |dt AS (SELECT x.doc_id AS a, y.doc_id AS b,
       |    CAST(sum(x.w * y.w) AS BIGINT) AS dot
       |  FROM wt x JOIN wt y ON x.tok = y.tok AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT a, b, dot, na.n2 AS n2_a, nb.n2 AS n2_b,
       |  CAST((CAST(dot AS HUGEINT) * dot * 1000000) //
       |    (CAST(na.n2 AS HUGEINT) * nb.n2) AS BIGINT) AS cos2_ppm
       |FROM dt JOIN n2 na ON na.doc_id = a JOIN n2 nb ON nb.doc_id = b
       |WHERE (CAST(dot AS HUGEINT) * dot * 1000000) //
       |    (CAST(na.n2 AS HUGEINT) * nb.n2) >= $minCos2Ppm
       |ORDER BY a, b""".stripMargin
    sb.toString
  }

  val all: Seq[Query] = Seq(
    // d33: multiset Jaccard — sum-min over token counts, sum-max by
    // the identity Na + Nb - sum-min, floor ppm
    // d36: exact TF-IDF cosine pairs — fixed-point idf, squared-cosine
    // threshold by HUGEINT cross-multiplication (no sqrt)
    query("d36_tfidf_cosine", Dedup.tfidfCosine(_, _)) oracle tfidfSql(maxSample = 512, minCos2Ppm = 250000L),

    query("d33_weighted_jaccard", Dedup.weightedJaccard(_, _)) oracle
      s"""WITH dd AS (SELECT doc_id, $Toks AS tk FROM documents
         |  WHERE doc_id % 10 = 0 AND doc_id < 5120),
         |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest(tk) AS tok FROM dd) t GROUP BY 1, 2),
         |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
         |i AS (SELECT x.doc_id AS a, y.doc_id AS b,
         |    CAST(sum(least(x.c, y.c)) AS BIGINT) AS mn
         |  FROM c x JOIN c y ON x.tok = y.tok AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT a, b, na.n AS n_a, nb.n AS n_b, mn,
         |  mn * 1000000 // (na.n + nb.n - mn) AS wjaccard_ppm
         |FROM i JOIN n na ON na.doc_id = a JOIN n nb ON nb.doc_id = b
         |WHERE mn * 1000000 // (na.n + nb.n - mn) >= 500000
         |ORDER BY a, b""".stripMargin,

    query("d01_dedup_exact", Dedup.exact) oracle
      """SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,

    // doc_id < 5120 mirrors ngramJaccard's maxSample=512 id-prefix cap
    // (fixed-size sample — the quadratic ground truth stays bounded at
    // any corpus size; non-binding at the sf0.01 gate's 500 docs)
    query("d02_ngram_jaccard", Dedup.ngramJaccard(_, _)) oracle
      s"""WITH ${tkCte("WHERE doc_id % 10 = 0 AND doc_id < 5120")},
         |$ShCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS ic
         |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT a, b, round(ic / (sa.n + sb.n - ic), 6) AS jaccard
         |FROM inter JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
         |WHERE round(ic / (sa.n + sb.n - ic), 6) >= 0.5
         |ORDER BY a, b""".stripMargin,

    // d34: winnowing (Schleimer et al. 2003) — per-doc window-min
    // fingerprints with rightmost tiebreak, packed as (h+1)*2^20 - pos
    // so one min() carries both the hash order and the tiebreak; the
    // oracle replays the identical pack/window/decode
    query("d34_winnowing", Dedup.winnowFingerprints(_, _)) oracle
      s"""WITH ${tkCte("")},
         |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |        ${hexIntSql(s"md5($GramExpr)", 8)} AS h
         |      FROM $GramPos),
         |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1),
         |kv AS (SELECT doc_id, pos, (h + 1) * 1048576 - pos AS v FROM g),
         |wmin AS (
         |  SELECT doc_id, pos,
         |    min(v) OVER (PARTITION BY doc_id ORDER BY pos
         |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS vmin
         |  FROM kv
         |),
         |sel AS (
         |  SELECT w.doc_id,
         |    (vmin // 1048576 + 1) * 1048576 - vmin AS pos,
         |    vmin // 1048576 AS h
         |  FROM wmin w JOIN n USING (doc_id) WHERE w.pos <= n.n - 3
         |)
         |SELECT DISTINCT doc_id, pos, h FROM sel
         |ORDER BY doc_id, pos""".stripMargin,

    // d23: prefix filtering is LOSSLESS, so the oracle is simply the
    // full-corpus brute-force Jaccard join — no sample cap, unlike d02.
    // If the Spark side's candidate generation ever dropped a true
    // pair, this gate would hash-mismatch.
    query("d23_jaccard_prefix", Dedup.jaccardPrefixJoin(_, _)) oracle
      s"""WITH ${tkCte("")},
         |$ShCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS ic
         |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT a, b, CAST(ic AS BIGINT) AS inter,
         |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
         |  round(ic / (sa.n + sb.n - ic), 6) AS jaccard
         |FROM inter JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
         |WHERE round(ic / (sa.n + sb.n - ic), 6) >= 0.5
         |ORDER BY a, b""".stripMargin,

    // d26: containment — the oracle is the full brute-force DIRECTED
    // join (both orientations of every pair), so a candidate split
    // that lost either direction would hash-mismatch
    query("d26_containment", Dedup.containmentJoin(_, _)) oracle
      s"""WITH ${tkCte("")},
         |$ShCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS ic
         |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id <> y.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT a, b, CAST(ic AS BIGINT) AS inter,
         |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
         |  round(ic / sa.n, 6) AS containment
         |FROM inter JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
         |WHERE round(ic / sa.n, 6) >= 0.5
         |ORDER BY a, b""".stripMargin,

    // d27: the PassJoin variant over a CORPUS-scale domain (12-char
    // doc prefixes) — same brute-force-oracle discipline as d25: the
    // positional-segment candidate split must lose nothing
    query("d27_edit_segments", Dedup.editDistanceJoinSegments(_, _)) oracle
      """WITH s AS (
        |  SELECT DISTINCT substr(text, 1, 12) AS s FROM documents
        |  WHERE length(text) >= 1)
        |SELECT a.s AS sa, b.s AS sb,
        |  CAST(levenshtein(a.s, b.s) AS INT) AS dist
        |FROM s a JOIN s b ON a.s < b.s
        |WHERE levenshtein(a.s, b.s) <= 2
        |ORDER BY sa, sb""".stripMargin,

    // d24: DBSCAN — order-pinned list_reduce cosine (the d13 fold),
    // degree → core (>= 4 neighbors at sim >= 0.3) → recursive-CTE
    // components over core-core edges (min-id labels, the d06 mirror
    // of GraphX CC) → border = min cluster among core neighbors →
    // noise NULL. Every step is integer/rounded-exact, so the full
    // clustering hash-matches.
    query("d24_dbscan", Dedup.dbscan(_, _)) oracle
      """WITH RECURSIVE v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
        |n AS (SELECT vec_id, list_reduce(
        |        list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
        |        (x, y) -> x + y) AS nrm FROM v),
        |p AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    round(list_reduce(list_transform(list_zip(a.embedding, b.embedding),
        |        z -> z[1]::DOUBLE * z[2]::DOUBLE), (x, y) -> x + y)
        |      / sqrt(na.nrm * nb.nrm), 6) AS sim
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id
        |  JOIN n na ON na.vec_id = a.vec_id JOIN n nb ON nb.vec_id = b.vec_id),
        |e AS (SELECT a, b FROM p WHERE sim >= 0.3),
        |und AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT u AS vec_id, CAST(count(*) AS BIGINT) AS n_neighbors FROM und GROUP BY 1),
        |pts AS (SELECT v.vec_id, coalesce(deg.n_neighbors, 0) AS n_neighbors,
        |          coalesce(deg.n_neighbors, 0) >= 4 AS is_core
        |        FROM v LEFT JOIN deg USING (vec_id)),
        |ce AS (SELECT e.a, e.b FROM e
        |       JOIN pts pa ON e.a = pa.vec_id JOIN pts pb ON e.b = pb.vec_id
        |       WHERE pa.is_core AND pb.is_core),
        |cund AS (SELECT a, b FROM ce UNION SELECT b, a FROM ce),
        |reach(s, t) AS (
        |  SELECT a, b FROM cund
        |  UNION
        |  SELECT r.s, u.b FROM reach r JOIN cund u ON r.t = u.a),
        |comp AS (SELECT s AS vec_id, least(s, min(t)) AS cid FROM reach GROUP BY s),
        |coremap AS (SELECT p.vec_id, coalesce(c.cid, p.vec_id) AS cluster_id
        |            FROM pts p LEFT JOIN comp c USING (vec_id) WHERE p.is_core),
        |border AS (SELECT und.u AS vec_id, min(cm.cluster_id) AS b_cluster
        |           FROM und JOIN pts pu ON und.u = pu.vec_id AND NOT pu.is_core
        |           JOIN coremap cm ON und.v = cm.vec_id GROUP BY 1)
        |SELECT p.vec_id,
        |  CASE WHEN p.is_core THEN 'core'
        |       WHEN b.vec_id IS NOT NULL THEN 'border'
        |       ELSE 'noise' END AS role,
        |  coalesce(cm.cluster_id, b.b_cluster) AS cluster_id,
        |  p.n_neighbors
        |FROM pts p LEFT JOIN coremap cm USING (vec_id) LEFT JOIN border b USING (vec_id)
        |ORDER BY p.vec_id""".stripMargin,

    query("d03_minhash_lsh", Dedup.minHashLsh) oracle
      s"""WITH ${tkCte("WHERE doc_id % 10 = 0")},
         |$ShCte,
         |$DictCte,
         |$HashCte,
         |mh AS (
         |  SELECT s.doc_id, h.i, min((h.a * d.sid + h.b) % 2147483647) AS mh
         |  FROM sh s JOIN dict d ON s.sh = d.sh CROSS JOIN h
         |  GROUP BY 1, 2
         |),
         |bs AS (
         |  SELECT doc_id, CAST(i // 4 AS INT) AS band,
         |    string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS sig
         |  FROM mh GROUP BY 1, 2
         |)
         |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |FROM bs x JOIN bs y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
         |ORDER BY a, b""".stripMargin,

    query("d03_minhash_lsh_hashed", Dedup.minHashLshHashed).specGated(
      Seq("graft.operators.SigAggParitySpec"),
      "shingle ids come from Spark's xxhash64 (no dictionary, no global sort), " +
        "which DuckDB SQL cannot reproduce; the spec pins the aggregate signature " +
        "build bit-identical to the list form and the planted exact duplicate " +
        "found like the oracle-gated dictionary twin d03_minhash_lsh"),

    // d28: the LSH S-curve measured — shared-shingle pairs bucketed by
    // integer Jaccard decile, full-outer with d03's banded candidates;
    // no-shared-shingle candidates land in bucket -1 as explicit FPs
    query("d28_lsh_recall", Dedup.lshRecallCurve(_, _)) oracle
      s"""WITH ${tkCte("")},
         |$ShCte,
         |$DictCte,
         |$HashCte,
         |mh AS (
         |  SELECT s.doc_id, h.i, min((h.a * d.sid + h.b) % 2147483647) AS mh
         |  FROM sh s JOIN dict d ON s.sh = d.sh CROSS JOIN h
         |  GROUP BY 1, 2
         |),
         |bs AS (
         |  SELECT doc_id, CAST(i // 4 AS INT) AS band,
         |    string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS sig
         |  FROM mh GROUP BY 1, 2
         |),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bs x JOIN bs y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
         |),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS ic
         |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |),
         |pr AS (
         |  SELECT i.a, i.b,
         |    CAST((i.ic * 10) // (sa.n + sb.n - i.ic) AS INT) AS bucket
         |  FROM inter i JOIN sizes sa ON i.a = sa.doc_id
         |  JOIN sizes sb ON i.b = sb.doc_id
         |),
         |fo AS (
         |  SELECT coalesce(p.bucket, -1) AS bucket,
         |    CASE WHEN p.a IS NOT NULL THEN 1 ELSE 0 END AS is_pair,
         |    CASE WHEN c.a IS NOT NULL THEN 1 ELSE 0 END AS is_hit
         |  FROM pr p FULL OUTER JOIN cand c ON p.a = c.a AND p.b = c.b
         |)
         |SELECT bucket, CAST(sum(is_pair) AS BIGINT) AS n_pairs,
         |  CAST(sum(is_hit) AS BIGINT) AS n_caught
         |FROM fo GROUP BY bucket ORDER BY bucket""".stripMargin,

    // d29: the embedding-LSH recall curve — d05-sample all-pairs cosine
    // banded in 0.2 steps; per band, pairs caught by the single-bucket
    // join (plane-sign hamming 0) and by hamming-1 multi-probe
    query("d29_embed_lsh_recall", Dedup.embedLshRecallCurve(_, _)) oracle
      s"""WITH ${embCte("vec_id % 2 = 0 AND vec_id < 2048")},
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
         |  SELECT q.vec_id AS a, c.vec_id AS b, sum(q.x * c.x) AS dp
         |  FROM e q JOIN e c ON q.i = c.i AND q.vec_id < c.vec_id
         |  GROUP BY 1, 2
         |),
         |sc AS (
         |  SELECT round(d.dp / sqrt(na.nrm * nb.nrm), 6) AS cos,
         |    bit_count(xor(ba.bucket, bb.bucket)) AS hd
         |  FROM d JOIN n na ON d.a = na.vec_id JOIN n nb ON d.b = nb.vec_id
         |  JOIN bkt ba ON d.a = ba.vec_id JOIN bkt bb ON d.b = bb.vec_id
         |),
         |bd AS (
         |  SELECT CAST(CASE WHEN cos < 0.0 THEN 0
         |                   WHEN cos < 0.2 THEN 1
         |                   WHEN cos < 0.4 THEN 2
         |                   WHEN cos < 0.6 THEN 3
         |                   WHEN cos < 0.8 THEN 4
         |                   ELSE 5 END AS INT) AS band, hd
         |  FROM sc)
         |SELECT band, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN hd = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_same_bucket,
         |  CAST(sum(CASE WHEN hd <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_probe1
         |FROM bd GROUP BY band ORDER BY band""".stripMargin,

    // d30: exact suffix-repeat profile — capped suffixes sorted
    // globally (the suffix array over the bounded sample), adjacent
    // LCP via first-mismatch scan, per-position max over the two
    // rank-neighbors, histogram of lengths >= 8
    query("d30_suffix_repeats", Dedup.suffixRepeats(_, _)) oracle
      s"""WITH docs AS (
         |  SELECT doc_id, substr(text, 1, 128) AS t FROM documents
         |  WHERE doc_id < 64 AND length(text) > 0
         |),
         |pos AS (
         |  SELECT doc_id, CAST(o.off AS INT) AS off,
         |    substr(t, CAST(o.off AS INT) + 1, 64) AS sfx
         |  FROM docs CROSS JOIN (SELECT unnest(range(0, 128)) AS off) o
         |  WHERE o.off < length(t)
         |),
         |sa AS (
         |  SELECT doc_id, off, sfx,
         |    row_number() OVER (ORDER BY sfx, doc_id, off) AS rk
         |  FROM pos
         |),
         |lcps AS (
         |  SELECT a.rk,
         |    coalesce(
         |      min(CASE WHEN substr(a.sfx, ii.i, 1) <> substr(b.sfx, ii.i, 1)
         |               THEN ii.i END) - 1,
         |      least(length(a.sfx), length(b.sfx))) AS lcp
         |  FROM sa a JOIN sa b ON b.rk = a.rk + 1
         |  CROSS JOIN (SELECT CAST(unnest(range(1, 65)) AS INT) AS i) ii
         |  GROUP BY a.rk, a.sfx, b.sfx
         |),
         |ends AS (
         |  SELECT rk, lcp FROM lcps
         |  UNION ALL SELECT rk + 1 AS rk, lcp FROM lcps
         |),
         |pm AS (SELECT rk, max(lcp) AS repeat_len FROM ends GROUP BY 1)
         |SELECT CAST(repeat_len AS INT) AS repeat_len,
         |  CAST(count(*) AS BIGINT) AS n_positions
         |FROM pm WHERE repeat_len >= 8 GROUP BY 1 ORDER BY 1""".stripMargin,

    // d31: the cut itself — a char is removed iff it sits inside any
    // repeat >= 16 starting at or before it; coverage is the per-doc
    // running max of (off + repeat_len), and the scrubbed text is the
    // order-sensitive rebuild of survivors
    query("d31_suffix_scrub", Dedup.suffixScrub(_, _)) oracle
      s"""WITH docs AS (
         |  SELECT doc_id, substr(text, 1, 128) AS t FROM documents
         |  WHERE doc_id < 64 AND length(text) > 0
         |),
         |pos AS (
         |  SELECT doc_id, CAST(o.off AS INT) AS off,
         |    substr(t, CAST(o.off AS INT) + 1, 64) AS sfx
         |  FROM docs CROSS JOIN (SELECT unnest(range(0, 128)) AS off) o
         |  WHERE o.off < length(t)
         |),
         |sa AS (
         |  SELECT doc_id, off, sfx,
         |    row_number() OVER (ORDER BY sfx, doc_id, off) AS rk
         |  FROM pos
         |),
         |lcps AS (
         |  SELECT a.rk,
         |    coalesce(
         |      min(CASE WHEN substr(a.sfx, ii.i, 1) <> substr(b.sfx, ii.i, 1)
         |               THEN ii.i END) - 1,
         |      least(length(a.sfx), length(b.sfx))) AS lcp
         |  FROM sa a JOIN sa b ON b.rk = a.rk + 1
         |  CROSS JOIN (SELECT CAST(unnest(range(1, 65)) AS INT) AS i) ii
         |  GROUP BY a.rk, a.sfx, b.sfx
         |),
         |ends AS (
         |  SELECT rk, lcp FROM lcps
         |  UNION ALL SELECT rk + 1 AS rk, lcp FROM lcps
         |),
         |pm AS (SELECT rk, max(lcp) AS repeat_len FROM ends GROUP BY 1),
         |pl AS (
         |  SELECT s.doc_id, s.off, substr(s.sfx, 1, 1) AS chr,
         |    coalesce(pm.repeat_len, 0) AS rl
         |  FROM sa s LEFT JOIN pm ON s.rk = pm.rk
         |),
         |cov AS (
         |  SELECT doc_id, off, chr,
         |    max(CASE WHEN rl >= 16 THEN off + rl ELSE -1 END)
         |      OVER (PARTITION BY doc_id ORDER BY off) AS rend
         |  FROM pl
         |)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN off >= rend THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN off < rend THEN 1 ELSE 0 END) AS BIGINT) AS n_cut,
         |  coalesce(string_agg(CASE WHEN off >= rend THEN chr END, ''
         |    ORDER BY off), '') AS scrubbed
         |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // est = equal signature positions / 16 (unbiased Jaccard estimator);
    // exact jaccard joined alongside so the oracle pins both columns
    query("d09_minhash_estimate", Dedup.minHashEstimate) oracle
      s"""WITH ${tkCte("WHERE doc_id % 10 = 0")},
         |$ShCte,
         |$DictCte,
         |$HashCte,
         |mh AS (
         |  SELECT s.doc_id, h.i, min((h.a * d.sid + h.b) % 2147483647) AS mh
         |  FROM sh s JOIN dict d ON s.sh = d.sh CROSS JOIN h
         |  GROUP BY 1, 2
         |),
         |bs AS (
         |  SELECT doc_id, CAST(i // 4 AS INT) AS band,
         |    string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS sig
         |  FROM mh GROUP BY 1, 2
         |),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bs x JOIN bs y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
         |),
         |mtch AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS m
         |  FROM mh x JOIN mh y ON x.i = y.i AND x.mh = y.mh AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS ic
         |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT c.a, c.b,
         |  round(coalesce(mm.m, 0) / 16.0, 6) AS est,
         |  round(coalesce(i.ic, 0) / (sa.n + sb.n - coalesce(i.ic, 0)), 6) AS jaccard
         |FROM cand c
         |LEFT JOIN mtch mm ON c.a = mm.a AND c.b = mm.b
         |LEFT JOIN inter i ON c.a = i.a AND c.b = i.b
         |JOIN sizes sa ON c.a = sa.doc_id
         |JOIN sizes sb ON c.b = sb.doc_id
         |ORDER BY c.a, c.b""".stripMargin,

    // d35: the d09 chain with the b-bit twist — low-2-bit matches per
    // position, Li-König correction (4C-1)/3 on the exact ppm grid
    query("d35_bbit_minhash", Dedup.bbitMinHash(_, _)) oracle
      s"""WITH ${tkCte("WHERE doc_id % 10 = 0")},
         |$ShCte,
         |$DictCte,
         |$HashCte,
         |mh AS (
         |  SELECT s.doc_id, h.i, min((h.a * d.sid + h.b) % 2147483647) AS mh
         |  FROM sh s JOIN dict d ON s.sh = d.sh CROSS JOIN h
         |  GROUP BY 1, 2
         |),
         |bs AS (
         |  SELECT doc_id, CAST(i // 4 AS INT) AS band,
         |    string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS sig
         |  FROM mh GROUP BY 1, 2
         |),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bs x JOIN bs y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
         |),
         |mtch AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS m
         |  FROM mh x JOIN mh y ON x.i = y.i AND x.mh = y.mh AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |),
         |mtchb AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS mb
         |  FROM mh x JOIN mh y ON x.i = y.i AND x.mh % 4 = y.mh % 4 AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT c.a, c.b,
         |  CAST(coalesce(mm.m, 0) AS BIGINT) AS eq_full,
         |  CAST(coalesce(mb.mb, 0) AS BIGINT) AS eq_b,
         |  coalesce(mm.m, 0) * 1000000 // 16 AS est_full_ppm,
         |  greatest(0, (4 * coalesce(mb.mb, 0) - 16) * 1000000 // 48) AS est_b_ppm
         |FROM cand c
         |LEFT JOIN mtch mm ON c.a = mm.a AND c.b = mm.b
         |LEFT JOIN mtchb mb ON c.a = mb.a AND c.b = mb.b
         |ORDER BY c.a, c.b""".stripMargin,

    // passage hash parity: identical window build (1-based inclusive
    // list slice = Spark slice(tk, i*20+1, 20)), md5 lowercase hex on
    // both engines; single distinct agg (no Expand rewrite either side)
    query("d10_passage_dedup", Dedup.passageDedup(_, _)) oracle
      s"""WITH ${tkCte("")},
         |p AS (
         |  SELECT doc_id, md5(array_to_string(tk[(i-1)*20+1 : i*20], ' ')) AS ph
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) // 20 + 1)) AS i FROM tk) t
         |)
         |SELECT ph, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_occ, min(doc_id) AS min_doc
         |FROM p GROUP BY ph HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY ph""".stripMargin,

    // d17: d10's build with stride-1 (overlapping) spans — tk[i : i+19]
    // is DuckDB's inclusive 1-based list slice, 20 tokens from i, in
    // lockstep with Spark slice(tk, i, 20)
    query("d17_repeated_spans", Dedup.repeatedSpans(_, _)) oracle
      s"""WITH ${tkCte("")},
         |p AS (
         |  SELECT doc_id, md5(array_to_string(tk[i : i+19], ' ')) AS ph
         |  FROM (SELECT doc_id, tk,
         |          unnest(range(1, greatest(len(tk) - 20 + 1, 0) + 1)) AS i
         |        FROM tk) t
         |)
         |SELECT ph, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_occ, min(doc_id) AS min_doc
         |FROM p GROUP BY ph HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY ph""".stripMargin,

    // d18: the d17 spans joined back to positions — covered = any
    // repeated span's [i, i+19] in a non-keeper doc; string_agg skips
    // the NULLed covered tokens exactly as collect_list drops null
    // whens; coalesce('') matches Spark's empty-array join on a fully
    // covered doc
    // r13-opt: gate the spans-materialized variant — identical rows
    // (SpanScrubSpec pins cached == plan-only), half the tokenize+md5
    // cost per action; the plan-only form stays as the composable API
    query("d18_span_scrub", Dedup.spanScrubCached(_, _)) oracle
      s"""WITH ${tkCte("")},
         |toks AS (
         |  SELECT doc_id, i AS pos, list_extract(tk, i) AS token
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM tk) t
         |),
         |spans AS (
         |  SELECT doc_id, i, md5(array_to_string(tk[i : i+19], ' ')) AS ph
         |  FROM (SELECT doc_id, tk,
         |          unnest(range(1, greatest(len(tk) - 20 + 1, 0) + 1)) AS i
         |        FROM tk) t
         |),
         |rep AS (
         |  SELECT ph, min(doc_id) AS min_doc FROM spans
         |  GROUP BY ph HAVING count(DISTINCT doc_id) >= 2
         |),
         |cov AS (
         |  SELECT DISTINCT s.doc_id, s.i + o.off AS pos
         |  FROM spans s JOIN rep r ON s.ph = r.ph AND s.doc_id <> r.min_doc
         |  CROSS JOIN (SELECT unnest(range(0, 20)) AS off) o
         |)
         |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN c.pos IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
         |  coalesce(string_agg(CASE WHEN c.pos IS NULL THEN t.token END,
         |    ' ' ORDER BY t.pos), '') AS clean
         |FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // d19: snapshot diff by content hash — full outer on (lang, h),
    // membership flags from null-side detection
    query("d19_corpus_diff", Dedup.corpusDiff(_, _)) oracle
      """WITH o AS (SELECT DISTINCT lang, md5(text) AS h FROM documents
        |           WHERE doc_id % 2 = 0),
        |n AS (SELECT DISTINCT lang, md5(text) AS h FROM documents
        |      WHERE doc_id % 2 = 1)
        |SELECT coalesce(o.lang, n.lang) AS lang,
        |  CAST(sum(CASE WHEN o.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(sum(CASE WHEN n.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN o.h IS NOT NULL AND n.h IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_retained
        |FROM o FULL JOIN n ON o.lang = n.lang AND o.h = n.h
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // d20: cross-source shingle overlap — distinct (source, 3-gram)
    // self-join, Jaccard + containment from exact integer counts
    query("d20_source_overlap", Dedup.sourceOverlap(_, _)) oracle
      s"""WITH tk AS (SELECT source, $Toks AS tk FROM documents),
         |gp AS (SELECT source, tk,
         |         unnest(range(1, greatest(len(tk) - 2, 0) + 1)) AS i FROM tk),
         |ss AS (SELECT DISTINCT source, $GramExpr AS sh FROM gp),
         |sizes AS (SELECT source, count(*) AS n FROM ss GROUP BY source),
         |inter AS (
         |  SELECT x.source AS src_a, y.source AS src_b, count(*) AS shared
         |  FROM ss x JOIN ss y ON x.sh = y.sh AND x.source < y.source
         |  GROUP BY 1, 2
         |)
         |SELECT src_a, src_b, shared,
         |  round(shared / (sa.n + sb.n - shared), 6) AS jaccard,
         |  round(shared / least(sa.n, sb.n), 6) AS containment
         |FROM inter JOIN sizes sa ON src_a = sa.source
         |           JOIN sizes sb ON src_b = sb.source
         |ORDER BY src_a, src_b""".stripMargin,

    query("d04_simhash", Dedup.simHash) oracle
      s"""WITH ${tkCte("")},
         |$ShCte,
         |$DictCte,
         |$HashCte,
         |votes AS (
         |  SELECT s.doc_id, h.i,
         |    sum(CASE WHEN ((h.a * d.sid + h.b) % 2147483647) % 2 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM sh s JOIN dict d ON s.sh = d.sh CROSS JOIN h
         |  GROUP BY 1, 2
         |)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
         |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    query("d04_simhash_pairs", Dedup.simHashPairs(_, _)) oracle
      s"""WITH ${tkCte("")},
         |$ShCte,
         |$DictCte,
         |h AS (SELECT i, 4097 + 7919*i AS a, 17 + 104729*i AS b FROM (SELECT unnest(range(0, 32)) AS i) hh),
         |votes AS (
         |  SELECT s.doc_id, h.i,
         |    sum(CASE WHEN ((h.a * d.sid + h.b) % 2147483647) % 2 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM sh s JOIN dict d ON s.sh = d.sh CROSS JOIN h
         |  GROUP BY 1, 2
         |),
         |fp AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM votes GROUP BY doc_id
         |),
         |bkt AS (SELECT doc_id, simhash, simhash // 65536 AS hi,
         |               simhash % 65536 AS lo FROM fp)
         |SELECT a, b, hamming FROM (
         |  SELECT x.doc_id AS a, y.doc_id AS b,
         |    CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
         |  FROM bkt x JOIN bkt y ON x.hi = y.hi AND x.doc_id < y.doc_id
         |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 2
         |  UNION
         |  SELECT x.doc_id AS a, y.doc_id AS b,
         |    CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
         |  FROM bkt x JOIN bkt y ON x.lo = y.lo AND x.doc_id < y.doc_id
         |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 2
         |) u ORDER BY a, b""".stripMargin,

    query("d04_simhash_pairs_hashed", Dedup.simHashPairsHashed(_, _)).specGated(
      Seq("graft.operators.SimHashParitySpec"),
      "the same xxhash64 shingle ids; the spec pins the exact-duplicate pairs " +
        "to the oracle-gated dictionary twin d04_simhash_pairs"),

    // Ground-truth canonicalization: exact-dup edges + ALL Jaccard>=0.6
    // pairs, clustered by a recursive transitive closure (DuckDB's CC),
    // canonical = min doc_id of the component — semantically what the
    // Spark pipeline computes, with LSH candidate recall the only
    // approximation (4x4 banding recall at j>=0.6 is the documented
    // trade; at the gate scale every qualifying pair is recalled, and
    // exact dups always collide in every band).
    query("d06_canonicalize", Dedup.canonicalize(_, _), resample = true) oracle
      s"""WITH RECURSIVE $CanonCtes
         |SELECT d.doc_id,
         |  coalesce(c.canonical_id, d.doc_id) AS canonical_id,
         |  coalesce(c.canonical_id, d.doc_id) <> d.doc_id AS is_duplicate
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // d37: the cluster-map artifact roundtrip — the Spark side writes
    // the session artifact (clusterMapWrite) and returns the parquet
    // READ-BACK; the oracle rebuilds the map from the base tables
    // (d06's recursive-CC SQL, sans decoration). Hash-green = build →
    // parquet → scan loses nothing, licensing the d08/d11/p06/p09
    // artifact consumption.
    query("d37_canon_artifact", Dedup.canonArtifactGate) oracle
      s"""WITH RECURSIVE $CanonCtes
         |SELECT d.doc_id,
         |  coalesce(c.canonical_id, d.doc_id) AS canonical_id
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // cluster-size histogram over d06's components (the dedup-run
    // observability rollup)
    query("d11_cluster_stats", Dedup.clusterStats(_, _), resample = true) oracle
      s"""WITH RECURSIVE $CanonCtes,
         |allc AS (
         |  SELECT d.doc_id, coalesce(c.canonical_id, d.doc_id) AS canonical_id
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |),
         |sz AS (
         |  SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM allc GROUP BY 1
         |)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin,

    // d06's clusters + t01's quality score: keep each cluster's
    // highest-quality member (quality desc, doc_id tiebreak).
    query("d08_canonical_best", Dedup.canonicalizeBest(_, _), resample = true) oracle
      s"""WITH RECURSIVE $CanonCtes,
         |allc AS (
         |  SELECT d.doc_id, coalesce(c.canonical_id, d.doc_id) AS canonical_id
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |),
         |q AS (
         |  SELECT doc_id,
         |    round(least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) *
         |      (1.0 - CAST(len(list_filter(tk, x -> x IN ('the','a','and','of','to','is','in'))) AS DOUBLE)
         |             / len(tk)), 6) AS quality
         |  FROM tk WHERE len(tk) > 0
         |),
         |r AS (
         |  SELECT a.doc_id, a.canonical_id,
         |    row_number() OVER (PARTITION BY a.canonical_id
         |                       ORDER BY q.quality DESC, a.doc_id) AS rn
         |  FROM allc a JOIN q ON a.doc_id = q.doc_id
         |),
         |k AS (SELECT canonical_id, doc_id AS keep_id FROM r WHERE rn = 1)
         |SELECT r.doc_id, r.canonical_id, k.keep_id, r.doc_id = k.keep_id AS keep
         |FROM r JOIN k ON r.canonical_id = k.canonical_id
         |ORDER BY r.doc_id""".stripMargin,

    // vec_id < 12800 mirrors embeddingNearDup's maxSample=256 id-prefix
    // cap (fixed-size sample; non-binding at the sf0.01 gate's 500 rows)
    query("d05_embed_neardup", Dedup.embeddingNearDup(_, _)) oracle
      s"""WITH ${embCte("vec_id % 50 = 0 AND vec_id < 12800")},
         |n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY 1),
         |d AS (
         |  SELECT ea.vec_id AS a, eb.vec_id AS b, sum(ea.x * eb.x) AS dp
         |  FROM e ea JOIN e eb ON ea.i = eb.i AND ea.vec_id < eb.vec_id
         |  GROUP BY 1, 2
         |)
         |SELECT a, b, round(dp / sqrt(na.nrm * nb.nrm), 6) AS cos
         |FROM d JOIN n na ON a = na.vec_id JOIN n nb ON b = nb.vec_id
         |WHERE round(dp / sqrt(na.nrm * nb.nrm), 6) >= 0.2
         |ORDER BY a, b""".stripMargin,

    // d05's corpus-scale twin: same exact-cosine verifier, but pair
    // candidates come from the s02 hyperplane-sign buckets over the
    // FULL corpus — nothing quadratic in corpus size. Because the pair
    // count grows with the corpus (unlike d05's fixed-size sample), the
    // verify dot/norm here are ORDER-PINNED: list_reduce folds
    // left-to-right, bit-identical to Spark's fold (verified on the
    // parquet floats), so round(cos, 6) and the threshold never sit on
    // an unordered-float-sum boundary. (Residual: Spark seeds its fold
    // with +0.0, list_reduce with the first product — they differ only
    // in the sign of an all-zero dot, which the >= 0.2 filter drops.)
    query("d13_embed_neardup_lsh", Dedup.embeddingNearDupLsh(_, _)) oracle
      s"""WITH ${embCte("TRUE")},
         |n AS (SELECT vec_id, list_reduce(
         |        list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
         |        (x, y) -> x + y) AS nrm
         |      FROM embeddings),
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
         |pairs AS (
         |  SELECT xa.vec_id AS a, xb.vec_id AS b, xa.bucket
         |  FROM bkt xa JOIN bkt xb ON xa.bucket = xb.bucket AND xa.vec_id < xb.vec_id
         |),
         |d AS (
         |  SELECT p.a, p.b, p.bucket, list_reduce(
         |    list_transform(list_zip(ea.embedding, eb.embedding),
         |      z -> z[1]::DOUBLE * z[2]::DOUBLE),
         |    (x, y) -> x + y) AS dp
         |  FROM pairs p
         |  JOIN embeddings ea ON ea.vec_id = p.a
         |  JOIN embeddings eb ON eb.vec_id = p.b
         |)
         |SELECT a, b, bucket, round(dp / sqrt(na.nrm * nb.nrm), 6) AS cos
         |FROM d JOIN n na ON a = na.vec_id JOIN n nb ON b = nb.vec_id
         |WHERE round(dp / sqrt(na.nrm * nb.nrm), 6) >= 0.2
         |ORDER BY a, b""".stripMargin,

    // d13 + hamming-1 multi-probe pair mining: the LEFT copy explodes
    // to {bucket} ∪ {bucket XOR 2^j} (pairwise distinct), so a pair at
    // bucket-hamming <= 1 matches probe == bucket exactly once — no
    // dedup needed; exact cosine verifies, with the same order-pinned
    // list_reduce fold as d13 (pair count grows with the corpus)
    query("d14_embed_neardup_multiprobe", Dedup.embeddingNearDupMultiProbe(_, _)) oracle
      s"""WITH ${embCte("TRUE")},
         |n AS (SELECT vec_id, list_reduce(
         |        list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
         |        (x, y) -> x + y) AS nrm
         |      FROM embeddings),
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
         |  SELECT vec_id, bucket,
         |    CASE WHEN j = 0 THEN bucket
         |         ELSE CAST(xor(bucket, 1 << (j - 1)) AS INT) END AS probe
         |  FROM bkt CROSS JOIN (SELECT unnest(range(0, 5)) AS j) js
         |),
         |pairs AS (
         |  SELECT xa.vec_id AS a, xb.vec_id AS b,
         |    xa.bucket AS bucket_a, xb.bucket AS bucket_b
         |  FROM probes xa JOIN bkt xb ON xa.probe = xb.bucket AND xa.vec_id < xb.vec_id
         |),
         |d AS (
         |  SELECT p.a, p.b, p.bucket_a, p.bucket_b, list_reduce(
         |    list_transform(list_zip(ea.embedding, eb.embedding),
         |      z -> z[1]::DOUBLE * z[2]::DOUBLE),
         |    (x, y) -> x + y) AS dp
         |  FROM pairs p
         |  JOIN embeddings ea ON ea.vec_id = p.a
         |  JOIN embeddings eb ON eb.vec_id = p.b
         |)
         |SELECT a, b, bucket_a, bucket_b, round(dp / sqrt(na.nrm * nb.nrm), 6) AS cos
         |FROM d JOIN n na ON a = na.vec_id JOIN n nb ON b = nb.vec_id
         |WHERE round(dp / sqrt(na.nrm * nb.nrm), 6) >= 0.2
         |ORDER BY a, b""".stripMargin,

    // d16: d12's delta-vs-history pattern in vector space — delta (odd
    // vec_id) probes history (even) through the shared hyperplane
    // buckets; order-pinned cosine verify; best match = highest rounded
    // cosine with min-id tiebreak
    query("d16_incremental_embed", Dedup.incrementalEmbedOverlap(_, _)) oracle
      s"""WITH ${embCte("TRUE")},
         |n AS (SELECT vec_id, list_reduce(
         |        list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
         |        (x, y) -> x + y) AS nrm
         |      FROM embeddings),
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
         |pairs0 AS (
         |  SELECT da.vec_id, da.bucket, hb.vec_id AS hid,
         |    round(list_reduce(list_transform(list_zip(ea.embedding, eb.embedding),
         |        z -> z[1]::DOUBLE * z[2]::DOUBLE), (x, y) -> x + y)
         |      / sqrt(na.nrm * nb.nrm), 6) AS cos
         |  FROM bkt da JOIN bkt hb ON da.bucket = hb.bucket
         |  JOIN embeddings ea ON ea.vec_id = da.vec_id
         |  JOIN embeddings eb ON eb.vec_id = hb.vec_id
         |  JOIN n na ON na.vec_id = da.vec_id
         |  JOIN n nb ON nb.vec_id = hb.vec_id
         |  WHERE da.vec_id % 2 = 1 AND hb.vec_id % 2 = 0
         |),
         |pairs AS (SELECT * FROM pairs0 WHERE cos >= 0.2),
         |r AS (
         |  SELECT vec_id, bucket, hid, cos,
         |    CAST(count(*) OVER (PARTITION BY vec_id) AS BIGINT) AS n_matches,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, hid) AS rn
         |  FROM pairs
         |)
         |SELECT vec_id, bucket, n_matches, hid AS best_match, cos AS best_cos
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // d15 SemDeDup: integer-grid cells (the s05 CTEs verbatim), pair
    // join bounded to same-cell mates, order-pinned exact cosine, and
    // the min-id keep policy — a vector is dropped iff ANY smaller-id
    // cluster-mate clears the threshold (the over-approximation of
    // keep-first; see the operator scaladoc)
    query("d15_semdedup", Dedup.semDedup(_, _)) oracle
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
         |cells AS (
         |  SELECT vec_id, cluster AS cell
         |  FROM (SELECT vec_id, cluster,
         |          row_number() OVER (PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn
         |        FROM d) r
         |  WHERE rn = 1
         |),
         |n AS (SELECT vec_id, list_reduce(
         |        list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
         |        (x, y) -> x + y) AS nrm
         |      FROM embeddings),
         |pairs AS (
         |  SELECT cb.vec_id AS b
         |  FROM cells ca JOIN cells cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
         |  JOIN embeddings ea ON ea.vec_id = ca.vec_id
         |  JOIN embeddings eb ON eb.vec_id = cb.vec_id
         |  JOIN n na ON na.vec_id = ca.vec_id
         |  JOIN n nb ON nb.vec_id = cb.vec_id
         |  WHERE round(list_reduce(list_transform(list_zip(ea.embedding, eb.embedding),
         |      z -> z[1]::DOUBLE * z[2]::DOUBLE), (x, y) -> x + y)
         |    / sqrt(na.nrm * nb.nrm), 6) >= 0.2
         |),
         |dups AS (SELECT b, count(*) AS n_dups FROM pairs GROUP BY 1)
         |SELECT c.vec_id, c.cell, COALESCE(d2.n_dups, 0) AS n_dups,
         |  COALESCE(d2.n_dups, 0) = 0 AS keep
         |FROM cells c LEFT JOIN dups d2 ON c.vec_id = d2.b
         |ORDER BY c.vec_id""".stripMargin,

    // d22: mutual-kNN canonicalize — the s16 top-3 edges, kept only
    // when BOTH endpoints list each other (the symmetric criterion
    // that keeps hub vectors from merging clusters) and the cosine
    // clears 0.2; undirected recursive closure (the d06 reach/comp
    // pattern — GraphX CC's min-label convention), isolated vectors
    // canonicalize to themselves
    query("d22_mutual_knn", Dedup.mutualKnnCanonicalize(_, _)) oracle
      s"""WITH RECURSIVE $KnnCtes,
         |topk AS (SELECT src, dst, cos FROM ranked WHERE rnk <= 3),
         |mut AS (
         |  SELECT x.src AS a, x.dst AS b FROM topk x JOIN topk y
         |    ON x.src = y.dst AND x.dst = y.src AND x.src < x.dst
         |  WHERE x.cos >= 0.2),
         |und AS (SELECT a, b FROM mut UNION SELECT b, a FROM mut),
         |reach(s, t) AS (
         |  SELECT a, b FROM und
         |  UNION
         |  SELECT r.s, u.b FROM reach r JOIN und u ON r.t = u.a
         |),
         |comp AS (SELECT s AS vec_id, least(s, min(t)) AS canonical_id
         |         FROM reach GROUP BY s)
         |SELECT v.vec_id, coalesce(comp.canonical_id, v.vec_id) AS canonical_id,
         |  coalesce(comp.canonical_id, v.vec_id) <> v.vec_id AS is_duplicate
         |FROM (SELECT vec_id FROM embeddings) v LEFT JOIN comp USING (vec_id)
         |ORDER BY v.vec_id""".stripMargin,

    // d25: the oracle is the BRUTE-FORCE distinct-string join — the
    // candidate split's losslessness is what the gate checks
    query("d25_edit_join", Dedup.editDistanceJoin(_, _)) oracle
      """WITH s AS (SELECT DISTINCT p_name AS s FROM part)
        |SELECT a.s AS sa, b.s AS sb,
        |  CAST(levenshtein(a.s, b.s) AS INT) AS dist
        |FROM s a JOIN s b ON a.s < b.s
        |WHERE levenshtein(a.s, b.s) <= 2
        |ORDER BY sa, sb""".stripMargin,

    // delta-vs-history overlap: the bloom prefilter on the Spark side
    // cannot change the result (no false negatives; false positives die
    // in the exact join), so the oracle is the plain shingle join
    query("d12_incremental_overlap", Dedup.incrementalOverlap(_, _)) oracle
      s"""WITH ${tkCte("")},
         |$ShCte,
         |hist AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 <> 0),
         |delta AS (SELECT doc_id, sh FROM sh WHERE doc_id % 10 = 0)
         |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
         |FROM delta d JOIN hist h ON d.sh = h.sh
         |GROUP BY 1 HAVING count(*) >= 5 ORDER BY d.doc_id""".stripMargin,

    // d21: the sharded-bloom prefilter is result-invariant exactly like
    // d12's broadcast bloom (per-shard false negatives impossible,
    // false positives die in the exact join) — SAME oracle
    query("d21_incremental_sharded", Dedup.incrementalOverlapSharded(_, _)) oracle
      s"""WITH ${tkCte("")},
         |$ShCte,
         |hist AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 <> 0),
         |delta AS (SELECT doc_id, sh FROM sh WHERE doc_id % 10 = 0)
         |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
         |FROM delta d JOIN hist h ON d.sh = h.sh
         |GROUP BY 1 HAVING count(*) >= 5 ORDER BY d.doc_id""".stripMargin,

    query("d07_decontaminate", TextAnalysis.decontaminate(_, _)) oracle
      s"""WITH ${tkCte("")},
         |$ShCte,
         |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0)
         |SELECT s.doc_id, count(*) AS n_overlap
         |FROM sh s JOIN bench b ON s.sh = b.sh
         |WHERE s.doc_id % 97 <> 0
         |GROUP BY 1 HAVING count(*) >= 5 ORDER BY doc_id""".stripMargin,
  )
}
