package graft.operators

import graft.OracleSql._
import graft.Query
import graft.Query.query

/** The p-family: corpus sampling, packing and data mixing. */
object SamplingQueries {

  // First 4 hex chars of md5(text) as an integer (the Sampling selection
  // key; Spark side uses conv(substring(md5, 1, 4), 16, 10)).
  private def hexBucketCte(from: String,
      cols: String = "doc_id, lang, source, text"): String =
    s"""b AS (
       |  SELECT $cols,
       |    CAST((((strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
       |         + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1)) * 16
       |         + (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1)) * 16
       |         + (strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1) AS BIGINT) AS hb
       |  FROM $from
       |)""".stripMargin

  private val HexBucketCte = hexBucketCte("documents")

  val all: Seq[Query] = Seq(
    // p18: UNIMAX budget allocation — closed-form integer water-fill
    // over the per-language counts: ascending (count, lang) order,
    // full iff n <= (budget − cum) // remaining, common cap for the
    // capped suffix, integer leftover explicit
    query("p18_unimax", Sampling.unimaxAlloc(_, _)) oracle
      """WITH n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
        |             CAST(count(*) AS BIGINT) AS nl FROM n),
        |st AS (
        |  SELECT n.lang, n.n_docs, CAST((t.total * 4) // 5 AS BIGINT) AS budget,
        |    t.nl, row_number() OVER (ORDER BY n.n_docs, n.lang) AS i,
        |    CAST(coalesce(sum(n.n_docs) OVER (ORDER BY n.n_docs, n.lang
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
        |  FROM n, t),
        |st2 AS (
        |  SELECT *, n_docs <= (budget - cum) // (nl - i + 1) AS is_full
        |  FROM st),
        |cp AS (
        |  SELECT CASE WHEN sum(CASE WHEN is_full THEN 1 ELSE 0 END) = max(nl)
        |              THEN NULL
        |              ELSE (max(budget) -
        |                    coalesce(sum(CASE WHEN is_full THEN n_docs END), 0))
        |                   // (max(nl) - sum(CASE WHEN is_full THEN 1 ELSE 0 END))
        |         END AS cap
        |  FROM st2),
        |al AS (
        |  SELECT st2.lang, st2.n_docs,
        |    CAST(CASE WHEN is_full THEN n_docs ELSE cp.cap END AS BIGINT) AS alloc,
        |    NOT is_full AS capped, st2.budget
        |  FROM st2, cp)
        |SELECT lang, n_docs, alloc, capped, budget,
        |  CAST(budget - sum(alloc) OVER () AS BIGINT) AS leftover
        |FROM al ORDER BY lang""".stripMargin,

    // p20: stratified 3-way split — seeded md5 ranks within language,
    // exact 80/10/10 quotas by largest remainder ACROSS the splits
    query("p20_split_quota", Sampling.splitQuota(_, _)) oracle
      """WITH d AS (SELECT lang, doc_id,
        |    md5('s0' || CAST(doc_id AS VARCHAR)) AS hkey FROM documents),
        |n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |st AS (
        |  SELECT lang, n, s.split, s.ord, s.f,
        |    CAST(n * s.f // 100 AS BIGINT) AS q0,
        |    CAST(n * s.f % 100 AS BIGINT) AS rem
        |  FROM n, (VALUES ('train', 1, 80), ('val', 2, 10),
        |           ('test', 3, 10)) AS s(split, ord, f)),
        |qt AS (
        |  SELECT lang, split, ord,
        |    q0 + CASE WHEN row_number() OVER (PARTITION BY lang
        |        ORDER BY rem DESC, ord)
        |      <= n - sum(q0) OVER (PARTITION BY lang) THEN 1 ELSE 0 END
        |      AS quota
        |  FROM st),
        |qp AS (SELECT lang,
        |    max(CASE WHEN split = 'train' THEN quota END) AS q_train,
        |    max(CASE WHEN split = 'val' THEN quota END) AS q_val
        |  FROM qt GROUP BY lang),
        |asg AS (
        |  SELECT d.lang,
        |    CASE WHEN rnk <= q_train THEN 'train'
        |         WHEN rnk <= q_train + q_val THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |      ORDER BY hkey, doc_id) AS rnk FROM d) d
        |  JOIN qp ON d.lang = qp.lang),
        |cnt AS (SELECT lang, split, CAST(count(*) AS BIGINT) AS n
        |        FROM asg GROUP BY 1, 2)
        |SELECT c.lang, c.split, c.n, q.quota
        |FROM cnt c JOIN qt q ON c.lang = q.lang AND c.split = q.split
        |ORDER BY c.lang, q.ord""".stripMargin,

    // p19: T=2 temperature mixture — exact isqrt (float floor + the
    // two-comparison correction) and largest-remainder allocation
    query("p19_temperature_mix", Sampling.temperatureMix(_, _)) oracle
      s"""WITH n AS (SELECT lang, CAST(sum(len($Toks)) AS BIGINT) AS tokens
         |  FROM documents GROUP BY lang),
         |s AS (SELECT lang, tokens,
         |    CAST(floor(sqrt(tokens)) AS BIGINT) AS s0 FROM n),
         |iw AS (SELECT lang, tokens,
         |    s0 - (CASE WHEN s0 * s0 > tokens THEN 1 ELSE 0 END)
         |       + (CASE WHEN (s0 + 1) * (s0 + 1) <= tokens THEN 1 ELSE 0 END)
         |      AS w FROM s),
         |tw AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM iw),
         |base AS (SELECT lang, tokens, w,
         |    CAST(100000 * w // tw AS BIGINT) AS alloc0,
         |    CAST(100000 * w % tw AS BIGINT) AS rem
         |  FROM iw, tw),
         |lo AS (SELECT CAST(100000 - sum(alloc0) AS BIGINT) AS r FROM base),
         |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rk
         |       FROM base)
         |SELECT lang, tokens, w, alloc0, rem,
         |  CAST(alloc0 + CASE WHEN rk <= r THEN 1 ELSE 0 END AS BIGINT) AS alloc
         |FROM rk, lo ORDER BY lang""".stripMargin,

    // p17: weighted fair interleave — within-source seeded ranks,
    // virtual time r·(12 // w), global order (v, source, doc_id)
    query("p17_interleave", Sampling.weightedInterleave(_, _)) oracle
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(1 + (CAST(regexp_extract(source, '[0-9]+') AS INT) % 4)
        |      AS INT) AS w
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, w,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5('il0:' || CAST(doc_id AS VARCHAR)), doc_id)
        |      AS BIGINT) AS r
        |  FROM d),
        |vt AS (SELECT *, CAST(r * (12 // w) AS BIGINT) AS v FROM r)
        |SELECT CAST(row_number() OVER (ORDER BY v, source, doc_id)
        |    AS BIGINT) AS pos,
        |  doc_id, source, w, r, v
        |FROM vt ORDER BY pos""".stripMargin,

    // p12: the s11 assignment + per-cluster hash-order quota
    query("p12_cluster_sample", Sampling.clusterSample(_, _)) oracle
      s"""WITH ${embCte("TRUE")},
         |p AS (SELECT vec_id, i AS pos, CAST(round(x * 1e6, 0) AS BIGINT) AS xq FROM e),
         |${corpusLloydCtes(8, 2)},
         |fin AS (
         |  SELECT p.vec_id, c.cluster,
         |    CAST(sum((p.xq - c.cq) * (p.xq - c.cq)) AS BIGINT) AS dist2q
         |  FROM p JOIN cb2 c ON p.pos = c.pos GROUP BY 1, 2
         |),
         |asg AS (SELECT vec_id, cluster FROM (
         |  SELECT vec_id, cluster,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2q, cluster) AS rn
         |  FROM fin) r WHERE rn = 1),
         |rk AS (
         |  SELECT cluster, vec_id,
         |    row_number() OVER (PARTITION BY cluster
         |      ORDER BY md5('cs:' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |  FROM asg
         |)
         |SELECT cluster, CAST(rn AS INT) AS rn, vec_id
         |FROM rk WHERE rn <= 20 ORDER BY cluster, rn""".stripMargin,

    // p23: distribution-matched subsampling — cross-multiplied exact
    // keep ratios per (source, length bucket), p01 hash admission
    query("p23_match_distribution", Sampling.matchDistribution(_, _)) oracle
      s"""WITH b AS (SELECT doc_id, source, n_chars // 100 AS bucket,
         |    ${hexIntSql("md5(text)", 4)} AS h16 FROM documents),
         |r AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ref_n FROM b
         |  WHERE source = 'src0' GROUP BY 1),
         |rt AS (SELECT CAST(sum(ref_n) AS BIGINT) AS ref_tot FROM r),
         |s AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS src_n
         |  FROM b WHERE source <> 'src0' GROUP BY 1, 2),
         |st AS (SELECT source, CAST(sum(src_n) AS BIGINT) AS src_tot
         |  FROM s GROUP BY 1),
         |ra AS (SELECT s.source, s.bucket,
         |    least(1000000, coalesce(r.ref_n, 0) * st.src_tot * 1000000 //
         |      (rt.ref_tot * s.src_n)) AS keep_ppm
         |  FROM s LEFT JOIN r ON r.bucket = s.bucket
         |  JOIN st ON st.source = s.source CROSS JOIN rt)
         |SELECT doc_id, source, bucket, keep_ppm FROM (
         |  SELECT b.doc_id, b.source, b.bucket,
         |    CAST(ra.keep_ppm AS BIGINT) AS keep_ppm
         |  FROM b JOIN ra ON ra.source = b.source AND ra.bucket = b.bucket
         |  WHERE b.h16 * 1000000 < ra.keep_ppm * 65536
         |  UNION ALL
         |  SELECT doc_id, source, bucket, CAST(1000000 AS BIGINT) AS keep_ppm
         |  FROM b WHERE source = 'src0') u
         |ORDER BY doc_id""".stripMargin,

    // p13: length-bucketed batch manifest — fixed power-of-two bands,
    // per-band hash-order ranks, integer DIV/mod batch arithmetic
    query("p13_length_batches", Sampling.lengthBatches(_, _)) oracle
      s"""WITH n AS (
         |  SELECT doc_id, CAST(len($Toks) AS BIGINT) AS n_tokens FROM documents
         |),
         |b AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(CASE WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32
         |              WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
         |              ELSE 256 END AS INT) AS band
         |  FROM n WHERE n_tokens > 0
         |),
         |r AS (
         |  SELECT band, doc_id, n_tokens,
         |    row_number() OVER (PARTITION BY band
         |      ORDER BY md5('lb:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |  FROM b
         |)
         |SELECT band, CAST((rn - 1) // 8 AS BIGINT) AS batch_id,
         |  CAST((rn - 1) % 8 AS INT) AS slot, doc_id, n_tokens
         |FROM r ORDER BY band, batch_id, slot""".stripMargin,

    // p14: strided token-window chunking; starts 1, 1+24, … while <= n
    // (greatest(n,1) so an empty token list still yields one chunk)
    query("p14_chunk_windows", Sampling.chunkStride(_, _)) oracle
      s"""WITH ${tkCte("")},
         |c AS (
         |  SELECT doc_id, tk,
         |    unnest(generate_series(1, greatest(len(tk), 1), 24)) AS start
         |  FROM tk
         |)
         |SELECT doc_id, CAST((start - 1) // 24 AS INT) AS chunk_idx,
         |  CAST(len(list_slice(tk, start, start + 31)) AS BIGINT) AS n_tokens,
         |  array_to_string(list_slice(tk, start, start + 31), ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // p15: ticket expansion replayed literally — per-doc
    // generate_series(1, w) lateral, the identical md5 ticket keys,
    // min per doc, rank over the full key order then LIMIT (same
    // order ⇒ same top-m as Spark's TakeOrdered-then-rank)
    query("p15_weighted_sample", Sampling.weightedSample(_, _)) oracle
      """WITH w AS (
        |  SELECT doc_id,
        |    CAST(greatest(least((n_chars + 99) // 100, 20), 1) AS INT) AS w
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, w,
        |    md5('wt:' || CAST(doc_id AS VARCHAR) || ':' || CAST(g AS VARCHAR)) AS tkey
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, w)) AS g FROM w) x),
        |k AS (SELECT doc_id, w, min(tkey) AS draw FROM t GROUP BY 1, 2)
        |SELECT CAST(row_number() OVER (ORDER BY draw, doc_id) AS INT) AS rn,
        |  doc_id, w, draw
        |FROM k ORDER BY draw, doc_id LIMIT 50""".stripMargin,

    // p16: curriculum order — bucket-major (length terciles by fixed
    // thresholds) with the seeded md5 shuffle inside each bucket; one
    // composite-key row_number IS the sharded-rank result
    query("p16_curriculum", Sampling.curriculumOrder(_, _)) oracle
      """WITH b AS (
        |  SELECT doc_id, n_chars,
        |    CAST(CASE WHEN n_chars <= 250 THEN 1
        |              WHEN n_chars <= 400 THEN 2 ELSE 3 END AS INT) AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket, n_chars,
        |  CAST(row_number() OVER (
        |    ORDER BY bucket, md5('cur0:' || CAST(doc_id AS VARCHAR)), doc_id)
        |    AS BIGINT) AS pos
        |FROM b ORDER BY pos""".stripMargin,

    query("p01_hash_sample", Sampling.hashSample(_, _)) oracle
      s"""WITH $HexBucketCte
         |SELECT doc_id, lang, hb % 100 AS bucket
         |FROM b WHERE hb % 100 < 20 ORDER BY doc_id""".stripMargin,

    // p07: concat-and-wrap packing per content-hash shard — exclusive
    // integer prefix sum in doc_id order, chunking via // (floor
    // division; CAST(double AS INT) would ROUND). Window sum returns
    // HUGEINT in DuckDB — cast back to BIGINT for schema parity.
    query("p07_pack_sequences", Sampling.packSequences(_, _)) oracle
      s"""WITH $HexBucketCte,
         |t AS (SELECT doc_id, CAST(hb % 8 AS INT) AS shard,
         |        CAST(len($Toks) AS BIGINT) AS n_tokens
         |      FROM b),
         |g AS (SELECT doc_id, shard, n_tokens,
         |        CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS g_start
         |      FROM t WHERE n_tokens > 0)
         |SELECT shard, doc_id, n_tokens, g_start,
         |  CAST(g_start // 256 AS BIGINT) AS seq_id,
         |  CAST(g_start % 256 AS BIGINT) AS seq_off,
         |  CAST((g_start + n_tokens - 1) // 256 - g_start // 256 + 1 AS BIGINT) AS n_seqs
         |FROM g ORDER BY shard, doc_id""".stripMargin,

    // p08: the composed pipeline — d01 keepers ∩ t16 keeps, packed with
    // the p07 machinery; every CTE is the already-green idiom of its
    // stage
    query("p08_filtered_pack", Sampling.filteredPack(_, _)) oracle
      s"""WITH $HexBucketCte,
         |dk AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |tkq AS (SELECT doc_id, lang, $Toks AS tk FROM documents),
         |st AS (
         |  SELECT doc_id, lang,
         |    CAST(len(tk) AS INT) AS n_tokens,
         |    CAST(len(list_filter(tk, x -> x IN ('the','a','and','of','to','is','in'))) AS INT) AS n_stop,
         |    CAST(list_sum(list_transform(tk, x -> length(x))) AS INT) AS tok_chars
         |  FROM tkq
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
         |  SELECT doc_id,
         |    4.0e0 * quality - 0.5e0 * stop_ratio + 0.25e0 * (avg_tok_len - 4.0e0) +
         |    0.3e0 * (CASE WHEN lang = 'en' THEN 1.0e0 ELSE 0.0e0 END) - 1.0e0 AS logit
         |  FROM f
         |),
         |qk AS (SELECT doc_id FROM l
         |       WHERE round(logit / (1.0e0 + abs(logit)), 6) >= 0.25e0),
         |sel AS (
         |  SELECT b.doc_id, CAST(b.hb % 8 AS INT) AS shard,
         |    CAST(len($Toks) AS BIGINT) AS n_tokens
         |  FROM b JOIN dk ON b.doc_id = dk.doc_id
         |         JOIN qk ON b.doc_id = qk.doc_id),
         |g AS (SELECT doc_id, shard, n_tokens,
         |        CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS g_start
         |      FROM sel WHERE n_tokens > 0)
         |SELECT shard, doc_id, n_tokens, g_start,
         |  CAST(g_start // 256 AS BIGINT) AS seq_id,
         |  CAST(g_start % 256 AS BIGINT) AS seq_off,
         |  CAST((g_start + n_tokens - 1) // 256 - g_start // 256 + 1 AS BIGINT) AS n_seqs
         |FROM g ORDER BY shard, doc_id""".stripMargin,

    query("p02_stratified_sample", Sampling.stratifiedSample(_, _)) oracle
      """WITH r AS (
        |  SELECT lang, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS INT) AS rn
        |  FROM documents
        |)
        |SELECT lang, rn, doc_id FROM r WHERE rn <= 30 ORDER BY lang, rn""".stripMargin,

    query("p03_token_budget", Sampling.tokenBudget(_, _)) oracle
      s"""WITH $HexBucketCte,
         |t AS (
         |  SELECT doc_id, md5(text) AS hkey, CAST(hb % 8 AS INT) AS shard,
         |    CAST(len($Toks) AS INT) AS n_tokens
         |  FROM b
         |),
         |c AS (
         |  SELECT shard, doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY hkey, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM t
         |)
         |SELECT shard, doc_id, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= 2000 ORDER BY shard, cum_tokens, doc_id""".stripMargin,

    // dedup-then-pack composition: the p03 budget pack, but only over
    // d06's canonical keepers (one survivor per near-dup cluster)
    query("p06_dedup_budget", Sampling.dedupBudget(_, _), resample = true) oracle
      s"""WITH RECURSIVE $CanonCtes,
         |keep AS (
         |  SELECT d.doc_id, d.text FROM documents d
         |  LEFT JOIN comp c ON d.doc_id = c.doc_id
         |  WHERE coalesce(c.canonical_id, d.doc_id) = d.doc_id
         |),
         |${hexBucketCte("keep", "doc_id, text")},
         |t AS (
         |  SELECT doc_id, md5(text) AS hkey, CAST(hb % 8 AS INT) AS shard,
         |    CAST(len($Toks) AS INT) AS n_tokens
         |  FROM b
         |),
         |cum AS (
         |  SELECT shard, doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY hkey, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM t
         |)
         |SELECT shard, doc_id, n_tokens, cum_tokens FROM cum
         |WHERE cum_tokens <= 2000 ORDER BY shard, cum_tokens, doc_id""".stripMargin,

    // p09: split decision hashes the CANONICAL CLUSTER id (md5 of its
    // decimal string — identical bytes both engines), so near-dup
    // cluster members land in one split together; comp is the shared
    // d06 recursive-CTE closure
    query("p09_cluster_split", Sampling.clusterSplit(_, _), resample = true) oracle
      s"""WITH RECURSIVE $CanonCtes,
         |cmap AS (
         |  SELECT d.doc_id, coalesce(c.canonical_id, d.doc_id) AS canonical_id
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |)
         |SELECT doc_id, canonical_id,
         |  CAST(${hexIntSql("md5(CAST(canonical_id AS VARCHAR))", 4)} % 100 AS INT) AS bucket,
         |  CASE WHEN ${hexIntSql("md5(CAST(canonical_id AS VARCHAR))", 4)} % 100 < 10 THEN 'test'
         |       WHEN ${hexIntSql("md5(CAST(canonical_id AS VARCHAR))", 4)} % 100 < 20 THEN 'val'
         |       ELSE 'train' END AS split
         |FROM cmap ORDER BY doc_id""".stripMargin,

    // p10: per-source quality-ranked cap — the t16 score chain verbatim,
    // then rank within source by (score desc, doc_id)
    query("p10_source_cap", Sampling.sourceCap(_, _)) oracle
      s"""WITH base AS (SELECT doc_id, lang, $Toks AS tk FROM documents),
         |st AS (
         |  SELECT doc_id, lang,
         |    CAST(len(tk) AS INT) AS n_tokens,
         |    CAST(len(list_filter(tk, x -> x IN ('the','a','and','of','to','is','in'))) AS INT) AS n_stop,
         |    CAST(list_sum(list_transform(tk, x -> length(x))) AS INT) AS tok_chars
         |  FROM base
         |),
         |f AS (
         |  SELECT doc_id,
         |    round(CAST(tok_chars AS DOUBLE) / n_tokens, 6) AS avg_tok_len,
         |    round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
         |    round(least(1.0e0, CAST(n_tokens AS DOUBLE) / 100.0e0) *
         |          (1.0e0 - CAST(n_stop AS DOUBLE) / n_tokens), 6) AS quality,
         |    lang
         |  FROM st WHERE n_tokens > 0
         |),
         |l AS (
         |  SELECT doc_id,
         |    4.0e0 * quality - 0.5e0 * stop_ratio + 0.25e0 * (avg_tok_len - 4.0e0) +
         |    0.3e0 * (CASE WHEN lang = 'en' THEN 1.0e0 ELSE 0.0e0 END) - 1.0e0 AS logit
         |  FROM f
         |),
         |sc AS (SELECT doc_id, round(logit / (1.0e0 + abs(logit)), 6) AS score FROM l),
         |r AS (
         |  SELECT d.source, sc.doc_id, sc.score,
         |    row_number() OVER (PARTITION BY d.source
         |                       ORDER BY sc.score DESC, sc.doc_id) AS rn
         |  FROM sc JOIN documents d ON sc.doc_id = d.doc_id
         |)
         |SELECT source, CAST(rn AS INT) AS rn, doc_id, score
         |FROM r WHERE rn <= 15 ORDER BY source, rn""".stripMargin,

    // p11: seeded deterministic shuffle — one global hash order, the
    // engine-side sharded-rank plan must reproduce it exactly
    query("p11_seeded_shuffle", Sampling.seededShuffle(_, _)) oracle
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id)
        |    AS BIGINT) AS pos
        |FROM documents ORDER BY pos""".stripMargin,

    // weights from sqrt (IEEE-exact both engines), powered counts
    // quantized to 1e-6-grid integers before the order-free sum
    query("p04_mixture_weights", Sampling.mixtureWeights) oracle
      s"""WITH t AS (
         |  SELECT source, CAST(sum(len($Toks)) AS BIGINT) AS tokens
         |  FROM documents GROUP BY source
         |),
         |p AS (SELECT source, tokens,
         |        CAST(round(sqrt(tokens) * 1e6, 0) AS BIGINT) AS pq FROM t),
         |s AS (SELECT CAST(sum(pq) AS BIGINT) AS tot FROM p)
         |SELECT source, tokens, round(pq / tot, 6) AS weight
         |FROM p, s ORDER BY source""".stripMargin,

    // p22: the data-constrained repetition plan — p04's pq grid, exact
    // ppm weights, floor token allocation, floor-ppm epochs, >4-epoch
    // cap flag
    query("p22_epoch_schedule", Sampling.epochSchedule(_, _)) oracle
      s"""WITH t AS (
         |  SELECT source, CAST(sum(len($Toks)) AS BIGINT) AS tokens
         |  FROM documents GROUP BY source
         |),
         |p AS (SELECT source, tokens,
         |        CAST(round(sqrt(tokens) * 1e6, 0) AS BIGINT) AS pq FROM t),
         |s AS (SELECT CAST(sum(pq) AS BIGINT) AS tot FROM p)
         |SELECT source, tokens, pq,
         |  pq * 1000000 // tot AS weight_ppm,
         |  100000 * pq // tot AS allocated,
         |  (100000 * pq // tot) * 1000000 // tokens AS epochs_ppm,
         |  (100000 * pq // tot) * 1000000 // tokens > 4000000 AS over_cap
         |FROM p, s ORDER BY source""".stripMargin,

    // p21: the composed pipeline — d01 keepers ∩ t16 keeps, per-source
    // survivor counts/tokens, floor-ppm shares; left joins keep
    // zero-survivor sources visible
    query("p21_clean_mixture", Sampling.cleanMixture) oracle
      s"""WITH k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |base AS (SELECT doc_id, lang, $Toks AS tk FROM documents),
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
         |  SELECT doc_id,
         |    4.0e0 * quality - 0.5e0 * stop_ratio + 0.25e0 * (avg_tok_len - 4.0e0) +
         |    0.3e0 * (CASE WHEN lang = 'en' THEN 1.0e0 ELSE 0.0e0 END) - 1.0e0 AS logit
         |  FROM f
         |),
         |q AS (SELECT doc_id FROM l
         |      WHERE round(logit / (1.0e0 + abs(logit)), 6) >= 0.25e0),
         |sv AS (SELECT d.source, CAST(len($Toks) AS BIGINT) AS n
         |       FROM documents d JOIN k USING (doc_id) JOIN q USING (doc_id)),
         |raw AS (SELECT source, CAST(count(*) AS BIGINT) AS n_raw
         |        FROM documents GROUP BY 1),
         |dd AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_dedup
         |       FROM documents d JOIN k USING (doc_id) GROUP BY 1),
         |fin AS (SELECT source, CAST(count(*) AS BIGINT) AS n_final,
         |          CAST(sum(n) AS BIGINT) AS tokens_final
         |        FROM sv GROUP BY 1),
         |tot AS (SELECT CAST(sum(tokens_final) AS BIGINT) AS tot FROM fin)
         |SELECT raw.source, n_raw,
         |  CAST(COALESCE(n_dedup, 0) AS BIGINT) AS n_dedup,
         |  CAST(COALESCE(n_final, 0) AS BIGINT) AS n_final,
         |  CAST(COALESCE(tokens_final, 0) AS BIGINT) AS tokens_final,
         |  CAST(COALESCE(tokens_final, 0) AS BIGINT) * 1000000 // tot AS share_ppm
         |FROM raw LEFT JOIN dd USING (source) LEFT JOIN fin USING (source), tot
         |ORDER BY raw.source""".stripMargin,

    // mixture applied: integer budget arithmetic end-to-end (the
    // 1e-6-grid weight recovered as an exact integer, budgets via
    // integer division) so both engines pick the identical boundary doc
    query("p05_apply_mixture", Sampling.applyMixture(_, _)) oracle
      s"""WITH $HexBucketCte,
         |t AS (
         |  SELECT source, CAST(sum(len($Toks)) AS BIGINT) AS tokens
         |  FROM documents GROUP BY source
         |),
         |p AS (SELECT source,
         |        CAST(round(sqrt(tokens) * 1e6, 0) AS BIGINT) AS pq FROM t),
         |s AS (SELECT CAST(sum(pq) AS BIGINT) AS tot FROM p),
         |wgt AS (SELECT source,
         |          CAST(round(round(pq / tot, 6) * 1e6, 0) AS BIGINT) AS wq
         |        FROM p, s),
         |bud AS (SELECT source,
         |          CAST((wq * 40000) // (1000000 * 4) AS BIGINT) AS shard_budget
         |        FROM wgt),
         |d AS (
         |  SELECT doc_id, source, md5(text) AS hkey, CAST(hb % 4 AS INT) AS shard,
         |    CAST(len($Toks) AS INT) AS n_tokens
         |  FROM b
         |),
         |c AS (
         |  SELECT source, shard, doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY hkey, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM d
         |)
         |SELECT c.source, shard, doc_id, n_tokens, cum_tokens
         |FROM c JOIN bud ON c.source = bud.source
         |WHERE cum_tokens <= shard_budget
         |ORDER BY c.source, shard, cum_tokens, doc_id""".stripMargin,
  )
}
