package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Machine-checked plan audit for the headline queries — the properties
  * that make these plans survive a 100× scale-up, asserted so a
  * refactor can't silently regress them:
  *
  *  - scans prune columns and push filters (q01);
  *  - dimension joins broadcast (q06);
  *  - no plan contains a cartesian product or a single-partition
  *    exchange (except a final LIMIT's singlePartition collect, which
  *    is bounded by k);
  *  - map-only operators stay map-only (t01: zero exchanges).
  */
class PlanAuditSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q01 scan prunes to referenced columns and pushes the date filter") {
    val p = plan("q01_pricing_summary")
    p should include("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate")
    // ReadSchema must not contain unreferenced wide columns
    p should not include "l_comment"
    p should not include "l_shipinstruct"
  }

  test("q06 joins the part dimension via broadcast, not shuffle") {
    val p = plan("q06_reassemble_join")
    p should include("BroadcastHashJoin")
  }

  test("s01 broadcasts the tiny query side against the candidate corpus") {
    val p = plan("s01_ann_bruteforce")
    p should include("BroadcastNestedLoopJoin")
    p should not include "CartesianProduct"
  }

  test("o12 prunes the PBF scan to referenced columns (no tags/geometry decode)") {
    // both osm-pbf BatchScans in the latest-versions plan must carry
    // pruned schemas — lat/lon/tags/nds/members are never referenced,
    // so the reader must never convert them (per-column extractors)
    val p = plan("o12_pbf_latest_versions")
    p should include("BatchScan osm-pbf")
    p should not include "tags#"
    p should not include "members#"
    p should not include "nds#"
    p should not include "lat#"
    p should not include "lon#"
  }

  test("d21 routes the sharded probe by shard key (no broadcast of all blooms)") {
    // the delta side must shuffle by the shard column into the
    // mapPartitions probe — the whole point is that each task loads
    // only its own shards' filters; the funnel audit below separately
    // guarantees no single-partition exchange anywhere in the plan
    val p = plan("d21_incremental_sharded")
    p should include("REPARTITION_BY_NUM")
    p should include("MapPartitions")
  }

  test("no gate query plans a cartesian product") {
    // d02/d05 pair joins carry an a<b condition into a broadcast-nested-
    // loop join; a CartesianProduct node would mean the condition fell off
    for (name <- Seq("d02_ngram_jaccard", "d05_embed_neardup",
        "d13_embed_neardup_lsh", "d14_embed_neardup_multiprobe",
        "d15_semdedup", "d16_incremental_embed", "s10_ann_pq",
        "d03_minhash_lsh", "d04_simhash_pairs",
        "q28_asof_join", "q29_range_join", "q35_interval_attribution",
        "q36_unattributed_views"))
      withClue(name) { plan(name) should not include "CartesianProduct" }
  }

  test("no gate query funnels data through a single-partition exchange") {
    // Exchange SinglePartition is only acceptable where the rows are
    // bounded before the exchange: a global LIMIT (q19), a grand-total
    // aggregate finalization (q14 — one partial count row per task), or
    // a normalizing sum over per-GROUP aggregates of a tiny key space
    // (p04 — one row per source, source cardinality is a corpus
    // constant, not corpus-proportional; p05 inherits exactly p04's
    // normalizer on its broadcast budgets side, same bound; t11 — the
    // BM25 corpus constants N/total-tokens/per-term-df finalize one
    // partial row per task into a single 1-row broadcast; q31 — the
    // uncorrelated scalar threshold subquery is a grand-total average
    // of integer cents, one partial row per task; t13 — the two slice
    // token totals finalize one partial sum row per task into 1-row
    // broadcasts, the same shape as t11's corpus constants).
    // p11 — the sharded-rank offsets side: ONE count row per range
    // partition flows into the running-sum window, so the single-
    // partition exchange carries <= spark.sql.shuffle.partitions rows —
    // a cluster constant, not corpus-proportional (the q32 offsets
    // shape, with no grouping key to hash-partition by).
    // t20 — the vocabulary size V is a grand-total count over the
    // unigram aggregate: the exchange's child is
    // HashAggregate(partial_count(1)) — ONE partial-count row per task
    // — finalized into a 1-row broadcast (verified by plan dump this
    // round; the t11/q31 corpus-constant shape).
    // t23 — three bounded shapes, each already vetted elsewhere: the
    // reference-vocab V count and the doc total (t20's partial-count-
    // per-task grand totals, 1-row broadcasts) and the sharded-rank
    // offsets running sum (p11's shape: ONE count row per range
    // partition, <= shuffle-partitions rows through the exchange).
    // t26 — two bounded shapes: the final heavy-hitter rank is a
    // global window over the CANDIDATE rows only (t07's top-20, a
    // parameter k — the q19 LIMIT bound, arriving via TakeOrdered),
    // and t07's own TakeOrderedAndProject feeds it (per-partition
    // top-k, k rows per partition through the exchange).
    // q39 — eight grand-total scalar aggregates (one per profiled
    // column): each finalization is the q14 shape — ONE partial
    // aggregate row per task through the exchange, never data rows.
    // q40 — q39's companion: per relationship, the stats aggregate
    // and the orphan count both finalize ONE partial aggregate row
    // per task (the orphan side's exchange child is the anti-join's
    // partial count, not key rows); the audit output itself is seven
    // constant rows.
    // q45 — the per-step user totals are grand-total count
    // finalizations over the per-user anchor aggregates (the q14
    // shape: one partial-count row per task through each exchange);
    // the funnel output itself is |steps| constant rows.
    // t27 — the corpus token total N is t20's V shape exactly: the
    // exchange's child is HashAggregate(partial_count(1)), ONE row
    // per task, finalized into the 1-row broadcast the PMI scale
    // multiplies by; the top-50 itself arrives via TakeOrdered.
    // p16 — the sharded-rank offsets running sum, p11's shape
    // verbatim (ONE count row per range partition through the
    // exchange, <= shuffle-partitions rows, a cluster constant).
    // q47 — two bounded shapes: the sharded-rank offsets running sum
    // (p11's shape again — ONE count row per range partition through
    // the exchange) and the grand-total n for the target ranks (q14's
    // shape — one partial-count row per task into a 1-row broadcast).
    // t29 — the reference-slice token total Nref is t20's V shape:
    // the exchange's child is HashAggregate(partial_count(1)), ONE
    // row per task, finalized into the 1-row broadcast the backoff
    // floor divides by (verified by plan dump this round).
    // p17 — the global interleave pass' sharded-rank offsets running
    // sum, p11's shape verbatim (ONE count row per range partition
    // through the exchange, <= shuffle-partitions rows, a cluster
    // constant; the within-source pass' offsets window is partitioned
    // by source and never single-partition; verified by plan dump
    // this round).
    // p18 — every window (water-fill rank/prefix-sum, the final
    // leftover sum) runs on the per-LANGUAGE aggregate frame: one row
    // per language, language cardinality is a corpus constant — p04's
    // tiny-key-space bounded shape exactly.
    // t32 — the max(doc_id)+1 threshold scalar: every SinglePartition
    // exchange in the plan has HashAggregate(partial_max(doc_id)) as
    // its direct child — ONE partial-max row per task into the 1-row
    // frame the 10 thresholds explode from (t20's V shape; verified
    // by plan dump this round).
    // q50 — the global-mean scalar: the plan's one SinglePartition
    // exchange has HashAggregate(partial_sum(cents), partial_count(1))
    // as its direct child — one row per task into the 1-row broadcast
    // mu frame (verified by plan dump this round).
    // p19 — every SinglePartition exchange sits on the per-LANGUAGE
    // aggregate frame (one row per language, p04/p18's tiny-key-space
    // bound): the remainder-rank window's input is that frame after
    // two 1-row broadcast joins, and the three scalar sums (tw,
    // Σalloc0) are q14-shape partial-sum-per-task finalizations whose
    // child projects the |langs|-row frame (verified by plan dump
    // this round).
    // s32 — the two index-size scalars: each SinglePartition exchange
    // has HashAggregate(partial_sum) over the cached per-CELL count
    // frame as its direct child — k rows (a parameter) per side into
    // 1-row broadcasts (verified by plan dump this round; the
    // p18/p19 tiny-key-space bound).
    // t35 — the bigram-type-count scalar B: the plan's one
    // SinglePartition exchange has HashAggregate(partial_count(1))
    // over the CACHED bigram table as its direct child — one partial
    // row per task into the 1-row broadcast the continuation
    // probability divides by (t20's V shape; verified by plan dump
    // this round).
    // s34 — the corpus-wide purity totals: the plan's one
    // SinglePartition exchange has HashAggregate(partial_sum(maj_cnt),
    // partial_sum(n)) over the CACHED k-row per-cluster frame as its
    // direct child — k rows (a parameter) per task into the 1-row
    // broadcast overall_ppm divides by (s32's tiny-key-space bound;
    // verified by plan dump this round).
    // t38 — the N/N_1 totals: the plan's one SinglePartition exchange
    // has HashAggregate(partial_sum(r·n_r), partial_sum(CASE r=1)) over
    // the CACHED count-histogram frame as its direct child —
    // O(log corpus) rows per task into the 1-row broadcast p0 divides
    // by (verified by plan dump this round).
    // p22 — the mixture normalizer Σpq: the plan's one SinglePartition
    // exchange has HashAggregate(partial_sum(pq)) over the CACHED
    // |sources|-row frame as its direct child — p04's allowlisted
    // shape (verified by plan dump this round).
    // t41 — the corpus doc count n: the plan's one SinglePartition
    // exchange has HashAggregate(partial_count(1)) over the CACHED
    // documents frame as its direct child — one partial row per task
    // into the 1-row broadcast the dispersion divides by (q14's
    // shape; verified by plan dump this round).
    // s35 — inherits s34's overall-purity scalar (the component
    // operator's allowlisted shape, same plan by the one-definition
    // rule; verified by plan dump this round: partial-agg over a
    // cached k-row frame into a 1-row broadcast).
    // t40 — the Na/Nb totals: the plan's one SinglePartition exchange
    // has HashAggregate(partial_sum(a), partial_sum(b)) over the
    // CACHED vocabulary-sized count frame as its direct child — one
    // partial row per task into the 1-row broadcast the contingency
    // margins come from (t38's shape; verified by plan dump this
    // round).
    // p21 — the final-token total: the plan's one SinglePartition
    // exchange has HashAggregate(partial_sum(tokens_final)) over the
    // CACHED per-source frame as its direct child — |sources| rows (a
    // parameter) per task into the 1-row broadcast the shares divide
    // by (p04's shape; verified by plan dump this round).
    // q55 — the total-fanout scalar: the plan's one SinglePartition
    // exchange has HashAggregate(partial_sum(fanout)) as its direct
    // child — ONE partial-sum row per task into the 1-row broadcast
    // the ppm shares divide by (q14's shape; verified by plan dump
    // this round). The top-k itself arrives via TakeOrdered, and the
    // rank window sees only those k rows (t26's bound).
    // q61 — three SinglePartition exchanges, all bounded (verified by
    // plan dump this round): the offsets pass's exchange has the
    // per-pid HashAggregate(count, sum(cents)) as its direct child —
    // <= shuffle-partitions rows (t23's offsets shape) into the
    // Sort+Window running sum; the (n, s0) totals exchange has
    // HashAggregate(partial_count, partial_sum) over the CACHED local
    // frame as its child — one partial row per task into the 1-row
    // broadcast; the Gini exchange has HashAggregate(
    // partial_sum(rnk*cents), partial_max) over the CACHED ranked
    // frame — one partial row per task into the 1-row gini broadcast.
    // q67 — q62's two shapes verbatim (verified by plan dump this
    // round): the (n, S) total (partial_sum over the cached
    // |segments|-row rollup) and the between-sum finalization
    // (partial_max/partial_sum over the same frame).
    // q62 — the (n, S) total and the between-sum finalizations: every
    // SinglePartition exchange sits on the CACHED |segments|-row
    // rollup (partial_sum over ≤|segments| rows per task into 1-row
    // broadcasts — p04's tiny-key-space bound; verified by plan dump
    // this round).
    // q64 — the moment frame: the plan's one SinglePartition exchange
    // has HashAggregate(10 × partial_sum/partial_count over the
    // per-user frame) as its direct child — ONE ten-column partial row
    // per task into the cached 1-row broadcast the three pair rows
    // read (q14's shape; verified by plan dump this round).
    // q66 — q63's two shapes verbatim (verified by plan dump this
    // round): the grand-total n (partial_count(1) per task) and the
    // χ² total (partial_sum over the CACHED 10-row digit frame).
    // s43 — three bounded shapes (verified by plan dump this round):
    // the edge total and the diagonal sum are partial_sum(c) over the
    // CACHED |labels|²-row mixing matrix, and Σa·b is a partial_sum
    // over the |labels|-row margin join — p04's tiny-key-space bound
    // throughout.
    // p23 — the reference total: the plan's one SinglePartition
    // exchange has HashAggregate(partial_sum(ref_n)) over the
    // |buckets|-row reference rollup as its direct child (p04's
    // tiny-key-space bound; verified by plan dump this round).
    // s42 — the moment frame: one SinglePartition exchange with
    // HashAggregate(6 × partial_sum/count over the edge frame) as its
    // direct child — ONE six-column partial row per task (q64's shape;
    // verified by plan dump this round).
    // t49 — the N constant: d36's shape exactly (the plan's one
    // SinglePartition exchange has HashAggregate(partial_count(1))
    // over the documents scan as its direct child — one partial row
    // per task into the 1-row idf broadcast; verified by plan dump
    // this round).
    // d36 — the N constant: the plan's one SinglePartition exchange
    // has HashAggregate(partial_count(1)) over the sampled documents
    // scan as its direct child — one partial-count row per task into
    // the 1-row broadcast idf subtracts from (q14's shape; verified by
    // plan dump this round).
    // q63 — two bounded shapes (verified by plan dump this round): the
    // grand-total n is q14's partial-count-per-task finalization into a
    // 1-row broadcast, and the χ² total is a partial_sum over the
    // CACHED 9-row per-digit frame (p04's tiny-key-space bound).
    // t47 — two SinglePartition exchanges, both bounded (verified by
    // plan dump this round): the corpus total nn has HashAggregate(
    // partial_sum(cc)) over the CACHED vocab frame as its direct child,
    // and S(Q) has HashAggregate(partial_sum(q_ppm·log2fixed)) over the
    // CACHED q-ppm frame — one partial row per task into 1-row
    // broadcasts each (t20's V shape).
    // The r14 Lloyd vector form (Similarity.centsRow) gathers the
    // k-cluster centroid frame into ONE (cents: array<struct>) row for
    // broadcast into the per-vector argmin map pass: its SinglePartition
    // exchange's direct child is the partial collect_list over the
    // k·dims-row centroid aggregate — parameter-sized by construction
    // (k and dims are knobs, never corpus-proportional), the same bound
    // as p04's tiny-key-space shapes. Every trained-quantizer query
    // carries it: s03/s11/s12/s15/s16/s17/s18/s28/s31/s33/p12 (s32/
    // s34/s35 were already listed), and the artifact gates that run
    // the s16/d06-family build on first touch (s44, d37, d22, d24).
    val bounded = Set("q19_topk_limit", "q14_exists_anti",
      "s03_ann_ivf", "s31_ivf_refresh", "s11_corpus_clusters",
      "s12_embed_outliers", "s33_silhouette", "s15_ann_ivfpq",
      "s17_ann_ivfpq_res", "s16_knn_graph", "s18_ann_beam",
      "s28_ivf_recall_curve", "p12_cluster_sample", "s44_knn_artifact",
      "d37_canon_artifact", "d22_mutual_knn", "d24_dbscan",
      "p04_mixture_weights", "p05_apply_mixture", "t11_bm25",
      "q31_correlated_scalar", "t13_token_drift", "p11_seeded_shuffle",
      "t20_bigram_lm", "t23_perplexity_bucket", "t26_heavy_hitters",
      "q39_table_profile", "q40_fk_audit", "q45_funnel",
      "t27_pmi_colloc", "p16_curriculum", "q47_equidepth_hist",
      "t29_trigram_backoff", "p17_interleave", "p18_unimax",
      "t32_vocab_growth", "q50_cusum", "q55_join_skew",
      "p19_temperature_mix", "s32_cell_drift", "t35_kn_bigram",
      "s34_cluster_purity", "t38_good_turing", "p21_clean_mixture",
      "t40_chi2_keyness", "t41_burstiness", "s35_cluster_report",
      "p22_epoch_schedule", "q61_lorenz_gini", "t47_js_drift",
      "d36_tfidf_cosine", "q63_benford", "q62_theil", "q64_corr_audit",
      "t49_tfidf_terms", "p23_match_distribution", "s42_assortativity",
      "q66_benford2", "s43_label_assortativity", "q67_theil_l")
    for ((name, _) <- SparkEntry.queries if !bounded(name))
      withClue(name) { unboundedFunnel(plan(name)) shouldBe false }
  }

  // Spark-injected runtime join filters (spark.sql.optimizer.runtime
  // .bloomFilter) finalize their bloom_filter_agg through a
  // SinglePartition merge of one FIXED-SIZE bloom buffer per task —
  // bounded by definition and a scan-pruning win at scale, so they
  // never count as a data funnel (first seen on s03's quantizer
  // joins).
  private def unboundedFunnel(p: String): Boolean = {
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.exists { case (l, i) =>
      l.contains("Exchange SinglePartition") && {
        // the partial bloom agg is THIS exchange's child; tolerate up
        // to two interposed rendering lines (WholeStageCodegen banner,
        // AQE shuffle-stage wrappers) but STOP at any other Exchange —
        // otherwise a genuine funnel sitting just above a runtime-bloom
        // exchange would get credited with the bloom's child. The
        // 3-line window is a rendering-format heuristic; the synthetic
        // pin test below fails loudly if a Spark upgrade changes the
        // rendering enough to break either direction.
        val window = lines.slice(i + 1, i + 4)
          .takeWhile(!_.contains("Exchange"))
        !window.exists(_.contains("partial_bloom_filter_agg"))
      }
    }
  }

  test("funnel heuristic: synthetic plans pin both directions of the bloom window") {
    // A genuine funnel with no bloom child IS flagged
    unboundedFunnel(
      """Exchange SinglePartition
        | +- HashAggregate(keys=[k], functions=[partial_count(1)])""".stripMargin
    ) shouldBe true
    // Bloom finalization directly below the exchange is NOT a funnel
    unboundedFunnel(
      """Exchange SinglePartition
        | +- ObjectHashAggregate(functions=[partial_bloom_filter_agg(xxhash64(k))])""".stripMargin
    ) shouldBe false
    // ... including under the tolerated rendering wrappers (codegen
    // banner + AQE shuffle-stage line), the widest shape the window
    // was sized for
    unboundedFunnel(
      """Exchange SinglePartition
        | +- WholeStageCodegen (2)
        |    +- ShuffleQueryStage 1
        |       +- ObjectHashAggregate(functions=[partial_bloom_filter_agg(xxhash64(k))])""".stripMargin
    ) shouldBe false
    // A genuine funnel sitting just ABOVE a runtime-bloom exchange must
    // not be credited with the bloom's child: the scan stops at the
    // intervening Exchange
    unboundedFunnel(
      """Exchange SinglePartition
        | +- Exchange hashpartitioning(k, 32)
        |    +- ObjectHashAggregate(functions=[partial_bloom_filter_agg(xxhash64(k))])""".stripMargin
    ) shouldBe true
    // A bloom agg BEYOND the 3-line window does not rescue a funnel —
    // if a Spark upgrade pushes the child deeper, this documents the
    // failure mode (noisy flag, safe direction)
    unboundedFunnel(
      """Exchange SinglePartition
        | +- WholeStageCodegen (2)
        |    +- ShuffleQueryStage 1
        |       +- AQEShuffleRead coalesced
        |          +- ObjectHashAggregate(functions=[partial_bloom_filter_agg(xxhash64(k))])""".stripMargin
    ) shouldBe true
  }

  test("map-only text stats have no exchange except the final sort") {
    val p = plan("t01_text_stats")
    p.sliding("Exchange".length).count(_ == "Exchange") shouldBe 1
    p should include("rangepartitioning")
  }

  test("text-operator scans prune the documents table to referenced columns") {
    // the documents table carries lang/source/n_chars the index/search
    // operators never touch — a scan reading them is wasted I/O at 100 TB.
    // Assert on the ReadSchema struct itself, not the whole plan string
    // (where e.g. a DSv2 "datasources" class name also contains "source").
    for (name <- Seq("t10_inverted_index", "t11_bm25", "d12_incremental_overlap",
        "t14_pii_scrub", "t15_boilerplate", "p07_pack_sequences")) {
      val readSchemas = plan(name).linesIterator
        .filter(_.contains("ReadSchema")).mkString("\n")
      withClue(s"$name ReadSchema lines: $readSchemas\n") {
        readSchemas should include("doc_id")
        readSchemas should not include "n_chars"
        readSchemas should not include "source"
      }
    }
  }

  test("int8 ANN broadcasts the quantized query side like s01") {
    val p = plan("s09_ann_int8")
    p should include("BroadcastNestedLoopJoin")
    p should not include "CartesianProduct"
  }

  test("s15 routes ADC through broadcast probe/LUT joins (unprobed corpus never scored)") {
    // probes, LUT, codebooks, and the re-rank query side are all
    // query-cardinality broadcasts; the only corpus-sized joins are
    // hash equi-joins (codes->cells on vec_id, cell routing)
    val p = plan("s15_ann_ivfpq")
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
  }

  test("s16 carries the cell-population sizing guard in-plan") {
    // the d15 contract: an over-populated cell must FAIL the query
    // (raise_error names the operator and parameter) before the pair
    // join goes quadratic — the guard is part of the executed plan,
    // not a docs-only promise
    val p = plan("s16_knn_graph")
    p should include("raise_error")
    p should not include "CartesianProduct"
  }
}
