package graft.operators

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Empirical scale sweep: enlarge the sf0.1 documents table Nx (doc_ids
  * offset per replica, texts salted so replicas are near- but not
  * exact-duplicates) and measure the production dedup paths at 1x / 4x /
  * 10x. Linear-ish growth here is the local evidence behind the 100 TB
  * design claims in SCALE.md.
  *
  * Usage: Test/runMain graft.operators.ProfileScaleSweep [name...]
  * With args, only the named rows run (dev iteration on new sweep
  * rows without re-measuring the whole matrix).
  */
object ProfileScaleSweep {

  /** Synthetic FIXED-DEPTH super-relation forest for the o15 sweep:
    * `nTrees` independent trees, each root → 2 mid relations → 2 leaf
    * relations (depth 3), with way/node members at every level and one
    * SHARED child per tree (both mids reference leaf b+4 — exercises
    * the min-depth collapse). Scaling nTrees grows the corpus while
    * the recursion depth stays constant — the claim under test is that
    * expandRelations' cost is (levels × one equi-join shuffle), linear
    * in edges, not depth-coupled to data size.
    */
  def relForest(spark: SparkSession, nTrees: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    def mem(tp: String, ref: org.apache.spark.sql.Column) =
      struct(lit(tp).as("type"), ref.as("ref"), lit("m").as("role"))
    val t = spark.range(nTrees).select(($"id" * 16).as("b"))
    Seq(
      t.select($"b".as("id"), array(mem("relation", $"b" + 1),
        mem("relation", $"b" + 2), mem("way", $"b" + 7)).as("members")),
      t.select(($"b" + 1).as("id"), array(mem("relation", $"b" + 3),
        mem("relation", $"b" + 4), mem("node", $"b" + 8)).as("members")),
      t.select(($"b" + 2).as("id"), array(mem("relation", $"b" + 4),
        mem("node", $"b" + 9)).as("members")), // b+4 shared: multi-path
      t.select(($"b" + 3).as("id"), array(mem("way", $"b" + 10)).as("members")),
      t.select(($"b" + 4).as("id"), array(mem("way", $"b" + 11)).as("members")))
      .reduce(_ unionByName _)
      .withColumn("type", lit("relation"))
  }

  /** Synthetic planet frame with one STADIUM node for the o01 skew
    * sweep: `nWays` ways of 4 nds each, every way's FIRST ref the
    * shared node 0 (referenced nWays times — the mega-shared-node
    * pattern of a stadium/roundabout hub), the other three refs
    * unique. Schema matches what reassembleWays reads (type, id, tags,
    * lat, lon, nds).
    */
  def stadiumPlanet(spark: SparkSession, nWays: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val nodes = spark.range(nWays * 3 + 1).select(
      $"id", lit("node").as("type"),
      map(lit("ref_count"), lit("high")).as("tags"),
      (($"id" % 80) + lit(0.5)).cast("decimal(9,7)").as("lat"),
      (($"id" % 170) - lit(80.25)).cast("decimal(10,7)").as("lon"),
      lit(null).cast("array<struct<ref:bigint>>").as("nds"))
    val ways = spark.range(nWays).select(
      ($"id" + 5000000000L).as("id"), lit("way").as("type"),
      map(lit("highway"), lit("service")).as("tags"),
      lit(null).cast("decimal(9,7)").as("lat"),
      lit(null).cast("decimal(10,7)").as("lon"),
      array(struct(lit(0L).as("ref")),
        struct(($"id" * 3 + 1).as("ref")),
        struct(($"id" * 3 + 2).as("ref")),
        struct(($"id" * 3 + 3).as("ref"))).as("nds"))
    nodes.unionByName(ways)
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val nBase = base.count()

    // GraphX warm-up: one throwaway pregel CC before ANY timed row —
    // GraphX class-loading + closure-serializer JIT otherwise lands
    // entirely on the first mutual_knn timing (the 1x row), which made
    // the r10 sweep table read super-linear when the 4x point ran
    // FASTER warm (6.55/4.96/12.86 s). Min-of-3 can't wash it out: all
    // three 1x repeats sit in the same cold JVM.
    {
      val gEdges = spark.sparkContext.parallelize(
        Seq(org.apache.spark.graphx.Edge(1L, 2L, 1), org.apache.spark.graphx.Edge(2L, 3L, 1)))
      org.apache.spark.graphx.Graph.fromEdges(gEdges, 0)
        .connectedComponents().vertices.count()
    }

    for (mult <- Seq(1, 4, 10)) {
      val dir = s"/tmp/graft_scale_${mult}x"
      val enlarged = (0 until mult).map { r =>
        base.select(($"doc_id" + lit(r.toLong * 1000000)).as("doc_id"),
          (if (r == 0) $"text" else concat($"text", lit(s" replica$r"))).as("text"),
          $"lang", $"source")
      }.reduce(_ unionByName _)
        .withColumn("n_chars", length($"text").cast("bigint")) // keep consistent with text
      enlarged.write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")

      // embeddings enlarged the same way (vec_id offset per replica;
      // components nudged per replica so replicas are near- not
      // exact-duplicate vectors). Queries stay the replica-0 vec_id<8
      // set — candidate corpora grow, query side doesn't, the
      // production retrieval shape.
      val baseEmb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      val enlargedEmb = (0 until mult).map { r =>
        baseEmb.select(($"vec_id" + lit(r.toLong * 1000000)).as("vec_id"),
          (if (r == 0) $"embedding"
           else transform($"embedding", x => x + lit(r.toFloat * 1e-3f)))
            .as("embedding"),
          $"label")
      }.reduce(_ unionByName _)
      enlargedEmb.write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")

      // min of 3 runs, cache cleared between — same noise control as
      // ProfileR2; without it the 1x row is JVM-cold and the scaling
      // ratio conflates warm-up with data growth
      val only: Set[String] = args.toSet
      def time(name: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
        if (only.nonEmpty && !only.contains(name)) return
        val times = (1 to 3).map { _ =>
          graft.Caches.releaseAll(spark) // registry + cacheManager + stray RDDs
          val t0 = System.nanoTime()
          f.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        println(f"[sweep] ${mult}x (${nBase * mult} docs) $name " +
          f"min=${times.head}%.2f median=${times(1)}%.2f s")
      }
      time("minhash_lsh_hashed")(Dedup.minHashLshHashed(spark, dir))
      time("simhash_pairs_hashed")(Dedup.simHashPairsHashed(spark, dir))
      time("exact_dedup")(Dedup.exact(spark, dir))
      time("fingerprint")(TextAnalysis.fingerprint(spark, dir))
      // round-4 operators over the documents table
      time("passage_dedup")(Dedup.passageDedup(spark, dir))
      time("token_rarity")(TextAnalysis.tokenRarity(spark, dir))
      time("apply_mixture")(Sampling.applyMixture(spark, dir))
      // round-4 second-session operators
      time("inverted_index")(TextAnalysis.invertedIndex(spark, dir))
      time("bm25")(TextAnalysis.bm25(spark, dir))
      time("incremental_overlap")(Dedup.incrementalOverlap(spark, dir))
      // round-5: multimodal frame family over the enlarged documents
      time("media_neardup")(Multimodal.mediaNearDup(spark, dir))
      time("frame_df")(Multimodal.frameDf(spark, dir))
      // round-5: retrieval family over the enlarged embeddings
      time("ann_multiprobe")(Similarity.annMultiProbe(spark, dir))
      time("matryoshka")(Similarity.annMatryoshka(spark, dir))
      time("rrf_fusion")(Similarity.rrfFusion(spark, dir))
      time("ann_int8")(Similarity.annInt8(spark, dir))
      time("ann_ivf")(Similarity.annIvf(spark, dir))
      time("embed_neardup_lsh")(Dedup.embeddingNearDupLsh(spark, dir))
      time("embed_neardup_multiprobe")(Dedup.embeddingNearDupMultiProbe(spark, dir))
      time("token_drift")(TextAnalysis.tokenDrift(spark, dir))
      // round-6: scrub/boilerplate/classifier/pack over documents,
      // PQ + SemDeDup over the enlarged embeddings. SemDeDup's k is
      // raised with the multiplier (the paper's sizing contract —
      // fixed cluster POPULATION, not fixed k; at fixed k=8 the
      // within-cell pair join would grow quadratically by design).
      time("pii_scrub")(TextAnalysis.piiScrub(spark, dir))
      time("boilerplate")(TextAnalysis.boilerplateRemove(spark, dir))
      time("quality_classifier")(TextAnalysis.qualityClassifier(spark, dir))
      time("pack_sequences")(Sampling.packSequences(spark, dir))
      time("ann_pq")(Similarity.annPq(spark, dir))
      time("semdedup_sizedk")(Dedup.semDedup(spark, dir, k = 8 * mult))
      // planes follow the s02 sizing contract (log2 growth, as in
      // ProfileD13Planes) — frozen planes would record the by-design
      // quadratic of an unsized bucket population, not the operator.
      // Round-7 change: derived via Sizing.ceilLog2 (4 at 1x +
      // ceil(log2(mult))) instead of a lookup that threw on new sweep
      // points. NOTE the 10x point moved 7 -> 8 planes under the exact
      // ceil rule — its timings are not comparable with the round-6
      // sweep row (which ran floor-ish 7).
      val ePlanes = 4 + graft.operators.Sizing.ceilLog2(mult.toLong)
      time("incremental_embed_sizedplanes")(
        Dedup.incrementalEmbedOverlap(spark, dir, planes = ePlanes))
      // round-7: the stride-1 span family (the window-factor explode is
      // THE cost question — linear growth here is the claim) and the
      // KMV sketch (distinct + salted min-k)
      time("repeated_spans")(Dedup.repeatedSpans(spark, dir))
      time("span_scrub")(Dedup.spanScrub(spark, dir))
      time("kmv_distinct")(Relational.kmvDistinct(spark, dir))
      // round-10: the r9 additions. d21 — shards fixed at the gate
      // default, corpus grows: build should scale ~linearly (one
      // shard shuffle + per-shard assembly), probe per-row cost flat.
      time("incremental_sharded")(Dedup.incrementalOverlapSharded(spark, dir))
      // t21 learnMerges — rounds fixed at 10: after the single
      // corpus-sized wordCounts shuffle every round is vocab-sized,
      // so growth should track DISTINCT words (sublinear in docs),
      // not the corpus. Returns a Seq, so timed via its own block.
      if (only.isEmpty || only.contains("bpe_learn10")) {
        val times = (1 to 3).map { _ =>
          graft.Caches.releaseAll(spark)
          val t0 = System.nanoTime()
          Bpe.learnMerges(Bpe.wordCounts(
            graft.Tables.documents(spark, dir)), 10)
          (System.nanoTime() - t0) / 1e9
        }.sorted
        println(f"[sweep] ${mult}x (${nBase * mult} docs) bpe_learn10 " +
          f"min=${times.head}%.2f median=${times(1)}%.2f s")
      }
      // o15 expandRelations — depth fixed (the forest is depth-3,
      // maxDepth 5): cost should be linear in edges
      if (only.isEmpty || only.contains("expand_relations")) {
        val relDir = s"$dir/relforest.parquet"
        relForest(spark, 20000L * mult).write
          .mode(SaveMode.Overwrite).parquet(relDir)
        time("expand_relations")(
          graft.osm.OsmQueries.expandRelations(
            spark.read.parquet(relDir), maxDepth = 5))
      }
      // round-10 third batch: the combined IVF+PQ index (query side
      // fixed, candidate corpus grows — cost tracks the probed
      // fraction plus the Lloyd training passes, all corpus-linear),
      // the CCNet bucket split (token-keyed aggregates + the p11
      // sharded rank — linear, no funnel), and CDC chunking (per-doc
      // lag windows + one (doc_id, chunk_no) groupBy — linear)
      time("ann_ivfpq")(Similarity.annIvfPq(spark, dir))
      // the residual variant adds one candidate-side subtraction join
      // at train/encode time and one broadcast q·c_cell join at score
      // time — the curve should track ann_ivfpq's
      time("ann_ivfpq_res")(Similarity.annIvfPq(spark, dir, residual = true))
      time("perplexity_bucket")(TextAnalysis.perplexityBucket(spark, dir))
      time("cdc_chunks")(TextAnalysis.cdcChunks(spark, dir))
      // s16 follows the d15 sizing contract: k grows with the corpus
      // so cell POPULATION (and the within-cell pair volume) stays
      // fixed — at frozen k the pair join would grow quadratically by
      // design, which is what the in-plan guard exists to refuse
      time("knn_graph_sizedk")(Similarity.knnGraph(spark, dir, k = 8 * mult))
      // d22 rides the same sized-k edges; the CC adds pregel rounds
      // over corpus x kNeighbors edges (linear)
      time("mutual_knn_sizedk")(
        Dedup.mutualKnnCanonicalize(spark, dir, k = 8 * mult))
      // round-11: d23 exact prefix-filtered Jaccard join over the FULL
      // enlarged corpus (no sample cap — that's the operator's point).
      // NOTE the replica construction plants mult-sized near-dup
      // GROUPS (replicas of one base doc are near-identical), so the
      // TRUE pair count itself grows ~mult² — output-driven growth any
      // exact join must pay; the claim under test is that candidate
      // generation tracks true pairs + corpus, not all-pairs.
      time("jaccard_prefix")(Dedup.jaccardPrefixJoin(spark, dir))
      // s20 binary ANN: code pack is map-only, Hamming scan linear in
      // candidates, re-rank reads |Q|·shortK vectors regardless of
      // corpus — the curve should be near-flat like s15's
      time("ann_binary")(Similarity.annBinary(spark, dir))
      // q38 HLL: one distinct + a max-merge onto lang×16 keys — linear
      // scan, constant state
      time("hll_distinct")(Relational.hllDistinct(spark, dir))
      // d24 dbscan is deliberately NOT swept: its gate form runs the
      // d05 all-pairs sample (quadratic by design at growing sample);
      // the scale path swaps in d13's bucketed pair stream, whose
      // growth embed_neardup_lsh already measures
      // round-11 fourth batch: the graph-analytics family rides the
      // sized-k s16 edges (fixed cell population). Triangles add the
      // und ⋈ und middle-vertex join (Σdeg² — bounded by the kNN
      // degree, linear in vertices at fixed degree); LPA adds
      // 3 rounds of edge-list joins (linear); k-core peels the MUTUAL
      // edges over 10 checkpointed rounds (each linear; the constant
      // factor is the round count, not a growth term)
      time("triangles_sizedk")(
        Similarity.triangleCounts(spark, dir, k = 8 * mult))
      time("labelprop_sizedk")(
        Similarity.labelPropagation(spark, dir, k = 8 * mult))
      time("kcore_sizedk")(
        Similarity.kCorePeel(spark, dir, k = 8 * mult))
      // s26 link prediction: the same sized-k edges; the wedge
      // self-join is Σdeg² (bounded by the kNN degree, linear in
      // vertices at fixed degree — triangles' bound), the anti-join
      // and degree joins linear, top-N TakeOrdered
      time("linkpred_sizedk")(
        Similarity.linkPrediction(spark, dir, k = 8 * mult))
      // p15: a maxTickets-bounded explode + min-agg with map-side
      // combine + one TakeOrdered — pure linear, the null hypothesis
      time("weighted_sample")(Sampling.weightedSample(spark, dir))
      // d27 PassJoin edit join over the last-12-chars domain, which
      // GROWS with the corpus (replica salts land at the text tail,
      // so suffixes are distinct per replica and cross-replica
      // suffixes of one base doc sit within distance 2 — true pairs
      // grow ~mult² like d23's, but the positional-segment keys stay
      // selective where n-grams would go hot)
      time("edit_segments_sfx")(Dedup.editDistanceSegmentsOn(
        spark.read.parquet(s"$dir/documents.parquet")
          .select(expr("substring(text, length(text) - 11, 12)").as("s")),
        2, graft.operators.Sizing.MaxPairKeyPopulation))
      // round-11 continuation: s29 BFS rides the sized-k s16 edges
      // (fixed cell population); each of the 4 fixed hops is one
      // edge-list equi-join + a map-combinable min — linear per round,
      // round count a constant
      time("bfs_hops_sizedk")(
        Similarity.bfsHops(spark, dir, k = 8 * mult))
      // t33 WordPiece: vocab learning aggregates the DISTINCT word
      // set (sublinear in docs — replicas share words), the greedy
      // loop's state is one row per distinct word and shrinks per
      // round; growth should track distinct words like bpe_learn10
      time("wordpiece")(TextAnalysis.wordPieceEncode(spark, dir))
      // m24 autocorrelation: map-only decode to sample rows, ONE
      // equi-join on (doc, idx+lag) after a 4-row lag broadcast —
      // per-doc work is samples x lags, linear in docs
      time("autocorr")(Multimodal.autocorrGate(spark, dir))
      // fourth-session rows. winnowing: one per-doc bounded window +
      // distinct — linear in corpus tokens. chi2: vocabulary-sized
      // count frame (replicas share words → sublinear). silhouette:
      // the Lloyd shape + one more broadcast pass — linear.
      // normalize/feature_hash/silence_trim/hist_equalize/patchify are
      // map + one combinable aggregation — the linear floor.
      time("winnowing")(Dedup.winnowFingerprints(spark, dir))
      time("chi2_keyness")(TextAnalysis.chi2Keyness(spark, dir))
      time("silhouette")(Similarity.silhouette(spark, dir))
      time("normalize")(TextAnalysis.normalizeText(spark, dir))
      time("feature_hash")(TextAnalysis.featureHash(spark, dir))
      time("silence_trim")(Multimodal.silenceTrimGate(spark, dir))
      time("hist_equalize")(SparkEntry.queries("m31_hist_equalize")(spark, dir))
      time("clean_mixture")(Sampling.cleanMixture(spark, dir))
      // fourth-session closing rows. bbit: d03's signature plan + a
      // projection. rptree: depth × per-node median windows — the
      // root rank is the documented sample-at-scale point.
      // burstiness/dither/glcm: the map+combinable-agg floor. (q60
      // islands read the events table, which this sweep does not
      // enlarge — its shape is q27's one per-user shuffle+sort,
      // already covered by that family's rows.)
      time("bbit_minhash")(Dedup.bbitMinHash(spark, dir))
      time("ann_rptree")(Similarity.annRpTree(spark, dir))
      // round-12 rows. d26 containment: d23's asymmetric sibling — the
      // one-sided prefix explode is corpus-linear, but replicas of one
      // base doc mutually CONTAIN each other (near-identical shingle
      // sets), so true directed pairs grow ~mult² exactly like d23's
      // planted groups: output-driven growth an exact join must pay;
      // the claim under test is candidates ~ corpus + true pairs.
      time("containment")(Dedup.containmentJoin(spark, dir))
      // s37 forest = T× the s36 build/probe constant (three per-tree
      // median windows + leaf joins), union dedup is query-fanout —
      // expected ~3× the ann_rptree row, flat relative growth
      time("ann_rpforest")(Similarity.annRpForest(spark, dir))
      // t44 unigram trainer: one corpus-sized wordCounts shuffle, then
      // every EM round is vocab-sized (distinct words shrink-wrapped;
      // replicas share words) — growth should track bpe_learn10's
      time("unigram_vocab")(graft.operators.Unigram.trainedVocab(spark, dir))
      time("burstiness")(TextAnalysis.burstiness(spark, dir))
      time("dither")(SparkEntry.queries("m34_dither")(spark, dir))
      time("glcm")(SparkEntry.queries("m35_glcm")(spark, dir))
      // round-12 second batch. s38/s39 ride the sized-k s16 edges
      // (fixed cell population): each fixed round is one edge-frame
      // equi-join + a keyed map-combinable sum — s21's superstep
      // shape; s38's frame is |seeds|·frontier (query-fanout, not
      // corpus), s39's is corpus-linear. t46/t47 aggregate the
      // vocabulary (replicas share words → sublinear); t47 adds the
      // vocab × |sources| grid (sources constant). d36 is sample-
      // capped by contract — the flat line IS the claim. m36 is the
      // map + ≤256-candidate argmax floor.
      time("ppr_sizedk")(
        Similarity.personalizedPageRank(spark, dir, k = 8 * mult))
      time("hits_sizedk")(Similarity.hits(spark, dir, k = 8 * mult))
      time("zipf_fit")(TextAnalysis.zipfFit(spark, dir))
      time("js_drift")(TextAnalysis.jsDrift(spark, dir))
      time("tfidf_cosine")(Dedup.tfidfCosine(spark, dir))
      time("otsu")(SparkEntry.queries("m36_otsu")(spark, dir))
      time("sobel")(SparkEntry.queries("m37_sobel")(spark, dir))
      time("cc_label")(SparkEntry.queries("m38_cc_label")(spark, dir))
      // t48 is the t46 shape minus the rank window (vocab-bound);
      // s41's two ranking rounds are broadcast-query joins over the
      // enlarged candidate scan — corpus-linear, query side constant
      time("vocab_richness")(TextAnalysis.vocabRichness(spark, dir))
      time("rocchio")(Similarity.rocchioExpand(spark, dir))
      // t49 runs d36's weight algebra over the FULL corpus (no sample
      // cap): one (doc, token) aggregation + a per-doc rank window —
      // the corpus-linear claim is the row. m39 is the map floor.
      time("tfidf_terms")(TextAnalysis.tfidfTerms(spark, dir))
      time("hist_entropy")(SparkEntry.queries("m39_hist_entropy")(spark, dir))
      time("otsu2")(SparkEntry.queries("m40_otsu2")(spark, dir))
      // p23: map-side bucket/hash projection + tiny-key rollups + a
      // broadcast ratio join back onto the scan — the linear floor.
      // s42 rides the sized-k s16 edges + one moment reduction.
      time("match_distribution")(Sampling.matchDistribution(spark, dir))
      time("assortativity_sizedk")(
        Similarity.degreeAssortativity(spark, dir, k = 8 * mult))
      // s43 shares s42's edge build + two label joins and a
      // |labels|²-key rollup; q66 reads orders (not enlarged — q63's
      // note applies)
      time("label_assort_sizedk")(
        Similarity.labelAssortativity(spark, dir, k = 8 * mult))
      // q62/q63 read the orders table, which this sweep does not
      // enlarge — their shapes (one corpus-reduced groupBy + tiny-key
      // rollups; a 9-key digit census) are already covered by the
      // linear-floor rows.
      // d25 edit-join is NOT swept over replicas: its shipped blocking
      // (shared n-gram + length band) targets value-deduplicated
      // attribute domains (names/titles, 10^3..10^5 distinct) where
      // the gate proves it lossless; corpus-sized string domains need
      // the PassJoin positional-segment candidate generator (SCALE.md
      // §18 records the boundary honestly). q41's sweep story is
      // structural: rounds = ceil(log256(value range)) — a property of
      // the DOMAIN, not the corpus; each round is one linear scan.
      // round-13: o01 way→node reassembly under a STADIUM node — one
      // node referenced by EVERY way (the reference's most skew-prone
      // join, SURVEY §7.4). AQE skew thresholds scaled down so the
      // decision that protects the 100 TB join is observable at test
      // size (the ScaleJoinsSpec assertion proves it FIRES; this row
      // prices it): the claim is wall time tracks data with no
      // single-task tail — a non-split plan would hold the hot
      // partition on one core and the curve would go super-linear.
      if (only.isEmpty || only.contains("stadium_reassemble")) {
        val prevConf = Seq(
          "spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
          .map(k => k -> spark.conf.getOption(k)).toMap
        try {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256k")
          spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
          spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
          val pDir = s"$dir/stadium.parquet"
          stadiumPlanet(spark, 100000L * mult).write
            .mode(SaveMode.Overwrite).parquet(pDir)
          time("stadium_reassemble")(
            graft.osm.OsmQueries.reassembleWays(spark.read.parquet(pDir)))
        } finally prevConf.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
    }
    spark.stop()
  }
}
