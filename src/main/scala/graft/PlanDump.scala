package graft
import java.nio.file.{Files, Paths}
import graft.operators._
import graft.sources.Tables
/** Writes docs/PLANS_r9.md — formatted-explain snapshots of the
  * headline queries, for plan-shape review without running anything.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(master = "local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t  = Tables(spark, "/root/testdata/sf0.001")
    val qs = Seq(
      "q1_pricing_summary (single-shuffle partial agg, pushed filter, pruned scan)" ->
        Relational.q1PricingSummary(t),
      "q5_region_revenue (bounded dims hint-broadcast; customer/supplier planner-decided — the r7 un-forcing)" ->
        Relational.q5RegionRevenue(t),
      "q3_bucketed (zero shuffle exchanges: join AND groupBy ride the bucket partitioning)" ->
        Relational.q3Bucketed(t),
      "word_stats (per-row array count + distinct; the output sort is the only shuffle)" ->
        WordPipeline.wordStats(t),
      "dedup_minhash_lsh (wide signature, band self-join on digest keys)" ->
        Dedup.minhashLshPairs(t),
      "dedup_chunks (repeated-span detection: md5 chunk keys, map-side combine)" ->
        Dedup.repeatedChunks(t),
      "embed_cosine_topk (broadcast queries, native vec_dot, WindowGroupLimit)" ->
        Similarity.cosineTopK(t),
      "embed_quantize (per-vector min/max + posexplode, no shuffle before the final sort)" ->
        Similarity.quantize(t),
      "quality_unigram_lp (vocab broadcast join, two partial aggs)" ->
        TextAnalysis.unigramLogProb(t),
      "corpus_curate (r9 form: span-cut stage — survivor-restricted window hashes, numeric token features, no text past any shuffle)" ->
        Curate.curate(t),
      "decontaminate (broadcast eval shingles; training text never shuffles)" ->
        Decontaminate.contaminationQuery(t),
      "phrase_search (broadcast phrase words prune postings map-side)" ->
        InvertedIndex.phraseSearchQuery(t),
      "embed_pq_codes (broadcast codebook; in-expression distance fold)" ->
        Similarity.pqCodes(t),
      "domain_mix (broadcast per-source rates; corpus = one scan + filter)" ->
        Curate.domainMix(t),
      "q6_forecast_revenue (pure pushed-filter scan, scalar agg, no wide exchange)" ->
        Relational3.q6ForecastRevenue(t),
      "q18_large_orders (lineitem pre-agg to qualifying keys before join-back)" ->
        Relational3.q18LargeOrders(t),
      "embed_ivf_pq (cell pruning + broadcast PQ codebook + 2k shortlist re-rank)" ->
        Similarity.ivfPqTopK(t),
      "chunk_text (map-side window arithmetic, fingerprints only)" ->
        TextAnalysis.chunkText(t),
      "q_range_join via rewrite rule (plain join re-planned to RangeJoinExec; merge loop whole-stage-codegen'd r6)" ->
        AsOf.qRangeJoin(t),
      "q_skew_share_rewrite (window-to-join rewrite: salted two-phase totals + broadcast join back)" ->
        Skew.shareOfKeyTotal(t.events),
      "skew window form — the adversary (hot key serializes on one task; NOT shipped as a gate)" ->
        Skew.shareWindowForm(t.events),
      "pack_shards (distributed two-phase prefix sum; only the <=32-row offsets window is unpartitioned)" ->
        Layout.packShards(t),
      "q_global_shuffle (map-side hash shard key; the ONLY exchange is the shard partitioning the write pays anyway)" ->
        Layout.globalShuffle(t),
      "dedup_within_doc (doc-partitioned windows only; text absent from the exploded hash stream)" ->
        Dedup.withinDocDedup(t),
      "url_canonicalize (planted variants, one scan, one groupBy on the canonical string)" ->
        Curate.urlCanonicalize(t),
      "neardup_gate batch twin (per-row inline band keys, stateless band join — the streaming shape)" ->
        graft.streaming.Streams.nearDupGate(t.documents, t.documents),
      "q_struct_paths (dict-path verbs collapsed to a flat projection; dropped fields pruned from the scan)" ->
        Events.structPaths(t),
      "q15_top_supplier (revenue agg computed once, max as 1-row broadcast, integer-cent ties)" ->
        Relational4.q15TopSupplier(t),
      "q17_small_qty_revenue (correlated per-part avg as ONE partial-agg pass joined back)" ->
        Relational4.q17SmallQtyRevenue(t),
      "q21_waiting_supplier (double-correlation as two-level per-order pre-agg, no Expand)" ->
        Relational4.q21WaitingSupplier(t),
      "bm25_search (tf/df/avgdl broadcast scalars, one codegen'd score, TakeOrdered top-k)" ->
        InvertedIndex.bm25Search(t),
      "decontaminate_bloom (subquery-fed bloom probe below the partial agg; bitmaps merge map-side)" ->
        Decontaminate.bloomContaminatedDocs(t),
      "q_heavy_hitters_cms (mergeable sketch build; CmsEstimate reads it back in-query)" ->
        TextAnalysis.cmsHeavyHitters(t),
      "quality_ppl_buckets (r8 form: broadcast cut tuples, map-side bucketing — no WindowExec anywhere)" ->
        TextAnalysis.pplBuckets(t),
      "q_events_gapfill (1-row bounds broadcast -> sequence/explode grid; both join inputs pre-aggregated)" ->
        Events.gapfill(t),
      "q_events_anomaly (dense grid + bounded-enum stats broadcast; z-compare in the projection)" ->
        Events.anomalies(t),
      "profile_columns (ONE scan for all profiled columns; stack pivots the 1-row aggregate)" ->
        Relational4.profileColumns(t),
      "embed_semantic_prune (LSH candidates only; doc-level min-neighbor prune, no all-pairs)" ->
        Similarity.semanticPrune(t),
      "merge_upsert (latest-wins as ONE max-struct aggregate — no window; anti join + union)" ->
        Incremental.mergeUpsert(t),
      "q_stratified_sample (broadcast per-stratum rates; only ~8n candidates reach the rank windows)" ->
        Incremental.stratifiedSample(t),
      "q_snapshot_diff (one full-outer join on doc_id; text reduced to md5 at the scan)" ->
        Incremental.snapshotDiff(t),
      "q_domain_drift (two word-keyed partial aggs + word join; totals broadcast)" ->
        Curate.domainDrift(t),
      "q_dedup_report (id/digest joins only; union-counted loser overlap)" ->
        Curate.dedupReport(t),
      "multimodal_phash_dedup (checkpointed 16-byte hash table; banded self-join; pigeonhole-exact Hamming<=3)" ->
        graft.multimodal.Multimodal.phashDedupQuery(spark, "/root/testdata/sf0.001"),
      "q_pagerank (per sweep: ranks-edges shuffle + map-side dst sum; lineage cut every 5 sweeps)" ->
        Graph.pageRankQuery(t),
      "embed_sq_topk (int8-dequantized scan shortlist, exact re-rank only for 4k rows)" ->
        Similarity.sqTopK(t),
      "q_topk_native (TopKPairsAggregate: bounded-heap grouped top-k, NO WindowExec)" ->
        Relational2.qTopKNative(t),
      "q_expectations (four constraints in ONE map-side-combined aggregate pass)" ->
        Incremental.expectations(t),
      "q_corr_matrix (all 6 correlation kernels in ONE partial agg; stack pivots the 1-row result)" ->
        Analytics2.corrMatrix(t),
      "q_mad_outliers (two bounded-group percentile passes; medians broadcast back over the fact scan)" ->
        Analytics2.madOutliers(t),
      "q_lag_features (one user_id exchange serves all three windows — lag, delta, rolling)" ->
        Features.lagFeatures(t),
      "quality_gopher_rules (per-doc higher-order array funcs; no shuffle before the output sort)" ->
        QualityRules.gopherRules(t),
      "q_weighted_sample (deterministic u/w key; TakeOrdered, no global sort)" ->
        Analytics2.weightedSample(t),
      "embed_threshold_sweep (LSH candidate pairs scored once; sweep = explode over <=5 cuts)" ->
        Similarity.thresholdSweep(t),
      "q_vocab_coverage (one freq agg; TakeOrdered top-maxK; triangular rank join on <=maxK rows)" ->
        CorpusScience.vocabCoverage(t),
      "q_heaps_law (first-seen-bucket min agg; cumulative sums on the <=buckets grid — no expanding distinct)" ->
        CorpusScience.heapsLaw(t),
      "q_hll_cumulative (reaggregable daily sketches; expanding union over the <=days grid)" ->
        Analytics2.hllCumulative(t),
      "q_benford (exact cents-string digit; <=9-group agg + dense grid; 1-row total broadcast)" ->
        Analytics3.benford(t),
      "q_chi_square (observed-cells identity; margins = broadcast re-aggs of the tiny grid)" ->
        Analytics3.chiSquare(t),
      "q_autocorr (dense gapfill grid reused; lag self-join + stats grid-sized whatever the corpus)" ->
        Analytics3.autocorr(t),
      "q_psi_drift (CASE bins at the scan; one sources-x-bins agg; smoothing on the dense grid)" ->
        Analytics3.psiDrift(t),
      "q_gini (user agg -> distinct-count value table; triangular cumulative; DECIMAL(38,0) products)" ->
        Analytics3.gini(t),
      "q_skipgrams (per-doc position re-rank; equi-join on (doc,pos+offset) via literal offset explode)" ->
        CorpusScience.skipgrams(t),
      "q_skipgram_pmi (one pair-count agg; marginals re-agg the sparse counts; minCount survivors join)" ->
        CorpusScience.skipgramPmi(t),
      "q_ks_drift (shared PSI bins; triangular cumulatives on the sources-x-bins grid; max-abs in one agg)" ->
        Analytics3.ksDrift(t),
      "q_cohort_matrix (min-agg cohort per user; distinct (user,week) grid; broadcast cohort sizes)" ->
        Events.cohortMatrix(t),
      "q_neg_sampling (one freq agg; TakeOrdered top-N; triangular cumulative on the <=N slice)" ->
        CorpusScience.negSampling(t),
      "q2_min_cost_supplier (r11: supply relation aggregated ONCE from lineitem; correlated min as agg+join-back; dims broadcast)" ->
        Relational5.q2MinCostSupplier(t),
      "q9_product_profit (r11: pre-filtered part dim broadcast; one fact shuffle on the order key; integer-cent profit)" ->
        Relational5.q9ProductProfit(t),
      "q11_important_stock (r11: region-pruned value agg; 1-row scalar threshold broadcast — no second fact pass)" ->
        Relational5.q11ImportantStock(t),
      "q16_supplier_relationship (r11: distinct supply pairs once; NOT-IN as broadcast anti join)" ->
        Relational5.q16SupplierRelationship(t),
      "q20_potential_promotion (r11: nested agg to per-supplier shares; exact integer compare; semi join out)" ->
        Relational5.q20PotentialPromotion(t),
      "quality_kn_bigram (r11: every KN statistic re-aggregates the ONE c12 table; un-hinted n-gram joins)" ->
        TextAnalysis.knBigramScore(t),
      "html_extract (r11: map-only codegen'd regex chain; no shuffle before the output sort)" ->
        Html.htmlExtractQuery(t),
      "q_kcore (r11: final-round shape — two semi joins vs alive + map-side degree count; node keys only)" ->
        Graph.kCoreQuery(t),
      "merge_scd2 (r11: current slice vs snapshot = inner + two anti joins on the key; no window)" ->
        Incremental.mergeScd2(t),
      "q_bootstrap_ci (r11: map-side x64 replicate expansion; integer-cent replicate sums; rank-picked bounds over B rows)" ->
        Analytics3.bootstrapCi(t),
      "q_ewma (r11: inverse-decay closed form — one running-sum window per event type, no recursion)" ->
        Analytics3.ewma(t),
      "q_survival (r11: per-user collapse; triangular joins on the distinct-durations table — no unpartitioned window)" ->
        Analytics2.survival(t),
      "embed_pca_project (r11: basis as broadcast literals; map-only vec_dot projection, no shuffle)" ->
        Pca.projectQuery(t),
      "embed_pca_topk (r11: reduced-space approx pass on broadcast queries; 256-candidate exact re-rank)" ->
        Pca.pcaTopK(t),
      "q_interval_overlap (r11b: hour-bucket equi-join candidates; single-bucket emission rule — no dedup exchange; epoch-long predicates)" ->
        Events.intervalOverlap(t),
      "q_rank_profile (r11b: percent_rank/cume_dist from histogram cumulatives; the only window is price-domain-sized)" ->
        Relational6.qRankProfile(t),
      "q_triangles_pernode (r11b: pair-strength agg -> TakeOrdered cut -> BOTH triangle joins broadcast the capped edges)" ->
        Graph.trianglesQuery(t),
      "q_winsorized_mean (r11b: exact-rank bounds from the (group,cents) histogram; clamp re-aggregates it vs broadcast bounds — no corpus sort)" ->
        Analytics4.winsorizedMean(t),
      "embed_knn_graph (r11b: broadcast self-pairs; WindowGroupLimit per-source top-k; reversed-key self-join for mutuality)" ->
        Similarity.knnGraph(t),
      "q_welch_ttest (r11b: one exact-cents moment aggregate; arms pair up on the tiny moment table)" ->
        Analytics4.welchTTest(t),
      "q_nb_score (r11b: factored smoothing — broadcast model LEFT join, no dense class-x-vocab product; per-doc argmax window)" ->
        Classify.nbScore(t),
      "dedup_containment_capped (r12: df keep-set as a pre-join filter on the shingle table; sizes AND self-join both capped)" ->
        Dedup.containmentPairsCapped(t),
      "q_approx_pct_gate (r12: grid-sized sketch table broadcast; ONE lineitem pass computes every rank interval)" ->
        Relational2.qApproxPctGate(t),
      "embed_pca_gate (r12: map-only whitened projection; one k(k+1)/2-cell scalar aggregate; verdict rows driver-side grid)" ->
        Pca.projectGate(t),
      "q_cms_gate (r12: sketch build + candidate-filtered exact agg; both broadcast into the 10-row verdict grid)" ->
        TextAnalysis.cmsGate(t),
      "q_hll_gate (r12: daily sketches + first-seen histogram; both prefix passes are day-grid triangular joins)" ->
        Analytics2.hllGate(t),
      "q_bloom_gate (r12: exact contaminated set LEFT-joined to the subquery-fed bloom pass; ids only past the shingle scans)" ->
        Decontaminate.bloomGate(t),
      "embed_ivf_kmeans gate (r13: broadcast centroid literals, map-only argmin re-check, k-row aggregate)" ->
        Similarity.ivfKmeansGate(t),
      "pack_sequences (r14: prefix-sum offsets, bounded per-doc explode, one seq_id aggregate — integer div cut points)" ->
        Layout.packSequences(t),
      "stop_shingles (r14: map-side-combined df aggregate, 1-row total broadcast, k-row TakeOrdered)" ->
        Dedup.stopShingles(t),
      "quality_blocklist (r14: inline-literal term list, row-local array funcs, no shuffle before the output sort)" ->
        QualityRules.blocklist(t),
      "quality_entropy (r14: sorted-fold entropy + TTR, all row-local; no shuffle before the output sort)" ->
        QualityRules.entropyRules(t),
      "src_partitioned_prune (r14: partition-key predicate consumed by PLANNING-time directory pruning — PartitionFilters, empty data pushdown)" ->
        graft.sources.Formats.documentsPartitionedPrune(t),
      "q_filter_funnel (r14: one fp-window keeper shuffle, row-local gates, 1-row conjunction aggregate inlined to 4 stage rows)" ->
        Curate.filterFunnel(t),
      "q_dp_counts (r14: one map-side-combined source aggregate; Laplace draw per GROUP in the projection)" ->
        Curate.dpCounts(t),
      "multimodal_cdc (r14: O(n) CdcCutsExpr per row, ONE explode pass — payload never shuffles; n_blobs = pruned-scan count broadcast)" ->
        graft.multimodal.Multimodal.cdcChunksQuery(spark, "/root/testdata/sf0.001"),
      "multimodal_cdc_dedup (r14: digest-keyed self-join on per-blob chunk multiplicities; byte containment in the projection)" ->
        graft.multimodal.Multimodal.cdcDedupQuery(spark, "/root/testdata/sf0.001"),
      "dedup_sentences (r14: sentences reduce to (md5, doc_id, len) at the scan; df aggregate + membership join key on the digest)" ->
        Dedup.dedupSentences(t),
      "q_fuzzy_linkage (r14: blocked on clean (brand, size) keys — per-block quadratic only; argmin as two exact aggregates)" ->
        Linkage.fuzzyLinkage(t),
      "q_ngram_novelty (r14: shared windowHashesOf digests — one min aggregate + one digest-keyed join, 15-hex keys only past the scan)" ->
        CorpusScience.ngramNovelty(t),
      "q_k_anonymity (r14: one QI-keyed aggregate + enum-bounded band rollup; only the QI tuple shuffles)" ->
        Privacy.kAnonymity(t),
      "q_word_burstiness (r14: one (word, doc) aggregate + one word-keyed moment aggregate; exact LONG sums to the final divisions)" ->
        CorpusScience.wordBurstiness(t),
      "q_wilson_rank (r14: one partkey aggregate + TakeOrdered(k) — no join, no window, no full sort)" ->
        Experiment.wilsonRank(t),
      "q_cuped (r14: one user-keyed aggregate, then 2-row variant rollup ⋈ 1-row pooled-moment broadcast)" ->
        Experiment.cuped(t),
      "q_bh_fdr (r14: brand aggregate with planner-broadcast part join; rank = triangular broadcast self-count on the ≤|brands| rollup — no window)" ->
        Experiment.bhFdr(t),
      "q_srm_check (r14: one user-keyed aggregate → 1-row fold; the corpus collapses at the first exchange)" ->
        Experiment.srmCheck(t),
      "q_diff_in_diff (r14: one user-keyed signed-sum aggregate → 1-row conditional-sum fold, no second shuffle)" ->
        Experiment.diffInDiff(t),
      "q_power_mde (r14: brand aggregate with planner-broadcast part join; MDE arithmetic on the ≤|brands| rollup)" ->
        Experiment.powerMde(t))
    val sb = new StringBuilder
    sb.append("# Plan snapshots (round 14)\n\nGenerated by `graft.PlanDump` at sf0.001; ")
    sb.append("`PlanAuditSpec` asserts these shapes stay true.\n")
    qs.foreach { case (title, df) =>
      sb.append(s"\n## $title\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).take(6000))
      sb.append("\n```\n")
    }
    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/PLANS_r14.md"), sb.toString)
    println("wrote docs/PLANS_r14.md")
    spark.stop()
  }
}
