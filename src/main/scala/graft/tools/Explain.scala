package graft.tools

import java.nio.file.{Files, Paths}
import graft.SparkEntry

/** Dumps `explain("formatted")` for the flagship queries to EXPLAIN.md —
  * the plan-review loop (pushdown present? dims broadcast? exchanges
  * minimal?) captured as a repo artifact.
  * Usage: runMain graft.tools.Explain [sfDir] [outFile]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("EXPLAIN.md")
    // fixed core count: EXPLAIN.md's exchanges print the partition count
    val spark = graft.core.Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")

    val flagships = Seq(
      "q01_pricing_summary",   // pushdown + partial agg
      "q03_region_rollup",     // broadcast dim joins
      "q11_latest_per_group",  // single-exchange window
      "q18_cvd_report",        // window + pivot + banding, one exchange
      "q19_t2d_report",        // the same shape with a text pivot
      "q20_wellness_score",    // pivot + two-select wellness scoring
      "q24_minhash_dedup_pairs", // LSH candidate join + native expr + triangle split
      "q26_simhash_fingerprint", // native SimHash64 + hashed fingerprint (narrow map)
      "q27_cosine_topk",       // broadcast queries + native cosine
      "q29_asof_join",         // union-tag-window as-of
      "q37_ml_cluster_pipeline", // impute + native PCA/k-means kernels
      "q38_lab_summary",       // pivot + explode-literal unpivot (no metadata join)
      "q39_embedding_dup_pairs", // hyperplane-LSH pair gen + exact verify
      "q40_simhash_dup_pairs", // pigeonhole block join over portable sigs
      "q43_salted_agg",        // two-stage salted aggregation
      "q45_stratified_sample", // portable-bucket stratified sampling (narrow map)
      "q44_stream_dedup_twin", // first-wins dedup window
      "q54_bucketed_join",     // bucketed scans -> zero-exchange SMJ
      "q58_decontamination",   // native distinct-shingle kernel + 1:1 semijoin
      "q62_sentence_dedup",    // hash-keyed global first-occurrence window
      "q63_topk_custom_operator", // custom partial/final physical heaps, no sort
      "q64_sequence_packing",  // range-partitioned two-job prefix sum
      "q65_sentence_dedup_twostage", // skew path: min-per-hash pre-agg + join-back
      "q66_source_quota_topk", // skew path: TopK combiner caps the mega-source
      "q70_column_profile",    // per-column union branches, no Expand
      "q71_common_run_pairs",  // winnow kernel + fused native verify join
      "q74_dsir_weights",      // native shingle kernel + broadcast m-row stats
      "q76_semantic_dedup",    // centroid-bucketed pairs + payload triangle split
      "q77_decontaminate_bloom", // Bloom prefilter UNDER the eval exchange
      "q78_quality_classifier", // broadcast-weight native fold, zero shuffle
      "q79_media_features",    // binary decode as partition-batched narrow map
      "q82_ivf_topk",          // probed-cell equi-join, per-query window
      "q83_shard_shuffle",     // one hash exchange + per-shard sorts
      "q84_curation_pipeline", // 4-operator composition, shuffles = sum of parts
      "q85_ngram_jaccard_pairs", // hot-ordered prefix join + PPJoin filters + merge verify
      "q86_doc_chunks",        // narrow chunk generator, zero exchange
      "q88_bm25_topk",         // query-term-filtered narrow scans + broadcast df/stats
      "q89_bigram_lm_nll",     // corpus-count joins on natural keys + pinned fold
      "q90_cdc_upsert",        // one keyed shuffle: union -> window -> filter
      "q91_duplicate_spans",   // gram-hash agg + same-key join-back
      "q92_bpe_pair_counts",   // distinct-word collapse + TakeOrdered top-N
      "q93_scd2_intervals",    // one keyed shuffle: per-key lead window
      "q94_stream_window_twin",// batch twin of the watermarked window agg
      "q95_tfidf_topk",        // shared term shuffle feeds df agg + tf⋈df join
      "q97_kmeans_train",      // broadcast-centroid argmin, narrow final assignment
      "q101_covariance_matrix",// outer-product explode collapsed by partial agg
      "q103_fuzzy_word_pairs", // deletion-variant bucket join + levenshtein verify
      "q104_weighted_sample",  // narrow score map + TakeOrderedAndProject
      "q105_event_funnel",     // per-stage filtered MIN aggs, user-keyed joins
      "q106_source_kl_drift",  // bucket counts + generated grid + pinned fold
      "q107_coverage_cutoff",  // combined agg -> tiny-frame rank/cumsum window
      "q109_session_window",   // native gap-merge session operator
      "q110_incremental_agg",  // base-agg ∪ delta one-shuffle merge
      "q113_cube_grouping_sets", // Expand + single hash aggregate
      "q114_window_rank_family", // 4 ranking fns, ONE exchange + sort
      "q115_resample_gapfill", // constructional gap fill, no grid join
      "q116_snapshot_diff",    // full-outer SMJ, delta-sized output
      "q117_winsorize_stats",  // percentile agg -> broadcast bounds -> agg
      "q118_embedding_quantize", // zero-shuffle narrow quantization
      "q119_interval_join_twin", // keyed equi-join + range residual
      "q120_ewma_features",    // frame-fold EWMA, one exchange
      "q121_pagerank",         // iterated edge join + fixed-point dst sums
      "q122_cohort_retention", // distinct-collapse-first retention
      "q124_quantile_bucketize", // broadcast cuts + fold assignment
      "q125_group_sample_topk", // TopKPerGroup as deterministic sampler
      "q127_dau_wau_stickiness", // contribution-explode rolling distinct
      "q128_quality_expectations", // N checks, one aggregation pass
      "q129_cluster_labels",   // c-TF-IDF: shared term shuffle, k×top-n output
      "q130_embedding_drift",  // dim-wide per-group means, no posexplode
      "q131_minhash_index_roundtrip", // persisted index scan ⋈ batch kernel
      "q132_mad_outliers",     // two grouped percentile passes + counting agg
      "q133_rrf_fusion",       // k×groups-bounded rank full-outer + re-rank
      "q134_bpe_apply",        // distinct-word collapse + codegen merge loop
      "q135_pagerank_dangling", // q121 + per-iter broadcast dangling aggregate
      "q136_minhash_index_merge", // anti-join append, batch-only text kernel
      "q137_bpe_train",        // vocab-sized round aggregates, corpus touched once
      "q138_range_join",       // binned equi-join replaces the nested loop
      "q139_incremental_components", // batch-sized CC + broadcast relabel
      "q140_product_quantization", // codebook argmin encode + ADC narrow scan
      "q141_bpe_token_costs",  // broadcast vocab join-back, no re-encode
      "q142_ivf_pq_search",    // probed-cell filter + ADC lookup scan
      "q143_ivf_pq_index_merge", // anti-join fold + probed search over merged
      "q144_hll_vocab_sketch", // bucket-max agg + register-array collapse
      "q145_ridge_probe",      // one-pass moments + broadcast-weight scoring
      "q146_hard_negatives",   // label-mismatch join through TopKPerGroup
      "q147_containment_pairs", // one-sided prefix join + sorted-merge verify
      "q148_bm25_index_lifecycle", // postings probe, no corpus text scan
      "q149_maxsim_rerank",    // candidate-bounded maxsim fold
      "q150_mixture_epochs",   // stratum-stats broadcast + narrow epoch explode
      "q151_triangle_count",   // degree-oriented wedge join, O(m^1.5) bound
      "q152_label_propagation",// per-round label-diversity pre-collapse
      "q153_cusum_changepoints", // one exchange+sort, two window passes
      "q154_rolling_zscore",   // shared trailing frame, integer z-test
      "q155_count_min_sketch", // x4 slot fan-out + 256-cell combine
      "q156_phrase_search",    // vocab filter inside array, shared doc exchange
      "q157_text_normalize",   // single codegen pass, zero exchange
      "q158_near_dup_survivorship", // max-of-struct pick, no component window
      "q159_histogram_quantile_sketch", // slot count + rank-walk fold
      "q160_pmi_collocations", // one frozen bigram shuffle, 4 consumers
      "q161_dup_span_removal", // int starts cross gram shuffle, narrow fold cut
      "q162_salted_join",      // dim ×8 replication, (key, salt) equi-join
      "q163_token_entropy",    // count-multiplicity collapse + pinned fold
      "q164_token_tail_stats", // same collapse, pure integer sums
      "q165_interval_audit",   // one exchange+sort, running-max frame
      "q166_frequent_paths",   // lead-chain n-grams, one user window
      "q167_exact_stratified_split", // two-job prefix-sum rank, no stratum window
      "q168_isotonic_calibration", // one bin aggregate + tiny minimax grid
      "q169_mlm_masking",      // narrow transform-with-index, zero exchange
      "q170_corpus_report",    // fused q163/q164 collapse, one term shuffle
      "q171_roc_auc",          // unit-collapse agg + <=resolution-row window
      "q172_ks_drift",         // same collapse, integer ECDF cross-multiply
      "q173_ranking_eval",     // rank<=k join + k-bounded sorted folds
      "q174_cohen_kappa",      // one contingency pass + cell-table marginals
      "q175_chi2_terms",       // presence distinct + vocab-bounded top-k window
      "q176_js_divergence",    // intersection-only term join + (x,y) collapse
      "q177_naive_bayes",      // term-map join, map-side x-labels collapse
      "q178_pr_curve",         // desc prefix sums on the unit collapse
      "q179_calibration_error",// integer-telescoped bin aggregate
      "q180_mcnemar",          // one combinable discordant-count agg
      "q181_fairness_audit",   // group rates + broadcast overall row
      "q182_kn_cross_entropy", // train-type counts joined to (src,w1,w2,m)
      "q183_join_view_ivm",    // stored view ∪ three delta joins
      "q184_woe_iv",           // one bucket count pass + broadcast totals
      "q185_loo_target_encode",// bucket cells joined back, no window
      "q186_nb_heldout",       // split-model term-map join, LEFT for OOV
      "q187_lift_table",       // unit collapse + bounded ×buckets explode
      "q188_mutual_info_terms",// presence contingency, int64 pico-unit key
      "q189_feature_hash",     // explode + (id, idx) combine, nothing else
      "q190_psi_drift",        // one (g, bin) count pass + broadcast grids
      "q191_cuped",            // single six-moment aggregate per group
      "q192_referential_audit",// anti-join per relation, distinct parent keys
      "q193_conformal_threshold", // unit-collapse cumulative walk, int-exact k
      "q194_ab_test",          // one arm-count aggregate + IEEE readout
      "q195_lsh_recall_eval",  // two dedup operators + 1-row count joins
      "q196_bootstrap_ci",     // m-resample slot join on (g, rank)
      "q197_unigram_lm",       // vocab-sized DP fold, corpus touched once
      "q198_unigram_encode",   // forward DP + backtrack, per-vocab-entry
      "q199_ppl_gate",         // KN per-doc NLL + conformal cutoff join
      "q200_kcenter_coreset",  // k-1 argmax rounds, broadcast centers
      "q201_mmr_rerank",       // bounded candidate joins, frozen rounds
      "q202_jaccard_index_lifecycle", // persisted-array prefix join, no text kernel on corpus
      "q203_containment_vs_index", // index postings probe, batch-only prefixes
      "q204_curation_pipeline", // 6-stage composition, exchanges = sum of parts
      "q205_opq_rotated_pq",   // broadcast d x d rotation fold + PQ encode/ADC
      "q206_wordpiece_apply",  // distinct-word collapse + codegen greedy match
      "q207_blocklist_counts", // broadcast automaton, one codegen pass, zero shuffle
      "q208_url_canonicalize", // fused canonical/host/domain narrow projection
      "q209_domain_quota",     // derived-domain key feeding the quota window
      "q210_opq_ivfpq_search", // rotation fused into build scan; serve path unchanged
      "q211_boilerplate_removal", // line explode + group-count join-back, q62 shape
      "q212_blocklist_scrub",  // one automaton pass, zero shuffle
      "q213_url_crawl_dedup",  // canonical-key collapse, one agg exchange
      "q214_opq_ivfpq_merge",  // frozen-model rotated fold, batch-only kernels
      "q215_ppl_tercile_gate", // corpus-count joins + one per-lang rank exchange
      "q216_crawl_capstone",   // 5-stage composition, exchanges = sum of parts
      "q217_containment_posting_store", // bucket-pruned store serve, candidate-bounded verify
      "q218_exact_duplicate_spans", // every-position grams, hash prefilter + string verify
      "q219_langid_ngram",     // hashed char-trigram NB, map-side label expansion
      "q220_time_travel",      // manifest reads, per-version upsert windows
      "q221_exact_span_removal", // exact positions + one doc-keyed text join
      "q222_ann_recall_eval",  // probe-pruned ADC vs TakeOrdered exact truth
      "q223_html_extract",     // single codegen kernel projection, zero shuffle
      "q224_ann_recall_curve", // shared exact truth, per-config probe-pruned cuts
      "q225_langid_segment",   // paragraph posexplode + term-keyed model join
      "q226_stats_pruned_read", // manifest zone-map pruning + compaction read
      "q227_link_extract",     // link kernel + posexplode + narrow resolve
      "q228_crawl_frontier",   // extract→resolve→canonicalize→2 TopK cuts
      "q229_html_metadata")    // early-exit meta kernel, zero shuffle

    val sb = new StringBuilder
    sb.append("# EXPLAIN — flagship physical plans\n\n")
    sb.append(s"Generated from `$sfDir` (AQE on). Things to check per plan:\n")
    sb.append("PushedFilters / ReadSchema on scans, BroadcastHashJoin for dims,\n")
    sb.append("one hashpartitioning Exchange per window/agg, `*(n)` codegen spans.\n\n")
    flagships.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"## $name\n\n```\n$formatted\n```\n\n")
    }

    // Scale audit: the heavy dedup family at sf0.1 with auto-broadcast
    // SUPPRESSED and the plans EXECUTED (final AQE stages). At sf0.001
    // every join broadcasts, so the section above never exhibits the
    // exchange structure a 1000-executor run lives on; these plans do —
    // they are the shapes the 100 TB claims in SCALING.md point at.
    // PlanSpec asserts the load-bearing properties (no cartesian, no raw
    // text in any exchange or frozen shared shuffle) on every CI run.
    val auditSf = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val heavy = Seq(
      "q24_minhash_dedup_pairs", "q39_embedding_dup_pairs",
      "q41_near_dup_clusters", "q71_common_run_pairs", "q76_semantic_dedup")
    sb.append(s"# Scale audit — `$auditSf`, autoBroadcastJoinThreshold=-1, executed final plans\n\n")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    heavy.foreach { name =>
      val df = SparkEntry.queries(name)(spark, auditSf)
      df.write.mode("overwrite").format("noop").save()
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"## $name (no-broadcast, executed)\n\n```\n$formatted\n```\n\n")
    }
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    Files.writeString(Paths.get(out), sb.toString)
    println(s"[explain] wrote $out (${flagships.size} + ${heavy.size} audit plans)")
    spark.stop()
  }
}
