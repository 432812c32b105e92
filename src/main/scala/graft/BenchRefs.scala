package graft

/** Committed per-query bench references at sf0.1, in raw seconds.
  * Bench's suspect-retime pass re-times any query that reads more than
  * `3 x ref` AND more than `ref + 0.75 s`: BENCH_r12's 18.0 s
  * `dd_tfidf_cos` (really 3.8 s warm — a mid-run environment excursion
  * on the bench host) was indistinguishable in the artifact from
  * a real 8x regression, so outliers now re-time themselves once, warm,
  * and ship BOTH readings.
  *
  * Maintenance: a ref is pinned from a query's raw reading in a
  * committed full run's bench_full.json (most entries predate that and
  * were pinned from rescaled readings; the rot-gate below holds them
  * to the raw readings too). Re-pin a ref when a deliberate perf change
  * moves that query's steady state: a ref left at the old steady state
  * lets a 3x regression of the NEW one pass unretimed (or burns retime
  * slots on a query that got slower on purpose). Ordinary drift never
  * requires an update — the trigger only fires above 3x. ToolingSpec's
  * drift rot-gate asserts every ref stays within 3x (+0.75 s) of the
  * committed bench_full.json reading, so a stale ref fails the suite
  * instead of mis-arming the retime trigger.
  */
object BenchRefs {
  /** Drift rot-gate predicate: refs that have silently drifted from the
    * engine's committed steady state. `readings` is the committed
    * bench_full.json per-query map. A side more than `factor`x the
    * other PLUS an absolute slack is an outlier: either a perf change
    * landed without a ref update, or a re-pin went stale — both mis-arm
    * Bench's retime trigger (a stale-high ref lets a real regression
    * pass unretimed; a stale-low one burns retime slots on noise).
    * The additive slack ignores sub-second scheduler noise, same
    * reasoning as suspectsOf's 0.75 s slack: a ref that small cannot
    * mis-adjudicate the 3x-class excursions the trigger exists for.
    * ToolingSpec runs this against the committed artifact and proves
    * it fires on a 5x perturbation in either direction. */
  def driftOutliers(readings: Map[String, Double],
                    factor: Double = 3.0, slackSec: Double = 0.3): Seq[String] =
    calm.toSeq.sortBy(_._1).collect {
      case (n, ref) if readings.get(n).exists(v =>
        v > 0 && math.max(ref, v) > factor * math.min(ref, v) + slackSec) => n
    }

  val calm: Map[String, Double] = Map(
    "agg_ab"->0.208, "agg_anova"->0.147, "agg_approx_distinct"->0.169,
    "agg_auc"->0.380, "agg_bloom"->0.400, "agg_bootstrap"->0.383,
    "agg_calibration"->0.227, "agg_cms"->0.628, "agg_count_window"->0.353,
    "agg_cube"->0.232, "agg_cuped"->0.522, "agg_distinct"->0.180,
    "agg_funnel"->0.684, "agg_gini"->0.429, "agg_global_stats"->0.111,
    "agg_grouping_sets"->0.217, "agg_having"->0.231, "agg_heavy_hitters"->0.535,
    "agg_hll_manual"->0.179, "agg_hll_merge"->0.181, "agg_markov"->0.546,
    "agg_maxby"->0.118, "agg_mode"->0.236, "agg_moments"->0.139,
    "agg_ntile"->0.626, "agg_pareto"->0.374, "agg_paths"->0.397,
    "agg_percentile"->0.167, "agg_polish"->0.959, "agg_power"->0.126,
    "agg_pricing_summary"->0.202, "agg_qsketch"->0.182, "agg_retention"->0.468,
    "agg_rollup"->0.281, "agg_srm"->0.087, "agg_string_agg"->0.117,
    "agg_survival"->0.392, "agg_top3_emit"->0.177, "agg_udaf_maxmin"->0.126,
    "agg_weighted_avg"->0.214, "dd_cdc"->0.226, "dd_chunk"->0.159,
    "dd_cluster"->0.252, "dd_containment"->1.570, "dd_crossrc"->1.092,
    "dd_exact"->0.260, "dd_incremental"->0.208, "dd_jaccard"->1.255,
    "dd_minhash"->0.956, "dd_recall"->1.237, "dd_simhash"->0.904,
    "dd_spans"->1.093, "dd_substr"->0.558, "dd_tfidf_cos"->2.476,
    "dd_winnow"->1.073, "emb_binary"->0.313, "emb_centroid"->0.149,
    "emb_ch_index"->0.642, "emb_decontam"->0.201, "emb_drift"->0.270,
    "emb_hardneg"->0.388, "emb_ivf_assign"->0.223, "emb_ivf_knn"->0.385,
    "emb_ivfpq"->0.695, "emb_kcenter"->0.166, "emb_kmeans"->0.370,
    "emb_knn"->0.234, "emb_knn_graph"->1.037, "emb_lsh_buckets"->0.256,
    "emb_matryoshka"->0.424, "emb_mips"->0.201, "emb_mmr"->0.257,
    "emb_mrr"->1.041, "emb_neardup"->0.664, "emb_norms"->0.058,
    "emb_pca"->0.699, "emb_pca_scores"->0.788, "emb_pq"->0.407,
    "emb_probe"->1.345, "emb_purity"->0.725, "emb_recall"->0.706,
    "emb_rq"->0.266, "emb_semdedup"->0.210, "emb_sq8"->0.206,
    "emb_triplets"->0.158, "fn_bitwise"->0.059, "fn_conditional"->0.072,
    "fn_convert"->0.066, "fn_geo"->0.075, "fn_json"->0.062,
    "fn_math"->0.065, "fn_nested"->0.075, "fn_regex"->0.055,
    "fn_string"->0.066, "fn_temporal"->0.062, "graph_assortativity"->0.492,
    "graph_bfs"->0.067, "graph_cc"->0.063, "graph_domainrank"->0.922,
    "graph_hits"->1.147, "graph_kcore"->0.564, "graph_lpa"->0.246,
    "graph_pagerank"->0.409, "graph_ppr"->1.118, "graph_reciprocity"->0.294,
    "graph_triangles"->0.158, "join_anti"->0.157, "join_asof"->0.124,
    "join_asof_native"->0.207, "join_asof_tol"->0.165, "join_cogroup"->0.121,
    "join_cross"->0.123, "join_full"->0.133, "join_fuzzy"->0.297,
    "join_hints"->0.455, "join_inner_chain"->0.432, "join_interval"->0.286,
    "join_left"->0.140, "join_range"->0.735, "join_right"->0.157,
    "join_semi"->0.169, "join_skew"->0.286, "join_window"->0.278,
    "mm_dedup"->0.133, "mm_features"->0.080, "mm_frame_sample"->0.093,
    "mm_manifest"->0.077, "mm_phash"->0.288, "mm_webdataset"->0.168,
    "over_dedup"->0.253, "over_first_last"->0.072, "over_lag_lead"->0.081,
    "over_pct_cume"->0.071, "over_range_time"->0.081, "over_rank_topn"->0.406,
    "over_running_sum"->0.093, "over_sliding"->0.076, "over_sum_distinct"->0.080,
    "pat_followany"->0.313, "pat_fraud"->0.217, "pat_group_times"->0.314,
    "pat_mr"->0.303, "pat_mr_nav"->0.323, "pat_mr_notfollow"->0.283,
    "pat_mr_reluctant"->0.325, "pat_mr_sql"->0.343, "pat_mr_updown"->0.302,
    "pat_nfails"->0.196, "pat_or_cond"->0.352, "pat_seq_within"->0.278,
    "pat_timeout"->0.266, "pat_until"->0.275, "pipe_budget"->0.222,
    "pipe_ccnet"->1.394, "pipe_chunk"->0.122, "pipe_classify"->0.070,
    "pipe_classify_train"->0.368, "pipe_cloze"->0.367, "pipe_curation"->1.541,
    "pipe_curriculum"->0.085, "pipe_decontam"->0.417, "pipe_dsir"->1.010,
    "pipe_epochs"->0.180, "pipe_gate"->0.330, "pipe_groupsplit"->0.186,
    "pipe_interleave"->0.153, "pipe_keepset"->0.296, "pipe_ksample"->0.176,
    "pipe_lenbucket"->0.197, "pipe_mix"->0.123, "pipe_pack"->0.188,
    "pipe_profile"->0.113, "pipe_sample"->0.087, "pipe_shard"->0.071,
    "pipe_spancorrupt"->0.168, "pipe_split"->0.145, "pipe_unimax"->0.148,
    "pipe_urlnorm"->0.312, "pipe_wsample"->0.169, "pipe_zorder"->0.071,
    "rel_case_when"->0.143, "rel_cdc_materialize"->0.227, "rel_distinct"->0.188,
    "rel_except"->0.193, "rel_except_all"->0.272, "rel_filter_project"->0.082,
    "rel_inline_values"->0.140, "rel_intersect"->0.221, "rel_intersect_all"->0.399,
    "rel_pivot"->0.124, "rel_retract_log"->0.213, "rel_scd2"->0.079,
    "rel_sort_limit_offset"->0.107, "rel_union_all"->0.167, "rel_union_distinct"->0.194,
    "rel_unpivot"->0.142, "rel_zip_index"->0.306, "text_bm25"->0.348,
    "text_bpe"->0.068, "text_bpe_train"->0.745, "text_c4"->0.141,
    "text_chi2"->0.245, "text_dispersion"->0.493, "text_entropy"->0.222,
    "text_fertility"->0.172, "text_fingerprint"->0.064, "text_gopher"->0.123,
    "text_jsd"->0.366, "text_kneser"->0.826, "text_ks"->0.271,
    "text_langid"->0.079, "text_langid_nb"->1.616, "text_lm_bigram"->1.149,
    "text_lm_nll"->0.690, "text_mannwhitney"->0.141, "text_oov"->0.293,
    "text_outliers"->0.280, "text_pii"->0.067, "text_pmi"->0.460,
    "text_quality"->0.071, "text_rake"->0.809, "text_readability"->0.094,
    "text_repetition"->0.165, "text_rrf"->0.261, "text_stats"->0.056,
    "text_tfidf"->0.906, "text_token_freq"->0.247, "text_unigram_seed"->0.242,
    "text_winnow"->0.236, "text_zipf"->0.229, "tw_acf"->0.213,
    "tw_anomaly"->0.255, "tw_cpd"->0.311, "tw_cumulate"->0.204,
    "tw_daily"->0.128, "tw_gapfill"->0.200, "tw_hop"->0.244,
    "tw_mase"->0.175, "tw_motif"->0.508, "tw_rollup"->0.164,
    "tw_seasonal"->0.191, "tw_session"->0.308, "tw_session_dynamic"->0.301,
    "tw_spendreport"->0.211, "tw_stickiness"->0.278, "tw_topn_hot"->0.189,
    "tw_tsim"->0.297, "tw_tumble"->0.221, "tw_tumble_offset"->0.143,
    "tw_windowall"->0.129
  )
}
