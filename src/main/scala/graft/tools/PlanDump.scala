package graft.tools

import java.nio.file.{Files, Paths}
import graft.SparkEntry
import graft.core.Sessions

/** Regenerates PLANS.md: formatted physical plans for the headline
  * queries — the scale-audit evidence (pushdown, broadcast, partial
  * agg, WindowGroupLimit, custom exec). Run:
  *   sbt "runMain graft.tools.PlanDump"
  */
object PlanDump {
  val headline = Seq(
    "rel_filter_project" -> "filter+projection pushdown into the parquet scan",
    "join_inner_chain" -> "star join: broadcast dims, map-side partial agg",
    "join_semi" -> "EXISTS planned as LeftSemi",
    "join_interval" -> "interval join keeps its equi key (no nested loop)",
    "join_asof_native" -> "custom AsOfJoinExec via injected strategy",
    "tw_spendreport" -> "flagship: partial/final hash aggregate over hourly buckets",
    "over_rank_topn" -> "rank top-N with WindowGroupLimit pushdown",
    "emb_knn" -> "brute KNN: corpus un-shuffled, query side broadcast, top-k pushed",
    "dd_minhash" -> "MinHash-LSH: codegen signature kernel, banded candidate join, no all-pairs",
    "text_langid" -> "injected optimizer rule: size(filter(...))>0 -> exists(...)",
    "emb_kmeans" -> "Lloyd iteration: broadcast centroids, one (cell,dim) shuffle per round",
    "tw_cumulate" -> "CUMULATE TVF: explode projection (no shuffle) + one hash agg",
    "pipe_decontam" -> "decontamination: bench n-gram set broadcasts, training corpus scanned once",
    "emb_semdedup" -> "SemDeDup: cell assignment shared by both pair-join sides (runtime ReusedExchange)",
    "agg_bloom" -> "bloom build: one 2048-row shuffle, filter table broadcast to the probe side",
    "agg_cms" -> "count-min build: map-side partial agg into 256 counter keys",
    "emb_pq" -> "PQ search: codes + broadcast LUT join, corpus floats never rescanned",
    "dd_jaccard" -> "jaccard: two-phase df cap (partials below the count exchange) + zero-exchange anti join, no window sort",
    "pipe_curation" -> "curation capstone: min_by struct dedup shared by pair-gen and stats branches; rare-shingle df cap before the self-join",
    "agg_heavy_hitters" -> "Misra-Gries: ObjectHashAggregate partial ships k-bounded summaries",
    "agg_qsketch" -> "quantile histogram: 64-bin partials instead of a per-group sort",
    "pipe_profile" -> "profiling: one scan, 5-way expand, single hash agg",
    "text_repetition" -> "repetition signals: token_topcount kernel, zero-shuffle projection",
    "pipe_shard" -> "shard layout: one hash shuffle, per-shard sorts parallelize across shards",
    "tw_gapfill" -> "gap-fill: 1-row span broadcast builds the spine, keyed left join, per-series window",
    "dd_substr" -> "duplicated-substring measure: singleton-inversion ndup, every shuffle pre-aggregated, no window",
    "emb_sq8" -> "int8 scalar quantization: 64-row per-dim stats broadcast back, element-wise error",
    "emb_knn_graph" -> "kNN graph: occupancy-capped LSH self-join (ReusedExchange), top-k via WindowGroupLimit",
    "emb_lsh_buckets" -> "capped LSH assignment: occupancy agg broadcast back, rank-pack window per (gb,s1) cell",
    "text_bpe_train" -> "BPE training: one corpus scan, vocab exchange reused by all 3 merge rounds",
    "pipe_ksample" -> "exactly-k-per-stratum sample: WindowGroupLimit streaming top-k per stratum",
    "tw_session_dynamic" -> "dynamic-gap sessions: per-row gap expression, same one-shuffle sessionization",
    "join_skew" -> "salted skew join: dim exploded across salts and broadcast, fact side un-shuffled",
    "pipe_urlnorm" -> "URL canonicalize+dedup: keeper via hash-agg + shuffle-hash join back, no hot-canon window sort",
    "emb_ivfpq" -> "IVF+PQ search: one-scan index build (code agg rides the assign partitioning), query path is codes + broadcasts only",
    "pipe_budget" -> "token-budget selection: rank prefilter -> WindowGroupLimit heap bounds the cumsum window by the budget",
    "dd_chunk" -> "chunk-level dedup: keeper attribution folded into the per-hash min agg (no window), n_chunks from a narrow pruned re-scan",
    "agg_funnel" -> "funnel: per-stage pushed type filter + per-user min hash-agg, stages chained by user_id joins",
    "pipe_ccnet" -> "CCNet capstone: chunk-dedup gate (hash-agg keeper), one-tokenize LM lineage, mean-relative buckets (no per-language window sort)",
    "emb_pca" -> "PCA power iteration: one scan per round, 64-dim broadcasts, per-dim fsum partials",
    "dd_containment" -> "directed containment: dd_jaccard's rare-shingle cap + ReusedExchange self-join, asymmetric score",
    "graph_pagerank" -> "PageRank: per-round edge join + dst agg with map-side partials, 1-row scalar broadcasts",
    "text_entropy" -> "per-doc Shannon entropy: one tokenize, partial agg below the (doc,tok) exchange",
    "pipe_wsample" -> "weighted priority sample: element-wise priorities, global top-k as TakeOrderedAndProject (no sort/window)",
    "text_outliers" -> "median/MAD gate: bounded value->count percentile state, per-lang stats broadcast back",
    "text_ks" -> "KS drift test: corpus collapses to a bounded histogram, CDFs from a broadcast triangular join",
    "graph_hits" -> "HITS: per-round edge-keyed join + agg, L1 norms as 1-row broadcasts (no driver scores)",
    "agg_auc" -> "ROC AUC: score histogram + rank arithmetic, no per-row global sort",
    "text_pmi" -> "PMI collocations: one tokenize pass shared by unigram and bigram tables, vocab broadcasts",
    "dd_recall" -> "LSH recall sweep: pair table read once, 3 thresholds as one conditional agg + explode",
    "text_winnow" -> "winnowing fingerprints: two codegen kernels per row (shingle_hashes + winnow_fingerprints), zero shuffle before the output sort",
    "dd_winnow" -> "winnow pair detection: fingerprint-hash-blocked self-join with df cap, never all-pairs",
    "join_fuzzy" -> "fuzzy join: deletion-variant blocking keys -> hash join, levenshtein verify as join residual",
    "emb_rq" -> "residual quantization: broadcast codebooks, argmin hash-aggs, level-2 branch scan pruned to sample vectors",
    "text_kneser" -> "Kneser-Ney scoring: all KN statistics fold out of the vocab-sized bigram table, probability table broadcast back",
    "agg_bootstrap" -> "Poisson bootstrap: bounded x16 explode into one fsum hash-agg, replica table is 16 rows",
    "tw_anomaly" -> "EWMA anomaly flag: one (type,hour) agg, 8-lag bounded-frame window per key",
    "pipe_dsir" -> "DSIR selection: 64-bucket feature models broadcast, per-doc weight fold, top-k heap",
    "graph_ppr" -> "personalized PageRank: per-round edge join + agg, seed-restart vector, 1-row scalar broadcasts",
    "agg_cuped" -> "CUPED: one user-keyed agg, 1-row pooled-stat broadcasts, bounded second pass",
    "emb_purity" -> "purity/NMI eval: one assignment pass, bounded contingency arithmetic",
    "pipe_spancorrupt" -> "span corruption: one span_corrupt codegen kernel call per row behind a Generate barrier, single scan",
    "dd_cdc" -> "content-defined chunking: one cdc_chunks codegen kernel call per row, then the dd_chunk keeper shape (two hash-aggs, no window)",
    "emb_mmr" -> "MMR selection: K greedy rounds, each one top-1 TakeOrderedAndProject scan scoring against the <=K picks as literal vectors (no join, no exchange)",
    "emb_kcenter" -> "k-center coreset: same one-scan-per-round shape, least() over inline codegen vec_d2 calls",
    "tw_rollup" -> "cascading rollup: hour level re-aggregates minute partials, raw table scanned once",
    "pipe_classify_train" -> "logistic-GD training: one corpus scan per round into a 4-number fsum gradient agg, weight row broadcast",
    "text_rrf" -> "RRF hybrid retrieval: both top-50 lists via TakeOrderedAndProject heaps, rank windows on bounded lists only",
    "emb_hardneg" -> "hard-negative mining: probe broadcast with non-equi label guard, corpus streams, WindowGroupLimit top-3",
    "dd_tfidf_cos" -> "tf-idf cosine near-dup: rare-shingle-blocked candidates, sorted doc-vector joins + codegen sparse_dot_q20 merge kernel (no postings explosion), top-50 via TakeOrderedAndProject",
    "dd_spans" -> "exact shared spans: capRare-blocked positional seeds, per-(pair,diagonal) gaps-and-islands runs (window bounded by doc length)",
    "dd_crossrc" -> "cross-source dup matrix: combinatorial identity over (hash,source) counts, never the k^2 pair join",
    "join_range" -> "binned range join: probe exploded to 3 covering buckets -> bucket-id EQUI hash join + exact residual, never the O(N^2) cross join",
    "dd_incremental" -> "incremental dedup: corpus collapses ONCE to a broadcast bloom bitset, bloom verdict gates the exact-confirm join as a residual",
    "emb_binary" -> "binary-hash ANN: one-BIGINT sign codes, Hamming = bit_count(xor) integer ops, 8-probe broadcast, WindowGroupLimit top-3",
    "text_jsd" -> "JSD drift: one tokenize pass collapses to the vocab-sized count table, totals re-aggregate the table, sorted-fold sum",
    "graph_domainrank" -> "domain PageRank: corpus-scale condense (two endpoint joins + one hash-agg), then domains^2-bounded weighted rounds",
    "pipe_curriculum" -> "curriculum schedule: (stage, shard) uniform-key rank windows — 4*64 partitions, no per-stage window, no global sort",
    "text_c4" -> "C4 rule battery: one element-wise projection scan, no shuffle, no corpus statistics",
    "pipe_unimax" -> "UniMax water-filling: corpus collapses to the L-row source hash-agg; sort/prefix/level windows all on the L-row table",
    "emb_decontam" -> "embedding decontamination: benchmark side broadcasts, corpus streams through float_dot, max_by argmax (no window)",
    "emb_probe" -> "linear probe: one corpus scan per GD step, 64 fsum gradient partials, dim-bounded weight re-assembly broadcasts",
    "graph_bfs" -> "multi-source BFS: per round one src-keyed join of the self-looped edges against the previous distances + dst-keyed min hash-agg, one left join onto the node spine at the end; distances never on the driver",
    "tw_tsim" -> "time-series correlation: corpus collapses to the (type, hour) count grid; pair join + integer sufficient statistics on the span-bounded grid",
    "tw_motif" -> "matrix-profile motif: span-sized series (one hash-agg), span^2-bounded window pair join — SF-independent after the first aggregate",
    "tw_acf" -> "autocorrelation: one (hour) hash-agg, 48-lag self-join on the span grid, integer sufficient statistics",
    "tw_cpd" -> "CUSUM change-point: integer prefix window over the span-bounded series, 1-row global-mean broadcast",
    "mm_phash" -> "perceptual media near-dup: codegen block_mean_code kernel per row (zero-shuffle codes), banded Hamming candidates (no all-pairs)",
    "agg_survival" -> "Kaplan-Meier: one user-keyed hash-agg, survival arithmetic on the span-bounded lifetime histogram (prefix sums, no per-user window)",
    "text_rake" -> "RAKE keyphrases: element-wise run segmentation (no per-token window), (doc, run) hash-agg, vocab-sized word stats joined back",
    "graph_kcore" -> "k-core peeling: per round two endpoint semi-filters + one degree hash-agg, active set barriered per round",
    "agg_polish" -> "Tukey median polish: corpus collapses to the 168-cell grid once (barriered), sweeps are bounded 7/24-row medians + broadcast subtracts",
    "agg_hll_merge" -> "HLL sketch merge: one (day, bucket) hash-agg, register-wise max re-aggregation, both estimate paths on 64-row tables",
    "pipe_groupsplit" -> "group-aware split: one content-group hash-agg for the leakage audit, split-keyed stats, 1-row audit broadcast",
    "agg_anova" -> "one-way ANOVA: one group-keyed hash-agg of decimal-exact sufficient statistics, k-row re-agg, one F division",
    "graph_assortativity" -> "degree assortativity: one degree hash-agg + two endpoint joins, exact BIGINT sufficient statistics",
    "emb_ch_index" -> "Calinski-Harabasz: one assignment scan, (cell, dim) fsum means, one scoring scan vs broadcast means — dim-bounded tables",
    "text_dispersion" -> "term burstiness: one tokenize pass to the vocab-sized (df, sum, sumsq) table, three divisions per term",
    "tw_mase" -> "forecast baseline: span-bounded dense grid, two hour-keyed self-joins, integer error sums",
    "agg_gini" -> "Gini concentration: one user hash-agg, Lorenz trapezoid over the range-bounded spend histogram (no global user sort)",
    "pipe_cloze" -> "cloze synthesis: element-wise masking + one vocab-sized frequency broadcast, embarrassingly parallel",
    "agg_pareto" -> "top-decile share: descending cumulative windows over the range-bounded spend histogram, pro-rated boundary bucket",
    "tw_stickiness" -> "DAU/WAU: one (user, day) dedup, bounded x7 window-end explode, two distinct hash-aggs — no rolling-distinct window",
    "text_fertility" -> "tokenizer fertility: one projection scan into a lang-keyed hash-agg, integer sums",
    "emb_mrr" -> "MRR retrieval eval: broadcast-probe searches, bounded per-query top-k joins, exact reciprocal ranks",
    "text_oov" -> "vocabulary coverage: frequency top-k vocab broadcast back onto one tokenize stream, exact per-lang integer ratios",
    "rel_zip_index" -> "zipWithIndex: range-partitioned two-pass index (per-partition counts -> broadcast prefix offsets), no single-partition window; limit plans as TakeOrderedAndProject",
    "agg_ntile" -> "ntile quartiles: ZipIndex distributed rank + closed-form bucket split as literal arithmetic, no unpartitioned ntile window",
  )

  def main(args: Array[String]): Unit = {
    val spark = Sessions.build("graft-plandump")
    val d = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence for headline queries\n\n")
    sb.append("Generated by `graft.tools.PlanDump` at sf0.001 (plan shape is\n")
    sb.append("SF-independent; AQE size decisions may differ at scale).\n")
    sb.append("The structural properties here are frozen by PlanSpec.\n")
    headline.foreach { case (name, why) =>
      val plan = SparkEntry.queries(name)(spark, d).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name — $why\n\n```\n")
      sb.append(plan.split("\n\n").head)
      // keep the scan-level evidence lines from the detail section
      val evidence = plan.linesIterator.filter(l =>
        l.contains("PushedFilters") || l.contains("ReadSchema"))
        .map(_.trim).toSeq.distinct
      if (evidence.nonEmpty)
        sb.append("\n\n" + evidence.mkString("\n"))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    spark.stop()
    println("wrote PLANS.md")
  }
}
