package graft.tools

import graft.SparkEntry
import graft.core.Sessions

/** Whole-catalog physical-plan audit: flags the patterns that do not
  * survive a 100× scale-up, across EVERY registered query (PlanSpec
  * freezes the headline invariants; this sweeps the long tail).
  *
  *   CARTESIAN   CartesianProduct join
  *   BNLJ        BroadcastNestedLoopJoin (fine only when one side is
  *               a deliberate broadcast probe table, e.g. brute KNN)
  *   GLOBALWIN   a window function over a single unpartitioned
  *               partition (fine only on post-aggregate row counts)
  *   NOPUSH      a parquet scan with filters but no PushedFilters
  *
  * Run: sbt "runMain graft.tools.PlanAudit" — prints one line per
  * flagged query; exits 0 always (informational; PlanSpec is the gate).
  */
object PlanAudit {
  /** Queries where BNLJ is the DESIGN: one side is a deliberately
    * broadcast probe/constant table (query vectors, centroids, PQ LUT,
    * 1-row corpus totals, crossWithTiny) — the corpus side still
    * streams partition-parallel, so these scale. Anything else
    * acquiring a BNLJ is a regression. */
  private[graft] val expectedBnlj = Set(
    "emb_knn", "emb_mips", "emb_ivf_assign", "emb_ivf_knn", "emb_kmeans", "emb_pq",
    "emb_ivfpq", // centroid/codebook/LUT/probed-cell broadcasts, corpus streams
    "emb_recall", // composes emb_knn + emb_ivf_knn, inherits their probes
    "emb_semdedup", "join_cross", "text_lm_nll", "text_tfidf",
    "pipe_ccnet",  // text_lm_nll's 1-row corpus-total broadcast, inherited
    "emb_pca",     // 1-row mean/direction broadcasts, corpus streams
    "emb_pca_scores", // same trained-direction broadcasts, scoring scan
    "tw_gapfill",  // 1-row global-span broadcast builds the bucket spine
    "text_bm25",   // 1-row corpus-stats (nd, sumdl) broadcast
    "text_pmi",    // 1-row bigram-total broadcast onto the count table
    "text_bpe_train", // 1-row winning-merge broadcast per training round
    "graph_pagerank",  // 1-row node-count + per-round dangling-mass broadcasts
    "graph_hits",      // 1-row node-count + per-half-step L1-norm broadcasts
    "graph_triangles", // 1-row node-count broadcast builds the node spine
    "graph_cc",        // same node-count broadcast via the shared graph builder
    "graph_lpa",       // same node-count broadcast via the shared graph builder
    "graph_ppr",       // same 1-row seed-count/dangling-mass broadcasts
    "graph_domainrank", // same node-count/dangling-mass broadcasts on the condensed graph
    "text_ks",         // triangular <= join over the bounded length histogram
    "agg_auc",         // same triangular <= join, score histogram is bounded
    "text_chi2",       // 1-row grand-total broadcast onto the R x C cells
    "pipe_gate",       // composes emb_semdedup -> inherits its centroid broadcast
    "emb_rq",          // 4-row codebook broadcasts per level, corpus streams
    "emb_matryoshka",  // brute probe-vector broadcasts per truncation arm
    "text_kneser",     // 1-row bigram-type-total broadcast onto the vocab table
    "pipe_dsir",       // 1-row feature-total broadcast onto the 64-bucket table
    "text_langid_nb",  // L-row model crossJoin (bounded candidate fan-out)
    "agg_bootstrap",   // 1-row replica-spread/mean broadcasts onto the readout
    "agg_cuped",       // 1-row pooled-stat broadcasts onto the per-user pass
    "emb_purity",      // centroid broadcast + bounded contingency scalars
    "emb_drift",       // sources-count-sized centroid table pairwise join
    "graph_reciprocity", // 1-row scalar-count broadcasts onto the readout
    "pipe_keepset",    // composes emb_semdedup -> inherits its broadcasts
    "emb_hardneg",     // 8-row probe broadcast (non-equi label guard), corpus streams
    "emb_triplets",    // same 8-row anchor broadcast, one scoring stream
    "text_rrf",        // 1-row probe-vector broadcast, corpus streams
    "pipe_classify_train", // 1-row weight/gradient broadcasts per GD round
    "dd_tfidf_cos",    // 1-row corpus-count broadcast onto the postings
    "text_mannwhitney", // text_ks's bounded-histogram triangular join + 1-row totals
    "emb_binary",      // 8-row probe-code broadcast (non-equi self guard), corpus streams
    "text_jsd",        // 1-row totals broadcast onto the vocab-sized count table
    "emb_decontam",    // benchmark-set broadcast (eval-sized), corpus streams
    "pipe_unimax",     // 1-row budget/source-count broadcast onto the L-row table
    "emb_probe",       // 1-row weight/count broadcasts per GD step, corpus streams
    "graph_bfs",       // same node-count broadcast via the shared graph builder
    "tw_tsim",         // 1-row span broadcast builds the hour spine (gapfill shape)
    "tw_motif",        // span-bounded window pair join + 1-row span broadcast
    "tw_acf",          // 48-row lag table + 1-row global stats onto the span grid
    "tw_cpd",          // 1-row span/global-stat broadcasts onto the span grid
    "agg_survival",    // 1-row span-end/total broadcasts onto the lifetime histogram
    "graph_kcore",     // same node-count broadcast via the shared graph builder
    "agg_polish",      // 1-row effect-median broadcasts onto the 168-cell grid
    "agg_hll_merge",   // 1-row estimate/exact scalars cross-joined into the readout
    "pipe_groupsplit", // 1-row leakage-audit broadcast onto the 3-row split stats
    "graph_assortativity", // node-count broadcast via the shared graph builder
    "emb_ch_index",    // seed-centroid + assembled-mean broadcasts, corpus streams
    "text_dispersion", // 1-row doc-count broadcast onto the vocab-sized table
    "tw_mase",         // 1-row span broadcast onto the span-bounded grid
    "agg_gini",        // 1-row totals broadcast onto the range-bounded histogram
    "agg_pareto",      // same 1-row totals broadcast onto the spend histogram
    "tw_stickiness",   // 1-row span-start broadcast onto the day table
    "emb_mrr")         // composes emb_knn + emb_ivf_knn, inherits their probes

  /** Queries where a collect_list/collect_set aggregate is BOUNDED by
    * construction (state does not grow with the data): dim-bounded
    * vector re-assembly (emb_kmeans k×64, emb_pq M=4 LUT hits),
    * per-document folds whose state is one doc's tokens (text_lm_*),
    * post-aggregate row sets of fixed cardinality (pipe_mix sources,
    * agg_string_agg nations-per-region), and windowed distinct sets
    * (over_sum_distinct). Anything else acquiring a collect buffer is
    * an unbounded-group-state regression (the emb_centroid bug class —
    * use Exact.fsum / a bounded Aggregator instead). */
  private[graft] val expectedCollect = Set(
    "emb_kmeans", "emb_pq", "emb_ivfpq", "text_lm_nll", "text_lm_bigram", "pipe_mix",
    "agg_string_agg", "over_sum_distinct",
    "pipe_ccnet", // text_lm_nll's per-doc sorted NLL fold, state = one doc's vocab
    "emb_pca",    // 64-element direction re-assembly, bounded by dim
    "emb_pca_scores", // inherits the training lineage's assembly
    "text_entropy",   // per-doc m·ln(m) fold, state = one doc's vocab
    "text_chi2",      // cell-term fold, state = the R x C contingency cells
    "text_kneser",    // per-doc sorted NLL fold, state = one doc's vocab
    "pipe_dsir",      // per-doc weight fold, state <= 64 bucket terms
    "emb_drift",      // 64-element mean-vector re-assembly, bounded by dim
    "dd_tfidf_cos",   // per-doc sorted postings vector, state = one doc's vocab
    "emb_probe",      // 64-element weight re-assembly per step, bounded by dim
    "tw_motif",       // span-sized hourly series assembly (time-bounded, SF-free)
    "text_rake",      // per-run phrase re-assembly, state = one phrase (<= 4 tokens)
    "emb_ch_index")   // 64-element cell/global mean re-assembly, bounded by dim
  // (tw_cpd's global window runs on the span-bounded dense series —
  // the text_zipf bounded-GLOBALWIN class)

  /** EXPLODEWIN detector: a window function computed directly over the
    * output of an explode/Generate (no aggregate in between) partitions
    * by a per-element key — shingle hashes, band buckets — whose
    * frequencies are long-tailed, so WindowExec buffers + sorts every
    * occurrence of a hot key on one task. This is the exact bug class
    * ShingleDf.capRare replaces (dd_jaccard / dd_substr / pipe_curation
    * pre-round-6): use a two-phase groupBy count (partial agg below the
    * exchange) + join instead. An Aggregate boundary clears the taint
    * because it bounds per-key row counts before the window. */
  private def perElementWindow(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, Generate, LogicalPlan, Window => LWindow}
    def tainted(n: LogicalPlan): Boolean = n match {
      case _: Aggregate => false
      case _: Generate  => true
      case o            => o.children.exists(tainted)
    }
    p.collect { case w: LWindow => w }.exists(_.children.exists(tainted))
  }

  /** GLOBALWIN detector: a window function with an EMPTY partition
    * spec — `f() OVER (ORDER BY ...)` with no PARTITION BY — moves
    * EVERY input row to one task, which buffers and sorts the whole
    * input (WindowExec's "No Partition Defined" warning). Checked on
    * the LOGICAL plan (`Window.partitionSpec.isEmpty`) — the round-8
    * string grep for `partitionBy=[]` matched text Spark's formatted
    * explain never prints, so it could never fire; PlanSpec now pins
    * this detector against a deliberately global plan. */
  private[graft] def globalWindow(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    p.collectFirst { case w: LWindow if w.partitionSpec.isEmpty => w }.nonEmpty
  }

  /** Queries where an unpartitioned window is BOUNDED by construction
    * (runs over a table whose row count does not grow linearly with
    * the data — document the bound when adding an entry). Raw-corpus
    * global windows (the agg_ntile / rel_zip_index round-8 class) are
    * NEVER whitelisted: use ZipIndex (range-partitioned two-pass
    * rank) or histogram rank arithmetic instead. */
  private[graft] val expectedGlobalWin: Set[String] = Set(
    "agg_gini",     // cumsum over the range-bounded integer-dollar histogram
    "agg_pareto",   // desc cumsums over the same bounded spend histogram
    "agg_survival", // risk-set prefix sums over the span-bounded (hours) lifetime histogram
    "pipe_interleave", // final ord window runs on the 400-row post-limit budget
    "pipe_mix",     // normalizer fold over the #sources-row post-agg table
    "pipe_unimax",  // water-filling windows on the L-row (source) table
    "text_rrf",     // rank-assign windows on the <=50-row post-limit top lists
    "text_zipf",    // vocab rank + filter<=30 -> WindowGroupLimit streaming top-k
    "tw_cpd")       // prefix sums over the span-bounded hour spine

  /** Queries where a window over Generate output is BOUNDED by
    * construction and therefore allowed (document the bound here when
    * adding an entry):
    *  - tw_gapfill: the Generate is the explode(sequence(mn, mx, 1h))
    *    bucket spine — exactly ONE row per (event_type, hour), so each
    *    window partition holds hours-in-span rows, not data-dependent
    *    occurrence counts.
    *  - pipe_epochs: the Generate is explode(sequence(0, 1)) — exactly
    *    2 rows per document — and the window partitions by the
    *    UNIFORM (epoch, hash-shard) key, so every partition holds
    *    ~corpus/128 rows regardless of data values (no hot key can
    *    exist: the key is a salted hash of the row id).
    *  - dd_spans: the run window partitions by (pair, diagonal), whose
    *    row count is bounded by ONE document's position count (a
    *    diagonal holds at most min(lenA, lenB) matches) — document
    *    length, not corpus size or key frequency, and hot shingles
    *    are removed by capRare before the join.
    *  - tw_cpd: the Generate is the hour-spine explode — exactly ONE
    *    row per hour of the global span, so the prefix-sum window is
    *    span-bounded (the tw_gapfill spine class).
    *  - emb_knn_graph: the Generate is cappedBucket's chain-id
    *    emission (explode over a ≤5-element array — ~1 row per input
    *    row plus 2 per chunk/cell head), and the top-3 window
    *    partitions by `src`, whose candidate fan-in is bounded by the
    *    occupancy cap itself (≤ cap−1 chunk-mates per membership +
    *    ≤2 chain partners per head role) — never by bucket density.
    *    Bounding exactly this partition is what the cap is FOR; the
    *    long-tailed-explode-key hazard the detector hunts cannot
    *    occur here (r16 chain cells). */
  private[graft] val expectedExplodeWin: Set[String] =
    Set("tw_gapfill", "pipe_epochs", "dd_spans", "tw_cpd", "emb_knn_graph")

  /** Audit every registered query's plan at `d`; returns the flagged
    * (name, flags) pairs. Shared by the CLI main and the PlanSpec
    * regression test. */
  def audit(spark: org.apache.spark.sql.SparkSession,
            d: String): Seq[(String, Seq[String])] =
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val flags =
        try {
          val qe = fn(spark, d).queryExecution
          val p = qe.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          Seq(
            "EXPLODEWIN" -> (perElementWindow(qe.optimizedPlan) &&
              !expectedExplodeWin.contains(name)),
            "CARTESIAN" -> p.contains("CartesianProduct"),
            "BNLJ" -> (p.contains("BroadcastNestedLoopJoin") &&
              !expectedBnlj.contains(name)),
            "GLOBALWIN" -> (globalWindow(qe.optimizedPlan) &&
              !expectedGlobalWin.contains(name)),
            "NOPUSH" -> (p.contains("PushedFilters: []") &&
              p.contains("DataFilters: [") && !p.contains("DataFilters: []")),
            "COLLECT" -> ((p.contains("collect_list") ||
              p.contains("collect_set")) && !expectedCollect.contains(name))
          ).collect { case (f, true) => f }
        } catch { case e: Throwable => Seq(s"ERROR ${e.getMessage}") }
      if (flags.nonEmpty) Some(name -> flags) else None
    }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.build("graft-planaudit")
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val flagged = audit(spark, d)
    flagged.foreach { case (n, fs) => println(s"[audit] $n: ${fs.mkString(",")}") }
    println(s"[audit] done: ${flagged.size}/${SparkEntry.queries.size} flagged")
    spark.stop()
  }
}
