package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** All implemented query groups, one per SURVEY.md §2 theme. */
  val groups: Seq[QueryGroup] = Seq(
    RelationalQueries,
    JoinQueries,
    AggQueries,
    OverWindowQueries,
    TimeWindowQueries,
    ScalarFuncQueries,
    PatternQueries,
    TextQueries,
    DedupQueries,
    EmbeddingQueries,
    MultimodalQueries,
    CurationQueries,
    GraphQueries,
  )

  /** Flagship query (SpendReport, SURVEY §7.2 step 1): hourly spend per
    * user over `events`. Driver smoke-checks rows>0 on sf0.001; the
    * data dir is env-overridable for other harnesses. */
  def entry(spark: SparkSession): DataFrame =
    TimeWindowQueries.queries("tw_spendreport")(spark,
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Catalog contract (ADVICE r13): a query CONSTRUCTOR may execute
    * Spark jobs. Fourteen do (jobs per construction at sf0.1, from
    * `perfbench/refs/profile-sf0.1.tsv`):
    *   - a shared derived table behind `localCheckpoint()`, because
    *     column pruning re-specializes a multi-consumer subplan per
    *     consumer, which defeats AQE exchange reuse: dd_tfidf_cos (8),
    *     emb_mrr (6), emb_recall (6), pipe_dsir (2), pipe_ccnet (1),
    *     text_langid_nb (1), pipe_classify_train (1);
    *   - a loop-invariant base or a per-round result behind
    *     `localCheckpoint()` in an unrolled iterative loop: emb_mmr
    *     (19), emb_kcenter (15), agg_polish (14), graph_domainrank (10),
    *     graph_ppr (7);
    *   - ZipIndex's per-partition offset pass: rel_zip_index (3),
    *     agg_ntile (3).
    * Each needs its jobs done before the plan is handed back.
    * Consequences for tooling: (a) constructing
    * such a query without acting on it still runs the checkpoint job
    * (plan-only tools like PlanDump/PLANS.md regeneration pay it);
    * (b) the checkpointed plan holds a LogicalRDD whose blocks are
    * NOT fault-tolerant on a real cluster (executor loss fails the
    * query and the caller re-submits — acceptable: the intermediate
    * is one a production pipeline would persist to storage anyway). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    groups.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    groups.flatMap(_.oracleSql).toMap
}
