package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.QueryGroup
import graft.core.Tables

/** Shared helpers for query groups. */
trait GroupBase extends QueryGroup {
  /** Load a driver table (and make sure the session carries the
    * engine's extensions, in case the caller built its own session). */
  protected def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    org.apache.spark.sql.GraftBridge.ensurePrepared(spark)
    Tables.load(spark, dir, name)
  }

  /** Register all driver tables as temp views and run a SQL query —
    * for operators best expressed as SQL (grouping sets, range frames).
    * Views are lazy; only scanned tables are read.
    */
  protected def sql(spark: SparkSession, dir: String, q: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(q)
  }

  /** Fail fast unless exchange reuse is on. The barrier-free
    * iterative graph loops (graph_kcore, graph_ppr) hand back a static
    * plan that doubles with each round; exchange reuse (at planning
    * time, or at runtime under AQE) keeps its repeated subtrees from
    * executing again. Measured warm at sf0.1 on 4 cores: with reuse
    * off graph_kcore takes 7.5 s instead of 2.1 s and graph_ppr 2.1 s
    * instead of 1.4 s. AQE itself is not needed: with AQE off and
    * reuse on they took 1.4 s and 1.2 s. */
  protected def requireExchangeReuse(spark: SparkSession, query: String): Unit =
    if (!spark.conf.get("spark.sql.exchange.reuse").toBoolean)
      throw new IllegalStateException(s"$query relies on exchange reuse to run the " +
        "subtrees its unrolled rounds share once; set spark.sql.exchange.reuse=true")

  /** Materialize a derived column behind a Generate barrier:
    * `explode(array(e))` emits exactly one row per input row with the
    * same values as `withColumn(name, e)`, but the expression lives in
    * the GENERATOR, which CollapseProject and predicate-pushdown alias
    * substitution cannot cross — downstream references stay O(1)
    * attribute reads.
    *
    * Why this exists (round-12 huge-value sweep): higher-order
    * functions are CodegenFallback — their lambdas run INTERPRETED
    * with no subexpression elimination — and the optimizer freely
    * substitutes a `withColumn` alias into lambda bodies and pushed
    * filter conditions. A per-POSITION lambda that references a
    * derived O(len) array (tokens, span flags, cut points) then
    * re-evaluates the whole derivation once per element: O(len²) per
    * row. Invisible at nominal row sizes; a single 500 KB document
    * (~100k tokens) turned dd_cdc's boundary scan into a 25-minute
    * single-task grind (split() re-run 100k× per row, caught by
    * HugeExec + jstack). Use this for any non-cheap array column that
    * a lambda body CAPTURES (HOF *arguments* are evaluated once and
    * are fine). GenerateExec participates in whole-stage codegen, adds
    * no shuffle and no measurable per-row cost. */
  protected def mat(df: DataFrame, name: String,
                    e: org.apache.spark.sql.Column): DataFrame =
    df.select(org.apache.spark.sql.functions.col("*"),
      org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array(e)).as(name))

  /** Whitespace-token array as a barrier-materialized `tk` column —
    * the tokenize step every position-indexed text operator should
    * start from (see `mat`). */
  protected def withTokens(df: DataFrame): DataFrame =
    mat(df, "tk", graft.functions.TextOps.tokens(
      org.apache.spark.sql.functions.col("text")))
}
