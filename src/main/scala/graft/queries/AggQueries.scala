package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Exact, ExactSql}

/** §2.5 aggregations: group-by/HAVING, rollup/cube/grouping sets,
  * distinct aggs, min_by/max_by, UDAF, table-aggregate top-N emit,
  * approx distinct.
  *
  * Reference surface: QueryTest.scala:357-582, 875-896;
  * TabApiTest.scala:360-573, 1453-1520; Transform.scala:226-266;
  * hot-item CountAgg; UvCountWithBloomByWindow.scala (approx distinct).
  *
  * Scale: every query here is a single hash-aggregate plan with
  * map-side partial aggregation; rollup/cube expand via Catalyst's
  * Expand operator (no extra scans). No collect-based paths.
  */
object AggQueries extends GroupBase {

  /** ρ of the HLL register: 27 minus the bit length of `h >> 6`, the
    * hash bits above the 64-bucket index. Leading zeros go through the
    * SQL `TRIM(LEADING '0' FROM ...)` form; the two-argument
    * `ltrim(s, "0")` resolves through a signature Spark 4 deprecates,
    * with a WARN in every session that runs it. */
  private def hllRho: Column =
    lit(27) - length(expr("trim(LEADING '0' FROM bin(shiftright(h, 6)))"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-shaped pricing summary (reduceGroup/agg semantics,
    // DataSetFunc.scala:120-145)
    "agg_pricing_summary" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          Exact.dsum(col("l_quantity")).as("sum_qty"),
          Exact.dsum(col("l_extendedprice")).as("sum_base"),
          Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc"),
          Exact.davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")),

    // GROUP BY + HAVING (QueryTest.scala:357-388)
    "agg_having" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 15)
        .orderBy("o_custkey")),

    // ROLLUP + grouping_id (QueryTest.scala:428-455)
    "agg_rollup" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
             Exact.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
                 col("l_linestatus").asc_nulls_first)),

    // CUBE (QueryTest.scala:503-528)
    "agg_cube" -> ((s, d) =>
      t(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
                 col("o_orderpriority").asc_nulls_first)),

    // GROUPING SETS (QueryTest.scala:557-582) — SQL frontend
    "agg_grouping_sets" -> ((s, d) =>
      sql(s, d,
        """SELECT o_orderstatus, o_orderpriority, grouping_id() AS gid,
                  count(*) AS cnt
           FROM orders
           GROUP BY o_orderstatus, o_orderpriority
             GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
           ORDER BY gid, o_orderstatus ASC NULLS FIRST,
                    o_orderpriority ASC NULLS FIRST""")),

    // distinct aggregates (TabApiTest.scala:360-531)
    "agg_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
             Exact.dsum_distinct(col("l_quantity")).as("sum_dq"),
             countDistinct(col("l_suppkey"), col("l_linestatus")).as("n_pair"))
        .orderBy("l_returnflag")),

    // min_by / max_by (DataStreamFunc.scala:175-185; HourlyTips maxBy):
    // struct ordering makes ties deterministic cross-engine.
    "agg_maxby" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("top_order"),
             min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("bottom_order"),
             max(col("o_totalprice")).as("top_price"))
        .orderBy("o_orderstatus")),

    // MODE (most frequent value per group): two-level hash agg — count
    // per (group, value), then max_by over the counts with a
    // deterministic low-value tiebreak. Both levels get map-side
    // partials; no sort, no collect buffer — the shape that holds when
    // one group has millions of distinct values at 100 TB.
    "agg_mode" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity").as("q"))
        .agg(count(lit(1)).as("n"))
        .groupBy("l_returnflag")
        .agg(max_by(col("q"), struct(col("n"), negate(col("q")))).as("mode_qty"),
          max(col("n")).as("mode_n"))
        .orderBy("l_returnflag")),

    // custom UDAF, one-pass max+min (TabApiTest.scala:1453-1484)
    "agg_udaf_maxmin" -> ((s, d) => {
      val mm = udaf(graft.agg.MaxMin)
      t(s, d, "customer")
        .groupBy("c_mktsegment")
        .agg(mm(col("c_acctbal")).as("mm"))
        .select(col("c_mktsegment"), col("mm.mx").as("mx"),
          col("mm.mn").as("mn"), col("mm.n").as("n"))
        .orderBy("c_mktsegment")
    }),

    // exact interpolated percentiles + median (ntile/quantile family):
    // both engines sort and linearly interpolate between the same two
    // order statistics, so the result is bit-deterministic
    "agg_percentile" -> ((s, d) =>
      sql(s, d,
        """SELECT l_returnflag,
                  percentile(l_quantity, 0.25) AS p25,
                  median(l_quantity) AS p50,
                  percentile(l_quantity, 0.75) AS p75,
                  percentile(l_extendedprice, 0.9) AS price_p90
           FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // quantiles via the mergeable bounded-state histogram sketch
    // (agg/QuantileHist): each partition ships <= 64 bins instead of
    // sorting the group — the 100 TB percentile path. Capacity exceeds
    // l_quantity's 50 distinct values, so the histogram is provably
    // exact and the interpolation hash-matches quantile_cont; the
    // under-capacity error is bounded in QuantileHistSpec.
    "agg_qsketch" -> ((s, d) => {
      val qh = udaf(new graft.agg.QuantileHist(64, Seq(0.25, 0.5, 0.75, 0.9)),
        org.apache.spark.sql.Encoders.DOUBLE)
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(qh(col("l_quantity")).as("est"))
        .select(col("l_returnflag"),
          col("est").getItem(0).as("p25"), col("est").getItem(1).as("p50"),
          col("est").getItem(2).as("p75"), col("est").getItem(3).as("p90"))
        .orderBy("l_returnflag")
    }),

    // weighted-average UDAF (TabApiTest WeightedAvg): BigDecimal-exact
    // partials so the distributed merge order can't move the result
    "agg_weighted_avg" -> ((s, d) => {
      val wavg = udaf(graft.agg.WeightedAvg)
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(wavg(col("l_extendedprice"), col("l_quantity")).as("wavg"))
        .orderBy("l_returnflag")
    }),

    // table aggregate emitting top-3 rows per group
    // (TabApiTest.scala:1488-1520 top-N flatAggregate): the TopNList
    // Aggregator keeps an N-element buffer, so each map-side partial
    // ships at most 3 values to the shuffle regardless of group size
    // (collect_list+slice would buffer O(group)). Emitted multiset
    // equals the window-rank top-3.
    "agg_top3_emit" -> ((s, d) =>
      t(s, d, "events")
        .groupBy("event_type")
        .agg(udaf(graft.agg.Top3List).apply(col("value")).as("top3"))
        .select(col("event_type"), explode(col("top3")).as("v"))
        .orderBy(col("event_type"), col("v").desc)),

    // global single-row stats (windowAll-style global agg,
    // Window.scala:258-290)
    "agg_global_stats" -> ((s, d) =>
      t(s, d, "events")
        .agg(count(lit(1)).as("cnt"),
             countDistinct(col("user_id")).as("n_users"),
             Exact.dsum(col("value")).as("sum_v"),
             Exact.davg(col("value")).as("avg_v"),
             min(col("value")).as("min_v"), max(col("value")).as("max_v"))),

    // tumbling COUNT window, batch-relational form (Window.scala:201-256;
    // the streaming operator is StatefulOps.countTumblingWindow):
    // deterministic event order -> window id = (row_number-1) div n
    "agg_count_window" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("wid", ((row_number().over(w) - 1) / 5).cast("int"))
        .groupBy("user_id", "wid")
        .agg(count(lit(1)).as("cnt"), Exact.dsum(col("value")).as("sum_v"))
        .orderBy("user_id", "wid")
    }),

    // moments via exact decimal sums: stddev/variance/corr computed
    // from (n, Σx, Σx², Σxy) so partial aggregation stays exact and
    // both engines do the same final double arithmetic (built-in
    // stddev uses engine-specific streaming algorithms that differ
    // in the last bits)
    "agg_moments" -> ((s, d) => {
      val dec = "decimal(38,12)"
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(dec)).cast("double").as("sx"),
          sum((col("l_quantity") * col("l_quantity")).cast(dec)).cast("double").as("sxx"),
          sum((col("l_quantity") * col("l_discount")).cast(dec)).cast("double").as("sxy"),
          sum(col("l_discount").cast(dec)).cast("double").as("sy"),
          sum((col("l_discount") * col("l_discount")).cast(dec)).cast("double").as("syy"))
        .select(col("l_returnflag"), col("n"),
          // NULLIF guards: sample variance/correlation are undefined at
          // n=1 (or zero spread) and ANSI throws DIVIDE_BY_ZERO even
          // for doubles — degenerate groups must read NULL, not crash
          // (EdgeExec single-row sweep, round 10)
          ((col("sxx") - col("sx") * col("sx") / col("n")) /
            nullif((col("n") - 1).cast("double"), lit(0.0))).as("var_q"),
          sqrt((col("sxx") - col("sx") * col("sx") / col("n")) /
            nullif((col("n") - 1).cast("double"), lit(0.0))).as("sd_q"),
          ((col("sxy") - col("sx") * col("sy") / col("n")) /
            nullif(sqrt(col("sxx") - col("sx") * col("sx") / col("n")) *
              sqrt(col("syy") - col("sy") * col("sy") / col("n")),
              lit(0.0))).as("corr_qd"))
        .orderBy("l_returnflag")
    }),

    // listagg / string_agg (sorted for determinism)
    "agg_string_agg" -> ((s, d) =>
      t(s, d, "nation")
        .groupBy("n_regionkey")
        .agg(concat_ws(",", sort_array(collect_list(col("n_name")))).as("names"),
             count(lit(1)).as("cnt"))
        .orderBy("n_regionkey")),

    // ntile bucketing (OVER-window family). NOT ntile(4).over(
    // Window.orderBy(...)): an unpartitioned ntile window moves every
    // row to one task's sort. ZipIndex.ntileBy is the distributed
    // form — range-partitioned global rank plus ntile's closed-form
    // bucket split as literal arithmetic (N comes free from the
    // counting pass). Ties broken by o_orderkey (unique) so the
    // assignment is deterministic and oracle-stable.
    "agg_ntile" -> ((s, d) =>
      graft.operators.ZipIndex.ntileBy(
          t(s, d, "orders").select("o_orderkey", "o_totalprice"),
          4, "quartile", col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "quartile")
        .orderBy("o_orderkey")),

    // approx_count_distinct (HLL++): the engine-side analogue of the
    // reference's Bloom-filter UV (UvCountWithBloomByWindow.scala:13-39).
    // The raw sketch value is engine-specific (DuckDB's HLL estimates
    // differently), so the ORACLE-CHECKED output is the accuracy
    // INVARIANT itself: per group, |approx - exact| <= 5% * exact,
    // emitted as a boolean the oracle pins to TRUE plus the exact
    // count both engines agree on. rsd = 0.01 (vs the 5% gate) keeps
    // the margin wide; the estimate stays deterministic per input.
    // Scale note: exact + approx ride ONE hash aggregation — at
    // 100 TB the distinct expansion dominates, and the HLL partial is
    // O(registers) per task on top of it.
    "agg_approx_distinct" -> ((s, d) =>
      t(s, d, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"),
             approx_count_distinct(col("user_id"), 0.01).as("approx"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx") - col("exact_users")) <=
            col("exact_users") * lit(0.05)).as("approx_ok"))
        .orderBy("event_type")),

    // From-scratch HyperLogLog (p=6, m=64 buckets) built entirely from
    // deterministic column ops, so the DuckDB oracle reproduces the
    // estimate bit-for-bit — unlike the engine-specific HLL++ sketch
    // above. Math notes for cross-engine exactness: the md5-derived
    // 32-bit hash is engine-stable (TextOps.hash32); 2^-rho terms are
    // exact binary fractions with <= 27 fractional bits, so their sum
    // is EXACT regardless of aggregation order; the one transcendental
    // (ln, linear-counting path) is rounded to 2 decimals. Scale: two
    // hash aggregations, both with map-side partials; no distinct
    // pre-pass needed (max(rho) is idempotent under duplicates).
    "agg_hll_manual" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_type"),
          graft.functions.TextOps.hash32(col("user_id").cast("string")).as("h"))
        .withColumn("bucket", pmod(col("h"), lit(64)))
        .withColumn("rho", hllRho)
      ev.groupBy("event_type", "bucket").agg(max(col("rho")).as("mx"))
        .groupBy("event_type")
        .agg(sum(pow(lit(2.0), -col("mx"))).as("s_ne"),
             count(lit(1)).as("v_ne"))
        .select(col("event_type"),
          ((lit(64) - col("v_ne")) + col("s_ne")).as("ss"),
          (lit(64) - col("v_ne")).as("vz"),
          (lit(0.709) * 4096 / ((lit(64) - col("v_ne")) + col("s_ne"))).as("raw"))
        .select(col("event_type"),
          round(when(col("raw") <= 160 && col("vz") > 0,
              lit(64) * log(lit(64.0) / col("vz")))
            .otherwise(col("raw")), 2).as("est_users"))
        .orderBy("event_type")
    }),

    // Count-Min sketch frequency estimation (d=4 rows × w=64 buckets,
    // deterministic seeded hashes → the sketch itself is oracle-exact).
    // The d row-hashes derive from ONE base hash via affine transforms
    // (Kirsch-Mitzenmacher double hashing) — one md5 per row, not d.
    // Build = ONE map-side-combining shuffle of at most d×w = 256
    // keys regardless of input size; estimates join against the tiny
    // counter table (broadcast). est >= exact always (the CM bound).
    "agg_cms" -> ((s, d) => {
      val D = 4; val W = 64
      def bucket(j: Int, h: org.apache.spark.sql.Column) =
        pmod(h * (2 * j + 1) + lit(j * 7919), lit(W))
      val ev = t(s, d, "events")
        .withColumn("h", graft.functions.TextOps.hash32(
          concat(lit("cms:"), col("user_id").cast("string"))))
      val counters = ev.select(explode(array((0 until D).map(j =>
          struct(lit(j).as("j"), bucket(j, col("h")).as("b"))): _*)).as("jb"))
        .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
        .agg(count(lit(1)).as("c"))
      val probeBuckets = ev.select("user_id", "h").distinct()
        .filter(col("user_id") < 10)
        .select(col("user_id"), explode(array((0 until D).map(j =>
          struct(lit(j).as("j"), bucket(j, col("h")).as("b"))): _*)).as("jb"))
        .select(col("user_id"), col("jb.j").as("j"), col("jb.b").as("b"))
      val est = probeBuckets.join(broadcast(counters), Seq("j", "b"))
        .groupBy("user_id").agg(min(col("c")).as("est"))
      val exact = ev.filter(col("user_id") < 10)
        .groupBy("user_id").agg(count(lit(1)).as("exact"))
      est.join(exact, Seq("user_id")).orderBy("user_id")
    }),

    // Bloom-filter semi-join pruning (m=64Ki bits as 2048 words, k=3
    // seeded hashes — deterministic, so the filter itself is
    // oracle-exact): build from the selective orders side (ONE 2048-row
    // shuffle regardless of input size), broadcast to the probe side,
    // compare against exact membership. This is the runtime-filter
    // structure that prunes the big side of a 100 TB join before the
    // shuffle; no false negatives by construction (spec-asserted).
    "agg_bloom" -> ((s, d) => {
      val K = 3; val BITS = 65536
      // Kirsch-Mitzenmacher: K bit positions from ONE base hash
      def h(i: Int, c: org.apache.spark.sql.Column) =
        pmod(graft.functions.TextOps.hash32(
          concat(lit("bf:"), c.cast("string"))) * (2 * i + 1) + lit(i * 7919),
          lit(BITS))
      val keys = t(s, d, "orders")
        .filter(col("o_totalprice") > 495000)
        .select(col("o_custkey")).distinct()
      val table = keys
        .select(explode(array((0 until K).map(i => h(i, col("o_custkey"))): _*)).as("hb"))
        .select((col("hb") / 32).cast("int").as("w"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(hb % 32 AS INT))").as("bit"))
        .groupBy("w").agg(expr("bit_or(bit)").as("word"))
      val ph = t(s, d, "customer").select(col("c_custkey"))
        .select(col("c_custkey"),
          explode(array((0 until K).map(i => h(i, col("c_custkey"))): _*)).as("hb"))
        .select(col("c_custkey"), (col("hb") / 32).cast("int").as("w"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(hb % 32 AS INT))").as("bit"))
      val checked = ph.join(broadcast(table), Seq("w"), "left")
        .groupBy("c_custkey")
        .agg((count(when(coalesce(col("word"), lit(0L))
          .bitwiseAND(col("bit")) =!= 0, 1)) === K).as("bloom_member"))
      checked.join(keys.withColumn("exact_member", lit(true)),
          checked("c_custkey") === keys("o_custkey"), "left")
        .select(col("c_custkey"), col("bloom_member"),
          coalesce(col("exact_member"), lit(false)).as("exact_member"))
        .orderBy("c_custkey")
    }),

    // top user journeys (path analysis, the Sankey-diagram source
    // aggregate): the 10 most frequent 3-step event-type sequences
    // across all per-user event streams. The sequence windows (two
    // lead()s) partition by user_id — bounded keyed history, same
    // scale argument as rel_scd2 — and everything after is a hash-agg
    // on the path string; the top-10 is a count-ordered limit with a
    // total (cnt DESC, path ASC) tiebreak so the boundary is
    // deterministic on both engines.
    "agg_paths" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("t2", lead(col("event_type"), 1).over(w))
        .withColumn("t3", lead(col("event_type"), 2).over(w))
        .filter(col("t3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
          .as("path"))
        .groupBy("path").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("path"))
        .limit(10)
    }),

    // cohort retention matrix (the second classic product-analytics
    // aggregate next to agg_funnel): users are cohorted by their
    // first active day; each later active day contributes to
    // (cohort, day-offset) with the retention rate vs the cohort's
    // day-0 size. Shape at 100 TB: one distinct on (user, day) —
    // a hash-agg exchange carrying one row per user-day, never raw
    // events — a per-user min, a user_id-keyed join back, and a
    // (cohort, offset) hash-agg; the day-0 size table is bounded by
    // the calendar (#days), so its join back is a broadcast, and the
    // count needs NO count_distinct because the distinct upstream
    // already guarantees one row per user per day.
    "agg_retention" -> ((s, d) => {
      val e = t(s, d, "events")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .distinct()
      val cohort = e.groupBy("user_id").agg(min(col("day")).as("cohort"))
      val act = e.join(cohort, Seq("user_id"))
        .groupBy(col("cohort"),
          datediff(col("day").cast("date"), col("cohort").cast("date"))
            .as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
      val sizes = act.filter(col("day_offset") === 0)
        .select(col("cohort"), col("n_users").as("cohort_size"))
      act.join(broadcast(sizes), Seq("cohort"))
        .select(col("cohort"), col("day_offset"), col("n_users"),
          (col("n_users").cast("decimal(18,8)") /
            col("cohort_size").cast("decimal(18,8)")).cast("double")
            .as("retention"))
        .orderBy("cohort", "day_offset")
    }),

    // KAPLAN-MEIER survival estimator — the censoring-aware lifetime
    // curve agg_retention's cohort grid cannot give (a user still
    // active at the observation edge is CENSORED, not churned;
    // counting them as churned biases every retention number down).
    // Lifetime = hours between a user's first and last event; a user
    // whose last event falls in the final 24h of the span is censored.
    // S(t) = Π_{t_i <= t} (1 − d_i / n_i) over the churn times, with
    // n_i = #{lifetime >= t_i} (censored users leave the risk set at
    // their censor time — the estimator's whole point). 100 TB shape:
    // one user-keyed hash-agg, then the lifetime HISTOGRAM
    // (span-bounded) carries the survival arithmetic — risk sets by
    // prefix sums over the histogram, never a per-user window. The
    // product runs as exp(Σ ln(1 − d/n)) with each ln term
    // q6-quantized before the ordered cumsum (both engines sum
    // identical bits in identical order); a d = n final time point
    // pins S to exactly 0 via an integer flag (Spark ln(0) = NULL vs
    // DuckDB -inf — the emb_sq8 divergence class, sidestepped).
    "agg_survival" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy("t")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      val users = t(s, d, "events")
        .groupBy("user_id")
        .agg(min(col("ts")).as("first"), max(col("ts")).as("last"))
      val gmax = users.agg(max(col("last")).as("gmax"))
      val lt = users.crossJoin(broadcast(gmax))
        .select(
          floor((unix_timestamp(col("last")) -
            unix_timestamp(col("first"))) / 3600L).cast("long").as("t"),
          (col("last") >= col("gmax") - expr("INTERVAL 24 HOURS"))
            .as("censored"))
      val hist = lt.groupBy("t").agg(
        sum(when(!col("censored"), 1L).otherwise(0L)).as("d"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("c"))
      val n = lt.agg(count(lit(1)).as("ntot"))
      val risk = hist.crossJoin(broadcast(n))
        .withColumn("nrisk", col("ntot") -
          coalesce(sum(col("d") + col("c")).over(
            org.apache.spark.sql.expressions.Window.orderBy("t")
              .rowsBetween(org.apache.spark.sql.expressions.Window
                .unboundedPreceding, -1)), lit(0L)))
      risk
        .withColumn("term", when(col("d") < col("nrisk"),
          Exact.q6(log(lit(1.0) - col("d").cast("double") /
            col("nrisk").cast("double")))).otherwise(lit(0.0)))
        .withColumn("dead",
          max((col("d") === col("nrisk")).cast("int")).over(w))
        .select(col("t"), col("nrisk"), col("d").as("n_churn"),
          col("c").as("n_censored"),
          when(col("dead") === 1, 0.0)
            .otherwise(round(exp(sum(col("term")).over(w)), 6)).as("surv"))
        .filter(col("n_churn") > 0)
        .orderBy("t")
    }),

    // funnel analysis (the batch twin of the CEP sequence queries in
    // PatternQueries): per-user earliest signup -> earliest click at
    // or after it -> earliest purchase at or after that, then one
    // summary row per stage with user counts and the conversion rate
    // from the previous stage. Shape at 100 TB: each stage is a
    // type-filtered scan (predicate pushed to parquet) into a per-user
    // min() hash-agg — O(1) state per user, partial agg below the
    // exchange — then a shuffle join on user_id against the previous
    // stage's (user, ts) table. No windows, no per-user event buffers:
    // the stage chaining is monotone (min ts >= prev min ts), which is
    // what lets a funnel of depth K run as type-filtered scans + joins
    // instead of a sort + sequential scan per user. (In ONE lazy
    // lineage stage k re-derives stages 1..k-1, so a deep funnel at
    // 100 TB persists each stage's (user, ts) table — user-cardinality
    // rows — before deriving the next; at K=3 the re-derivation is
    // cheaper than the checkpoint write.)
    "agg_funnel" -> ((s, d) => {
      val ev = t(s, d, "events")
      def stage(kind: String) = ev.filter(col("event_type") === kind)
        .select(col("user_id"), col("ts"))
      val s1 = stage("signup").groupBy("user_id").agg(min("ts").as("t1"))
      val s2 = stage("click").join(s1, Seq("user_id"))
        .filter(col("ts") >= col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      val s3 = stage("purchase").join(s2, Seq("user_id"))
        .filter(col("ts") >= col("t2"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      def row(i: Int, name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(i).as("stage"), lit(name).as("event_type"),
            col("n_users"))
      val stages = row(1, "signup", s1).unionByName(row(2, "click", s2))
        .unionByName(row(3, "purchase", s3))
      // previous-stage lookup as a broadcast self-join of the 3-row
      // summary, not a global window (the catalog-wide plan audit
      // forbids unpartitioned windows, and a join states the intent:
      // stage k reads stage k-1). NULLIF guards an empty stage — ANSI
      // division by zero must be NULL on both engines, not a throw.
      val prev = stages.select((col("stage") + 1).as("stage"),
        col("n_users").as("prev_users"))
      stages.join(broadcast(prev), Seq("stage"), "left")
        .select(col("stage"), col("event_type"), col("n_users"),
          (col("n_users").cast("decimal(18,8)") /
            nullif(col("prev_users"), lit(0L)).cast("decimal(18,8)"))
            .cast("double").as("conv_from_prev"))
        .orderBy("stage")
    }),

    // USER-JOURNEY TRANSITION MATRIX (first-order Markov chain over
    // event types) — agg_paths surfaces the top literal paths; this
    // gives the generative view a product team actually models with:
    // P(next type | current type), row-normalized from per-user
    // consecutive event pairs. One lead() window per user (time order
    // with the unique event_id tiebreak — bounded keyed history, the
    // agg_paths discipline), one (from, to) hash-agg, and the matrix
    // itself is types²-bounded with its row totals broadcast back.
    "agg_markov" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val pairs = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("from_t"))
        .withColumn("to_t", lead(col("from_t"), 1).over(w))
        .filter(col("to_t").isNotNull)
      val cnt = pairs.groupBy("from_t", "to_t").agg(count(lit(1)).as("n"))
      val tot = cnt.groupBy(col("from_t").as("f")).agg(sum(col("n")).as("nt"))
      cnt.join(broadcast(tot), col("from_t") === col("f"))
        .select(col("from_t"), col("to_t"), col("n"),
          (col("n").cast("double") / col("nt").cast("double")).as("p"))
        .orderBy("from_t", "to_t")
    }),

    // DETERMINISTIC Poisson bootstrap (Chamandy et al., Google 2012 —
    // "Estimating uncertainty for massive data streams"): the
    // production way to attach a confidence interval to a statistic
    // over data too large to resample classically. Each of B=16
    // replicas reweights every row by a Poisson(1)-distributed weight
    // derived from a HASH of (row, replica) — deterministic, so both
    // engines draw identical "random" weights; the integer inverse-CDF
    // thresholds are h32-scale constants (u < F(k) ⟺ h < F(k)·2³²),
    // so the draw is pure integer comparison with no float parsing
    // hazards. Replica estimates are ratio means Σwx/Σw; the readout
    // is mean ± 1.96·se over the replica spread. Scale: the explode
    // is a bounded ×B fan-out feeding ONE hash-agg with fsum partials
    // (16 final groups); the replica table is 16 rows — everything
    // after it is driver-free arithmetic on broadcast scalars.
    "agg_bootstrap" -> ((s, d) => {
      val Bn = 16
      val ev = t(s, d, "events").select(col("event_id"), col("value"))
      val rep = ev
        .select(col("event_id"), col("value"),
          explode(sequence(lit(0), lit(Bn - 1))).as("b"))
        .withColumn("h", graft.functions.TextOps.hash32(
          concat(col("event_id").cast("string"), lit(":"),
            col("b").cast("string"))))
        .withColumn("w",
          when(col("h") < 1580030169L, 0L)
            .when(col("h") < 3160060337L, 1L)
            .when(col("h") < 3950075421L, 2L)
            .when(col("h") < 4213413788L, 3L).otherwise(4L))
      // w·value can reach 4·max(value) ≈ 1070, and fsum's per-element
      // floor(x·2^53) must fit the oracle's BIGINT (|x| < 1024) — so
      // scale by the exact power-of-two 1/4 before the fold and
      // multiply back after (both ops exact, no precision change)
      val ests = rep.groupBy("b")
        // NULLIF: a replicate whose resampled weights are all zero has
        // no estimate (possible with a tiny corpus) — NULL, not a
        // DIVIDE_BY_ZERO crash (EdgeExec single-row sweep, round 10)
        .agg((Exact.fsum(col("w").cast("double") * col("value") / lit(4.0)) *
          lit(4.0) / nullif(sum(col("w")).cast("double"), lit(0.0))).as("est"))
      val ea = ests.agg(
        (Exact.fsum(col("est")) / lit(16.0)).as("ea"))
      val se = ests.crossJoin(broadcast(ea))
        .agg(sqrt(Exact.fsum((col("est") - col("ea")) * (col("est") - col("ea"))) /
          lit(15.0)).as("se"))
      val base = ev.agg(count(lit(1)).as("n"),
        (Exact.fsum(col("value")) / count(lit(1))).as("mean"))
      base.crossJoin(broadcast(se))
        .select(col("n"), round(col("mean"), 6).as("mean"),
          round(col("se"), 6).as("se_boot"),
          round(col("mean") - lit(1.96) * col("se"), 6).as("lo95"),
          round(col("mean") + lit(1.96) * col("se"), 6).as("hi95"))
    }),

    // CUPED variance reduction (Deng et al. 2013 — the standard
    // trick every large experimentation platform applies before the
    // t-test): adjust each user's outcome y (purchase spend) by a
    // pre-experiment covariate x (view count), y_adj = y − θ·(x − x̄)
    // with θ = Cov(x,y)/Var(x) fit on the pooled data; the readout is
    // the per-variant raw vs adjusted means, both lifts, and the
    // variance-reduction fraction 1 − Var(y_adj)/Var(y). Bucketing is
    // agg_ab's hash split. Exactness: per-user y and all Σy/Σxy go
    // through dsum (4-dp-exact decimals); y_adj has full double
    // precision, so its sums use the 2^53-grid fsum with exact
    // power-of-two prescaling (/2^12 for sums, /2^15 for squares —
    // per-element |x| < 1024 bound documented in Exact.fsum); θ is
    // rounded to 6 BEFORE the adjustment so both engines adjust by
    // the same θ. Shape: one user-keyed hash agg, 1-row pooled-stat
    // broadcasts, one bounded second pass for the adjusted sums —
    // nothing on the driver.
    "agg_cuped" -> ((s, d) => {
      val ev = t(s, d, "events")
      val users = ev.groupBy("user_id").agg(
          count(when(col("event_type") === "view", 1)).as("x"),
          Exact.dsum(when(col("event_type") === "purchase", col("value")))
            .as("ysum"))
        .select(col("user_id"), col("x"),
          coalesce(col("ysum"), lit(0.0)).as("y"),
          pmod(graft.functions.TextOps.hash32(
            concat(lit("ab:"), col("user_id").cast("string"))), lit(2)).as("v"))
      val nD = col("n").cast("double")
      val pool = users.agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"),
          // DECIMAL(38,0) Σx²: per-user view counts grow with the
          // corpus, so the BIGINT square-sum crosses 2^63 near ~1e9
          // users x 1e5 views (the graph_assortativity overflow class,
          // round 10 audit); per-row x² stays in long (x < 3e9 before
          // a term overflows)
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
          Exact.dsum(col("y")).as("sy"),
          Exact.dsum(col("x").cast("double") * col("y")).as("sxy"))
        .select(col("n"), col("sy"),
          // NULLIF: theta is undefined when the covariate has zero
          // variance (all users share one x — plausible in a filtered
          // cohort at any scale); ANSI throws on the double division,
          // so the degenerate fit must read NULL (EdgeExec sweep, r10)
          round((nD * col("sxy") - col("sx").cast("double") * col("sy")) /
            nullif(nD * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double"),
              lit(0.0)), 6)
            .as("theta"),
          (col("sx").cast("double") / nD).as("mx"))
      val adj = users.crossJoin(broadcast(pool))
        .withColumn("yadj",
          col("y") - col("theta") * (col("x").cast("double") - col("mx")))
      def su(c: org.apache.spark.sql.Column, s: Double) =
        Exact.fsum(c / lit(s)) * lit(s)
      val byV = adj.groupBy("v").agg(
          count(lit(1)).as("nv"),
          Exact.dsum(col("y")).as("syv"),
          su(col("yadj"), 4096.0).as("sav"))
        .select(col("v"), col("nv"),
          (col("syv") / col("nv").cast("double")).as("mean_y"),
          (col("sav") / col("nv").cast("double")).as("mean_adj"))
      val va = byV.filter(col("v") === 0)
        .select(col("nv").as("n_a"), col("mean_y").as("my_a"),
          col("mean_adj").as("ma_a"))
      val vb = byV.filter(col("v") === 1)
        .select(col("nv").as("n_b"), col("mean_y").as("my_b"),
          col("mean_adj").as("ma_b"))
      val vstats = adj.agg(
        su(col("y") * col("y"), 32768.0).as("syy"),
        su(col("yadj") * col("yadj"), 32768.0).as("saa"),
        su(col("yadj"), 4096.0).as("sa"))
      va.crossJoin(vb).crossJoin(broadcast(pool)).crossJoin(broadcast(vstats))
        .select(col("n_a"), col("n_b"), col("theta"),
          round(col("my_a"), 6).as("mean_a"),
          round(col("my_b"), 6).as("mean_b"),
          round(col("my_b") - col("my_a"), 6).as("lift"),
          round(col("ma_a"), 6).as("mean_adj_a"),
          round(col("ma_b"), 6).as("mean_adj_b"),
          round(col("ma_b") - col("ma_a"), 6).as("lift_adj"),
          round(lit(1.0) -
            ((col("saa") - col("sa") * col("sa") / nD) / nD) /
            nullif((col("syy") - col("sy") * col("sy") / nD) / nD,
              lit(0.0)), 6)
            .as("var_reduction"))
    }),

    // A/B experiment readout with a two-proportion z-test: users are
    // deterministically hash-assigned to variant 0/1 (the bucketing a
    // real experiment framework does), conversion = any 'purchase'
    // event, and the readout is one row: per-variant sizes, rates,
    // pooled z, significance at |z| > 1.96. Shape: per-user conversion
    // is ONE user-keyed hash agg (map-side max partials), the variant
    // split a conditional scalar agg — no second shuffle, nothing on
    // the driver. z is transcendental (sqrt) so it rounds to 6 dp and
    // the flag derives from the ROUNDED value on both engines
    // (pipe_wsample discipline); a degenerate pool (p = 0 or 1) makes
    // se = 0, guarded to z = 0 identically on both engines (Spark
    // x/0 = NULL vs DuckDB IEEE inf — the emb_sq8 divergence class).
    "agg_ab" -> ((s, d) => {
      val ev = t(s, d, "events")
      val users = ev.groupBy("user_id")
        .agg(max((col("event_type") === "purchase").cast("int")).as("conv"))
        .withColumn("v", pmod(graft.functions.TextOps.hash32(
          concat(lit("ab:"), col("user_id").cast("string"))), lit(2)))
      val c = users.agg(
        sum(when(col("v") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("v") === 0, col("conv").cast("long")).otherwise(0L))
          .as("conv_a"),
        sum(when(col("v") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("v") === 1, col("conv").cast("long")).otherwise(0L))
          .as("conv_b"))
      // NULLIF on the variant sizes: an empty bucket must yield NULL
      // on BOTH engines (Spark x/0 = NULL vs DuckDB IEEE inf — the
      // emb_sq8 divergence class); NULL then propagates through z,
      // the CASE predicate, and the flag identically
      val pa = col("conv_a").cast("double") / nullif(col("n_a"), lit(0L))
      val pb = col("conv_b").cast("double") / nullif(col("n_b"), lit(0L))
      val p = (col("conv_a") + col("conv_b")).cast("double") /
        nullif(col("n_a") + col("n_b"), lit(0L))
      val se = sqrt(p * (lit(1.0) - p) *
        (lit(1.0) / nullif(col("n_a"), lit(0L)) +
          lit(1.0) / nullif(col("n_b"), lit(0L))))
      val z = round(when(se === 0.0, 0.0).otherwise((pa - pb) / se), 6)
      c.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        round(pa, 6).as("rate_a"), round(pb, 6).as("rate_b"),
        z.as("z"), (abs(z) > lit(1.96)).as("significant"))
    }),

    // ROC AUC of an activity-based conversion predictor (score = the
    // user's event count, label = any purchase with value > 95 — the
    // plain any-purchase label saturates to all-positive on this
    // data) — the readout a quality-classifier gate runs before
    // trusting a model's ranking.
    // AUC = P(score+ > score-) + 0.5·P(tie), computed by rank
    // arithmetic over the score HISTOGRAM, never per-pair:
    //   2·num = 2·Σ_s pos_s·cumneg_<s + Σ_s pos_s·neg_s,
    //   AUC   = num / (P·N)
    // accumulates in DECIMAL(38,0) until ONE final double division,
    // so both engines agree bit-for-bit with no rounding. The rank
    // products pos·cumneg reach ~P·N (~1e18 at 2e9 users per class,
    // past 2^63 beyond that) — the graph_assortativity overflow
    // class, protected in the round-10 audit: pos lifts to decimal
    // BEFORE the multiply so the per-row product can't wrap either.
    // Scale shape: per-user agg is ONE user-keyed hash agg; the
    // corpus then collapses to a histogram bounded by distinct
    // integer scores, and the cumulative negatives come from the
    // text_ks triangular <= self-join of that broadcast-tiny
    // histogram (deliberate-broadcast class, not a global window).
    // An empty class makes AUC undefined → NULLIF yields NULL on
    // both engines identically; gini = 2·AUC - 1 propagates it.
    "agg_auc" -> ((s, d) => {
      val users = t(s, d, "events").groupBy("user_id").agg(
        count(lit(1)).as("score"),
        max((col("event_type") === "purchase" && col("value") > 95)
          .cast("long")).as("conv"))
      val h = users.groupBy("score").agg(
        sum(col("conv")).as("pos"),
        sum(lit(1L) - col("conv")).as("neg"))
      val c = h.as("x").join(broadcast(h.as("y")),
          col("y.score") <= col("x.score"))
        .groupBy(col("x.score"), col("x.pos"), col("x.neg"))
        .agg(sum(col("y.neg")).as("cumneg_le"))
      val dec0 = "decimal(38,0)"
      val tot = c.agg(
        sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"),
        sum(col("pos").cast(dec0) * (col("cumneg_le") - col("neg")) * lit(2L) +
          col("pos").cast(dec0) * col("neg")).as("num2"))
      val auc = col("num2").cast("double") /
        nullif(col("n_pos").cast("double") * col("n_neg").cast("double") *
          lit(2.0), lit(0.0))
      tot.select(col("n_pos"), col("n_neg"), auc.as("auc"),
        (lit(2.0) * auc - lit(1.0)).as("gini"))
    }),

    // calibration reliability bins — the third leg of the model-
    // readout triad (agg_ab decides, agg_auc ranks, this one checks
    // whether the score MAGNITUDE means what it claims): bucket users
    // by activity score, compare the bin's average score against its
    // empirical conversion rate. Everything is bigint until one final
    // double division per output column, so both engines agree
    // bit-for-bit with no rounding. Scale shape: one user-keyed hash
    // agg, then a hash agg over ~score/5 bins — output bounded by the
    // score range, no window, no broadcast.
    "agg_calibration" -> ((s, d) => {
      val users = t(s, d, "events").groupBy("user_id").agg(
        count(lit(1)).as("score"),
        max((col("event_type") === "purchase" && col("value") > 95)
          .cast("long")).as("conv"))
      users
        .withColumn("bin",
          floor(col("score").cast("double") / lit(5.0)).cast("long"))
        .groupBy("bin").agg(
          count(lit(1)).as("n"),
          sum(col("score")).as("ss"),
          sum(col("conv")).as("np"))
        .select(col("bin"), col("n"),
          (col("ss").cast("double") / col("n")).as("avg_score"),
          (col("np").cast("double") / col("n")).as("conv_rate"))
        .orderBy("bin")
    }),

    // Sample-ratio-mismatch (SRM) check — the guardrail an experiment
    // platform runs BEFORE reading agg_ab's z: under the intended
    // 50/50 hash split, is the observed variant allocation plausible?
    // chi2 = Σ (o - e)²/e over the two variants with e = n/2; SRM
    // flagged at chi2 > 3.841 (df = 1, α = 0.05) — a triggered flag
    // means the bucketing or logging is broken and the experiment
    // readout is void. Shape: ONE user-keyed hash agg (dedup to
    // first-seen users), then a 2-row conditional scalar agg;
    // integer counts until the final divisions, chi2 rounded to 6 on
    // both engines before the flag (agg_ab discipline).
    "agg_srm" -> ((s, d) => {
      val users = t(s, d, "events").groupBy("user_id").agg(count(lit(1)).as("n_ev"))
        .withColumn("v", pmod(graft.functions.TextOps.hash32(
          concat(lit("ab:"), col("user_id").cast("string"))), lit(2)))
      val c = users.agg(
        sum(when(col("v") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("v") === 1, 1L).otherwise(0L)).as("n_b"))
      val e = (col("n_a") + col("n_b")).cast("double") / lit(2.0)
      val da = col("n_a").cast("double") - e
      val db = col("n_b").cast("double") - e
      val chi2 = round((da * da + db * db) / e, 6)
      c.select(col("n_a"), col("n_b"), chi2.as("chi2"),
        (chi2 > lit(3.841)).as("srm"))
    }),

    // GINI COEFFICIENT of per-user spend — the concentration /
    // whale-analysis readout (how unequal is revenue across users):
    // computed by the trapezoid rule over the Lorenz curve of the
    // INTEGER-DOLLAR spend histogram, G = 1 − Σ_k p_k·(L_{k−1}+L_k).
    // The histogram is bounded by the VALUE RANGE, not the user count
    // (the agg_auc rank-arithmetic discipline) — at 100 TB the
    // per-user agg is one hash-agg and everything after runs on the
    // range-bounded bucket table, never a global sort of users.
    // Bucketing at whole dollars is the documented quantization (a
    // production run tightens the grid or feeds a quantile sketch);
    // both engines bucket identically so the value is bit-exact.
    // Per-bucket spend sums stay DECIMAL until the Lorenz divisions;
    // the bucket-term sum is an fsum (order-independent); G rounds
    // to 6.
    "agg_gini" -> ((s, d) => {
      val spend = t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(col("value").cast(Exact.Dec)).as("sp"))
      val hist = spend
        .groupBy(floor(col("sp").cast("double")).cast("long").as("b"))
        .agg(count(lit(1)).as("c"), sum(col("sp")).as("sd"))
      val tot = hist.agg(sum(col("c")).as("n"),
        sum(col("sd")).cast("double").as("t"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("b")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      val terms = hist
        .withColumn("cum", sum(col("sd")).over(w).cast("double"))
        .crossJoin(broadcast(tot))
        .select((col("c").cast("double") / col("n").cast("double") *
          (lit(2.0) * col("cum") - col("sd").cast("double")) / col("t"))
          .as("term"), col("n"), col("t"))
      terms.groupBy("n")
        .agg(max(col("t")).as("total_spend"),
          round(lit(1.0) - Exact.fsum(col("term")), 6).as("gini"))
        .select(col("n").as("n_users"),
          round(col("total_spend"), 2).as("total_spend"), col("gini"))
    }),

    // PARETO / top-decile share — the operationally quoted companion
    // to agg_gini's scalar ("the top 10% of buyers drive X% of
    // revenue"): share of total spend held by the heaviest 10% and 1%
    // of purchasing users, from the SAME range-bounded integer-dollar
    // histogram (one user hash-agg, no global sort). The decile
    // boundary falls inside a bucket; its spend is allocated
    // pro-rata by user count (uniform-within-bucket, the documented
    // quantization — identical arithmetic in both engines). Descending
    // cumulative counts/spends are windows over the bounded histogram.
    "agg_pareto" -> ((s, d) => {
      val spend = t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(col("value").cast(Exact.Dec)).as("sp"))
      val hist = spend
        .groupBy(floor(col("sp").cast("double")).cast("long").as("b"))
        .agg(count(lit(1)).as("c"), sum(col("sp")).as("sd"))
      val tot = hist.agg(sum(col("c")).as("n"),
        sum(col("sd")).cast("double").as("t"))
      val wDesc = org.apache.spark.sql.expressions.Window
        .orderBy(col("b").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      val cum = hist
        .withColumn("cumC", sum(col("c")).over(wDesc))
        .withColumn("cumS", sum(col("sd")).over(wDesc).cast("double"))
        .crossJoin(broadcast(tot))
      def share(frac: Double) = {
        // take whole buckets while cumC <= n*frac; pro-rate the
        // boundary bucket's spend by the user shortfall
        val target = col("n").cast("double") * lit(frac)
        val prevC = (col("cumC") - col("c")).cast("double")
        val sdD = col("sd").cast("double")
        val inside = col("cumC").cast("double") >= target && prevC < target
        round(Exact.fsum(
          when(col("cumC").cast("double") <= target, sdD)
            .when(inside,
              sdD * (target - prevC) / col("c").cast("double"))
            .otherwise(lit(0.0)) / lit(1024.0)) * lit(1024.0) /
          max(col("t")), 6)
      }
      cum.groupBy("n")
        .agg(share(0.10).as("top10_share"), share(0.01).as("top1_share"))
        .select(col("n").as("n_users"), col("top10_share"),
          col("top1_share"))
    }),

    // POWER ANALYSIS / minimum detectable effect for the A/B readout —
    // the question asked BEFORE agg_ab's z is read: at the observed
    // sample sizes and base rate, what conversion-rate lift could this
    // experiment even see? MDE = (z_{α/2} + z_β)·SE with SE =
    // sqrt(p(1−p)(1/n_a + 1/n_b)), α = .05 two-sided (1.959964),
    // β = .2 i.e. 80% power (0.841621) — the industry-default
    // parameters. Also reports the n-per-arm needed to detect a 1%
    // absolute lift. Shape: agg_ab's one user-keyed hash-agg into a
    // 1-row readout; the only transcendental is sqrt, rounded to 6.
    "agg_power" -> ((s, d) => {
      val users = t(s, d, "events").groupBy("user_id")
        .agg(max((col("event_type") === "purchase").cast("int")).as("conv"))
        .withColumn("v", pmod(graft.functions.TextOps.hash32(
          concat(lit("ab:"), col("user_id").cast("string"))), lit(2)))
      val c = users.agg(
        sum(when(col("v") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("v") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(col("conv").cast("long")).as("conv_all"))
      // NULLIF guards: with one arm empty (or zero conversions) the
      // MDE is undefined — NULL, not an ANSI DIVIDE_BY_ZERO crash
      // (EdgeExec single-row sweep, round 10)
      val p = col("conv_all").cast("double") /
        nullif((col("n_a") + col("n_b")).cast("double"), lit(0.0))
      val se = sqrt(p * (lit(1.0) - p) *
        (lit(1.0) / nullif(col("n_a").cast("double"), lit(0.0)) +
          lit(1.0) / nullif(col("n_b").cast("double"), lit(0.0))))
      val zsum = lit(1.959964 + 0.841621)
      val mde = round(zsum * se, 6)
      // n per arm for a 1% absolute lift: n = 2 p(1-p) (z_sum / d)^2
      val nNeed = ceil(lit(2.0) * p * (lit(1.0) - p) *
        (zsum / lit(0.01)) * (zsum / lit(0.01))).cast("long")
      c.select(col("n_a"), col("n_b"), round(p, 6).as("base_rate"),
        mde.as("mde_abs"),
        round(mde / nullif(p, lit(0.0)), 6).as("mde_rel"),
        nNeed.as("n_per_arm_for_1pct"))
    }),

    // ONE-WAY ANOVA across event types — the k-group extension of
    // agg_ab's two-sample z: does mean `value` differ across the
    // event types at all (run BEFORE k·(k−1)/2 pairwise tests —
    // the multiple-comparison discipline)? F = (SSB/(k−1)) /
    // (SSW/(N−k)) from per-group sufficient statistics only:
    // SSB = Σ_g S_g²/n_g − S²/N, SSW = Σ_g Q_g − Σ_g S_g²/n_g with
    // S = Σv, Q = Σv² — one group-keyed hash agg, a k-row re-agg,
    // nothing else. Exactness: v has 2 decimals so v and v² sum
    // exactly in DECIMAL(30,4) (Exact.dsum); the divisions are the
    // only doubles, F rounds to 6 and the flag reads the rounded
    // value (agg_ab discipline; crit = 2.372, df1 = 4, df2 = ∞).
    "agg_anova" -> ((s, d) => {
      val g = t(s, d, "events").groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(Exact.Dec)).as("svd"),
          sum((col("value") * col("value")).cast(Exact.Dec)).as("sqd"))
      val tot = g.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
        sum(col("svd")).cast("double").as("sAll"),
        sum(col("sqd")).cast("double").as("qAll"),
        // exact power-of-two prescale (the agg_cuped discipline):
        // S_g^2/n_g reaches ~5e7 at sf0.1 and fsum's BIGINT mirror
        // holds only |x| < 1024 on the 2^53 grid — /2^36 keeps the
        // scaled terms far inside while the grid stays 2^-17 absolute
        (Exact.fsum(col("svd").cast("double") * col("svd").cast("double") /
          col("n").cast("double") / lit(68719476736.0)) *
          lit(68719476736.0)).as("sbAll"))
      val ssb = col("sbAll") -
        col("sAll") * col("sAll") / col("nn").cast("double")
      val ssw = col("qAll") - col("sbAll")
      // NULLIF guards: F is undefined at k=1 or N=k (zero df on either
      // side) — NULL, not an ANSI DIVIDE_BY_ZERO crash (EdgeExec
      // single-row sweep, round 10)
      val f = round((ssb / nullif((col("k") - 1).cast("double"), lit(0.0))) /
        nullif(ssw / nullif((col("nn") - col("k")).cast("double"), lit(0.0)),
          lit(0.0)), 6)
      tot.select(col("k"), col("nn").as("n"),
        round(ssb, 6).as("ssb"), round(ssw, 6).as("ssw"), f.as("f"),
        (f > lit(2.372)).as("significant"))
    }),

    // HLL SKETCH MERGE — the property that makes sketch pipelines
    // work at 100 TB: per-DAY sub-sketches (the shape a daily
    // ingestion job materializes) merge by REGISTER-WISE MAX into the
    // month sketch, and because max is associative/commutative/
    // idempotent the merged sketch is BIT-IDENTICAL to one built over
    // the whole span directly — re-aggregation of pre-aggregated
    // partials is lossless, unlike any sum/avg of per-day distinct
    // counts. The query materializes both paths and the checked claim
    // is est_merged == est_direct EXACTLY (plus the usual accuracy
    // readout vs the exact distinct). Same 64-register rho
    // construction as agg_hll_manual; one (day, bucket) hash-agg +
    // bounded register tables.
    "agg_hll_merge" -> ((s, d) => {
      val b = t(s, d, "events")
        .select(date_trunc("day", col("ts")).as("day"),
          graft.functions.TextOps.hash32(col("user_id").cast("string")).as("h"),
          col("user_id"))
        .withColumn("bucket", pmod(col("h"), lit(64)))
        .withColumn("rho", hllRho)
      def estDf(regs: DataFrame, as: String): DataFrame = regs
        .agg(sum(pow(lit(2.0), -col("mx"))).as("s_ne"),
          count(lit(1)).as("v_ne"))
        .select(((lit(64) - col("v_ne")) + col("s_ne")).as("ss"),
          (lit(64) - col("v_ne")).as("vz"),
          (lit(0.709) * 4096 / ((lit(64) - col("v_ne")) + col("s_ne")))
            .as("raw"))
        .select(round(when(col("raw") <= 160 && col("vz") > 0,
            lit(64) * log(lit(64.0) / col("vz")))
          .otherwise(col("raw")), 2).as(as))
      val daily = b.groupBy("day", "bucket").agg(max(col("rho")).as("mx"))
      val merged = daily.groupBy("bucket").agg(max(col("mx")).as("mx"))
      val direct = b.groupBy("bucket").agg(max(col("rho")).as("mx"))
      val nd = daily.select("day").distinct().agg(count(lit(1)).as("n_days"))
      val exact = b.agg(countDistinct(col("user_id")).as("exact_users"))
      estDf(merged, "est_merged").crossJoin(estDf(direct, "est_direct"))
        .crossJoin(broadcast(nd)).crossJoin(broadcast(exact))
        .select(col("n_days"), col("est_merged"), col("est_direct"),
          (col("est_merged") === col("est_direct")).as("lossless"),
          col("exact_users"),
          round(abs(col("est_merged") - col("exact_users").cast("double")) /
            col("exact_users").cast("double"), 6).as("rel_err"))
    }),

    // TUKEY MEDIAN POLISH of the (weekday x hour) activity grid — the
    // robust two-way seasonality decomposition (Tukey 1977 EDA):
    // counts = overall + weekday effect + hour effect + residual,
    // fit by alternately sweeping MEDIANS out of rows and columns
    // (means would let one incident hour drag its whole weekday; the
    // residual table is where anomalies live AFTER seasonality is
    // removed — the input tw_anomaly's pointwise EWMA lacks). Two
    // unrolled sweeps; medians of <= 24 integer-or-half values are
    // exact doubles, so every number is bit-exact cross-engine with
    // NO rounding. 100 TB shape: the corpus collapses to the 168-cell
    // grid in ONE hash-agg; every sweep is a bounded 7- or 24-row
    // median + broadcast-join subtract. Output = the long-format
    // decomposition (overall, 7 weekday effects, 24 hour effects,
    // top-5 |residual| cells).
    "agg_polish" -> ((s, d) => {
      // every sweep's residual grid feeds TWO consumers (the next
      // median + the next subtract), so the corpus-scale grid agg
      // would re-execute 2^4 times without a barrier — each sweep's
      // output is 168 rows, so localCheckpoint caps it at one corpus
      // scan total (the graph_ppr rule: barrier when the replayed
      // lineage is corpus-scale)
      val grid = t(s, d, "events")
        .groupBy(dayofweek(col("ts")).as("dw"), hour(col("ts")).as("hr"))
        .agg(count(lit(1)).cast("double").as("e"))
        .localCheckpoint()
      def rowSweep(g: DataFrame): (DataFrame, DataFrame) = {
        val rm = g.groupBy("dw").agg(median(col("e")).as("m"))
        (g.join(broadcast(rm), "dw")
          .select(col("dw"), col("hr"), (col("e") - col("m")).as("e"))
          .localCheckpoint(), rm)
      }
      def colSweep(g: DataFrame): (DataFrame, DataFrame) = {
        val cm = g.groupBy("hr").agg(median(col("e")).as("m"))
        (g.join(broadcast(cm), "hr")
          .select(col("dw"), col("hr"), (col("e") - col("m")).as("e"))
          .localCheckpoint(), cm)
      }
      val (e1, rm1) = rowSweep(grid)
      val (e2, cm1) = colSweep(e1)
      val (e3, rm2) = rowSweep(e2)
      val (e4, cm2) = colSweep(e3)
      val rEff = rm1.select(col("dw"), col("m").as("m1"))
        .join(rm2.select(col("dw"), col("m").as("m2")), "dw")
        .select(col("dw"), (col("m1") + col("m2")).as("eff"))
      val cEff = cm1.select(col("hr"), col("m").as("m1"))
        .join(cm2.select(col("hr"), col("m").as("m2")), "hr")
        .select(col("hr"), (col("m1") + col("m2")).as("eff"))
      // center the effect vectors: their medians move into the overall
      val rMed = rEff.agg(median(col("eff")).as("rm"))
      val cMed = cEff.agg(median(col("eff")).as("cm"))
      val overall = rMed.crossJoin(cMed)
        .select(lit("overall").as("component"),
          lit(null).cast("int").as("k"), (col("rm") + col("cm")).as("value"))
      val rows = rEff.crossJoin(broadcast(rMed))
        .select(lit("dow").as("component"), col("dw").cast("int").as("k"),
          (col("eff") - col("rm")).as("value"))
      val cols = cEff.crossJoin(broadcast(cMed))
        .select(lit("hour").as("component"), col("hr").cast("int").as("k"),
          (col("eff") - col("cm")).as("value"))
      val resid = e4
        .select(lit("resid").as("component"),
          (col("dw") * 100 + col("hr")).cast("int").as("k"),
          col("e").as("value"))
        .orderBy(abs(col("value")).desc, col("k")).limit(5)
      overall.unionByName(rows).unionByName(cols).unionByName(resid)
        .orderBy("component", "k")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "agg_gini" ->
      s"""WITH spend AS (SELECT user_id,
                                sum(CAST(value AS DECIMAL(30,4))) AS sp
                         FROM events WHERE event_type = 'purchase'
                         GROUP BY 1),
          hist AS (SELECT CAST(floor(CAST(CAST(sp AS VARCHAR) AS DOUBLE))
                            AS BIGINT) AS b,
                          count(*) AS c, sum(sp) AS sd
                   FROM spend GROUP BY 1),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                         CAST(CAST(sum(sd) AS VARCHAR) AS DOUBLE) AS t
                  FROM hist),
          terms AS (SELECT CAST(c AS DOUBLE) / n *
                           (2.0 * CAST(CAST(sum(sd) OVER (ORDER BY b
                              ROWS UNBOUNDED PRECEDING) AS VARCHAR)
                              AS DOUBLE)
                            - CAST(CAST(sd AS VARCHAR) AS DOUBLE)) / t
                             AS term,
                           n, t
                    FROM hist CROSS JOIN tot)
          SELECT n AS n_users, round(max(t), 2) AS total_spend,
                 round(1.0 - ${graft.core.ExactSql.fsum("term")}, 6) AS gini
          FROM terms GROUP BY n""",
    "agg_pareto" -> {
      def share(frac: String) = graft.core.ExactSql.fsum(
        s"""(CASE WHEN CAST(cumC AS DOUBLE) <= n * $frac
                  THEN CAST(sd AS DOUBLE)
                  WHEN CAST(cumC AS DOUBLE) >= n * $frac
                       AND CAST(cumC - c AS DOUBLE) < n * $frac
                  THEN CAST(sd AS DOUBLE) *
                       (n * $frac - CAST(cumC - c AS DOUBLE))
                       / CAST(c AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END) / 1024.0""")
      s"""WITH spend AS (SELECT user_id,
                                sum(CAST(value AS DECIMAL(30,4))) AS sp
                         FROM events WHERE event_type = 'purchase'
                         GROUP BY 1),
          hist AS (SELECT CAST(floor(CAST(CAST(sp AS VARCHAR) AS DOUBLE))
                            AS BIGINT) AS b,
                          count(*) AS c, sum(sp) AS sd
                   FROM spend GROUP BY 1),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                         CAST(CAST(sum(sd) AS VARCHAR) AS DOUBLE) AS t
                  FROM hist),
          cum AS (SELECT b, c, sd,
                         CAST(sum(c) OVER (ORDER BY b DESC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumC
                  FROM hist)
          SELECT n AS n_users,
                 round(${share("0.10")} * 1024.0 / max(t), 6) AS top10_share,
                 round(${share("0.01")} * 1024.0 / max(t), 6) AS top1_share
          FROM cum CROSS JOIN tot GROUP BY n"""
    },
    "agg_power" -> {
      val h = graft.functions.TextOps.hash32Sql(
        "'ab:' || CAST(user_id AS VARCHAR)")
      s"""WITH u AS (SELECT user_id,
                            max(CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END) AS conv
                     FROM events GROUP BY 1),
          c AS (SELECT CAST(sum(CASE WHEN ($h) % 2 = 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_a,
                       CAST(sum(CASE WHEN ($h) % 2 = 1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_b,
                       CAST(sum(conv) AS BIGINT) AS conv_all
                FROM u),
          s AS (SELECT n_a, n_b,
                       CAST(conv_all AS DOUBLE) / (n_a + n_b) AS p,
                       sqrt((CAST(conv_all AS DOUBLE) / (n_a + n_b)) *
                            (1.0 - CAST(conv_all AS DOUBLE) / (n_a + n_b)) *
                            (1.0 / n_a + 1.0 / n_b)) AS se
                FROM c)
          SELECT n_a, n_b, round(p, 6) AS base_rate,
                 round((1.959964 + 0.841621) * se, 6) AS mde_abs,
                 round(round((1.959964 + 0.841621) * se, 6) / p, 6)
                   AS mde_rel,
                 CAST(ceil(2.0 * p * (1.0 - p) *
                   ((1.959964 + 0.841621) / 0.01) *
                   ((1.959964 + 0.841621) / 0.01)) AS BIGINT)
                   AS n_per_arm_for_1pct
          FROM s"""
    },
    "agg_anova" ->
      s"""WITH g AS (SELECT event_type, count(*) AS n,
                            sum(CAST(value AS DECIMAL(30,4))) AS svd,
                            sum(CAST(value * value AS DECIMAL(30,4))) AS sqd
                     FROM events GROUP BY 1),
          tot AS (SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS nn,
                         CAST(CAST(sum(svd) AS VARCHAR) AS DOUBLE) AS sall,
                         CAST(CAST(sum(sqd) AS VARCHAR) AS DOUBLE) AS qall,
                         ${graft.core.ExactSql.fsum(
                           """CAST(CAST(svd AS VARCHAR) AS DOUBLE) *
                              CAST(CAST(svd AS VARCHAR) AS DOUBLE) /
                              CAST(n AS DOUBLE) / 68719476736.0""")}
                           * 68719476736.0 AS sball
                  FROM g)
          SELECT k, nn AS n,
                 round(sball - sall * sall / nn, 6) AS ssb,
                 round(qall - sball, 6) AS ssw,
                 round((sball - sall * sall / nn) / (k - 1)
                       / ((qall - sball) / (nn - k)), 6) AS f,
                 round((sball - sall * sall / nn) / (k - 1)
                       / ((qall - sball) / (nn - k)), 6)
                   > CAST(2.372 AS DOUBLE) AS significant
          FROM tot""",
    "agg_hll_merge" -> {
      val h = graft.functions.TextOps.hash32Sql("CAST(user_id AS VARCHAR)")
      def estSql(regs: String) =
        s"""(SELECT round(CASE WHEN raw <= 160 AND vz > 0
                   THEN 64 * ln(CAST(64.0 AS DOUBLE) / vz)
                   ELSE raw END, 2)
             FROM (SELECT 64 - v_ne AS vz,
                          CAST(0.709 AS DOUBLE) * 4096
                            / ((64 - v_ne) + s_ne) AS raw
                   FROM (SELECT sum(pow(CAST(2.0 AS DOUBLE), -mx)) AS s_ne,
                                count(*) AS v_ne FROM $regs) a) x)"""
      s"""WITH b AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
                            ($h) % 64 AS bucket,
                            27 - length(ltrim(bin(($h) // 64), '0')) AS rho,
                            user_id
                     FROM events),
          daily AS (SELECT day, bucket, max(rho) AS mx FROM b GROUP BY 1, 2),
          merged AS (SELECT bucket, max(mx) AS mx FROM daily GROUP BY 1),
          direct AS (SELECT bucket, max(rho) AS mx FROM b GROUP BY 1),
          ex AS (SELECT count(DISTINCT user_id) AS exact_users FROM b)
          SELECT (SELECT count(DISTINCT day) FROM daily) AS n_days,
                 ${estSql("merged")} AS est_merged,
                 ${estSql("direct")} AS est_direct,
                 ${estSql("merged")} = ${estSql("direct")} AS lossless,
                 exact_users,
                 round(abs(${estSql("merged")}
                       - CAST(exact_users AS DOUBLE))
                   / CAST(exact_users AS DOUBLE), 6) AS rel_err
          FROM ex"""
    },
    "agg_polish" ->
      """WITH grid AS (SELECT dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dw,
                              hour(CAST(ts AS TIMESTAMP)) AS hr,
                              CAST(count(*) AS DOUBLE) AS e
                       FROM events GROUP BY 1, 2),
         rm1 AS (SELECT dw, median(e) AS m FROM grid GROUP BY 1),
         e1 AS (SELECT g.dw, g.hr, g.e - m AS e FROM grid g JOIN rm1 USING (dw)),
         cm1 AS (SELECT hr, median(e) AS m FROM e1 GROUP BY 1),
         e2 AS (SELECT g.dw, g.hr, g.e - m AS e FROM e1 g JOIN cm1 USING (hr)),
         rm2 AS (SELECT dw, median(e) AS m FROM e2 GROUP BY 1),
         e3 AS (SELECT g.dw, g.hr, g.e - m AS e FROM e2 g JOIN rm2 USING (dw)),
         cm2 AS (SELECT hr, median(e) AS m FROM e3 GROUP BY 1),
         e4 AS (SELECT g.dw, g.hr, g.e - m AS e FROM e3 g JOIN cm2 USING (hr)),
         reff AS (SELECT dw, rm1.m + rm2.m AS eff FROM rm1 JOIN rm2 USING (dw)),
         ceff AS (SELECT hr, cm1.m + cm2.m AS eff FROM cm1 JOIN cm2 USING (hr)),
         rmed AS (SELECT median(eff) AS rm FROM reff),
         cmed AS (SELECT median(eff) AS cm FROM ceff),
         unioned AS (
           SELECT 'overall' AS component, CAST(NULL AS INT) AS k,
                  rm + cm AS value
           FROM rmed CROSS JOIN cmed
           UNION ALL
           SELECT 'dow', CAST(dw AS INT), eff - rm FROM reff CROSS JOIN rmed
           UNION ALL
           SELECT 'hour', CAST(hr AS INT), eff - cm FROM ceff CROSS JOIN cmed
           UNION ALL
           SELECT * FROM (SELECT 'resid', CAST(dw * 100 + hr AS INT), e
                          FROM e4
                          ORDER BY abs(e) DESC, CAST(dw * 100 + hr AS INT)
                          LIMIT 5))
         SELECT * FROM unioned ORDER BY component, k""",
    // the boolean is the checked claim: Spark's HLL++ estimate landed
    // within 5% of the exact distinct count the two engines share
    "agg_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
         TRUE AS approx_ok FROM events
         GROUP BY event_type ORDER BY event_type""",
    "agg_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
          ${ExactSql.dsum("l_quantity")} AS sum_qty,
          ${ExactSql.dsum("l_extendedprice")} AS sum_base,
          ${ExactSql.dsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc,
          ${ExactSql.davg("l_quantity")} AS avg_qty,
          count(*) AS cnt
          FROM lineitem GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus""",
    "agg_having" ->
      """SELECT o_custkey, count(*) AS cnt FROM orders
         GROUP BY o_custkey HAVING count(*) >= 15 ORDER BY o_custkey""",
    "agg_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, GROUPING(l_returnflag, l_linestatus) AS gid,
          count(*) AS cnt, ${ExactSql.dsum("l_quantity")} AS sum_qty
          FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
          ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
                GROUPING(o_orderstatus, o_orderpriority) AS gid, count(*) AS cnt
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
                GROUPING(o_orderstatus, o_orderpriority) AS gid, count(*) AS cnt
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "agg_distinct" ->
      s"""SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
          ${ExactSql.dsumDistinct("l_quantity")} AS sum_dq,
          count(DISTINCT (l_suppkey, l_linestatus)) AS n_pair
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_mode" ->
      """WITH c AS (SELECT l_returnflag, l_quantity AS q, count(*) AS n
                    FROM lineitem GROUP BY 1, 2),
          r AS (SELECT l_returnflag, q, n,
                       row_number() OVER (PARTITION BY l_returnflag
                                          ORDER BY n DESC, q ASC) AS rn
                FROM c)
          SELECT l_returnflag, q AS mode_qty,
                 (SELECT max(n) FROM c c2
                  WHERE c2.l_returnflag = r.l_returnflag) AS mode_n
          FROM r WHERE rn = 1 ORDER BY l_returnflag""",
    "agg_maxby" ->
      """SELECT m.o_orderstatus, t.k AS top_order, b.k AS bottom_order,
                m.mx AS top_price
         FROM (SELECT o_orderstatus, max(o_totalprice) AS mx
               FROM orders GROUP BY 1) m
         JOIN (SELECT o_orderstatus, o_orderkey AS k,
                      row_number() OVER (PARTITION BY o_orderstatus
                        ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
               FROM orders) t
           ON m.o_orderstatus = t.o_orderstatus AND t.rn = 1
         JOIN (SELECT o_orderstatus, o_orderkey AS k,
                      row_number() OVER (PARTITION BY o_orderstatus
                        ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn
               FROM orders) b
           ON m.o_orderstatus = b.o_orderstatus AND b.rn = 1
         ORDER BY m.o_orderstatus""",
    "agg_udaf_maxmin" ->
      """SELECT c_mktsegment, max(c_acctbal) AS mx, min(c_acctbal) AS mn,
                count(c_acctbal) AS n
         FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "agg_percentile" ->
      """SELECT l_returnflag,
                quantile_cont(l_quantity, 0.25) AS p25,
                quantile_cont(l_quantity, 0.5) AS p50,
                quantile_cont(l_quantity, 0.75) AS p75,
                quantile_cont(l_extendedprice, 0.9) AS price_p90
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // sketch capacity > distinct(l_quantity) -> exact histogram -> the
    // oracle is plain continuous quantiles
    "agg_qsketch" ->
      """SELECT l_returnflag,
                quantile_cont(l_quantity, 0.25) AS p25,
                quantile_cont(l_quantity, 0.5) AS p50,
                quantile_cont(l_quantity, 0.75) AS p75,
                quantile_cont(l_quantity, 0.9) AS p90
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_weighted_avg" ->
      """SELECT l_returnflag,
                CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,4))) AS DOUBLE)
                  / CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS wavg
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_hll_manual" ->
      s"""WITH h AS (SELECT event_type,
                 ${graft.functions.TextOps.hash32Sql("CAST(user_id AS VARCHAR)")} AS h
               FROM events),
          b AS (SELECT event_type, h % 64 AS bucket,
                       27 - length(ltrim(bin(h // 64), '0')) AS rho
                FROM h),
          m AS (SELECT event_type, bucket, max(rho) AS mx
                FROM b GROUP BY 1, 2),
          agg AS (SELECT event_type,
                         sum(pow(CAST(2.0 AS DOUBLE), -mx)) AS s_ne,
                         count(*) AS v_ne
                  FROM m GROUP BY 1)
          SELECT event_type,
                 round(CASE WHEN raw <= 160 AND vz > 0
                            THEN 64 * ln(CAST(64.0 AS DOUBLE) / vz)
                            ELSE raw END, 2) AS est_users
          FROM (SELECT event_type, 64 - v_ne AS vz,
                       CAST(0.709 AS DOUBLE) * 4096 / ((64 - v_ne) + s_ne) AS raw
                FROM agg) x
          ORDER BY event_type""",
    "agg_cms" -> {
      // Kirsch-Mitzenmacher: row hash j = (h*(2j+1) + j*7919) mod w
      val h = graft.functions.TextOps.hash32Sql(
        "'cms:' || CAST(user_id AS VARCHAR)")
      s"""WITH jb AS (SELECT user_id, j, (($h) * (2*j + 1) + j * 7919) % 64 AS b
                      FROM events CROSS JOIN range(0, 4) r(j)),
          counters AS (SELECT j, b, count(*) AS c FROM jb GROUP BY 1, 2),
          probes AS (SELECT DISTINCT user_id FROM events WHERE user_id < 10),
          pb AS (SELECT user_id, j, (($h) * (2*j + 1) + j * 7919) % 64 AS b
                 FROM probes CROSS JOIN range(0, 4) r(j)),
          est AS (SELECT user_id, min(c) AS est
                  FROM pb JOIN counters USING (j, b) GROUP BY 1),
          exact AS (SELECT user_id, count(*) AS exact FROM events
                    WHERE user_id < 10 GROUP BY 1)
          SELECT user_id, est, exact FROM est JOIN exact USING (user_id)
          ORDER BY user_id"""
    },
    "agg_bloom" -> {
      val h = (i: Int, e: String) => "(" + graft.functions.TextOps.hash32Sql(
        s"'bf:' || CAST($e AS VARCHAR)") + s" * ${2 * i + 1} + ${i * 7919}) % 65536"
      def hashRows(key: String) =
        (0 until 3).map(i => s"SELECT $key AS k, ${h(i, key)} AS hb FROM src")
          .mkString(" UNION ALL ")
      s"""WITH keys AS (SELECT DISTINCT o_custkey FROM orders
                        WHERE o_totalprice > CAST(495000 AS DOUBLE)),
          bh AS (WITH src AS (SELECT o_custkey FROM keys)
                 ${hashRows("o_custkey")}),
          bloom AS (SELECT hb // 32 AS w,
                           bit_or(CAST(1 AS BIGINT) << CAST(hb % 32 AS INT)) AS word
                    FROM bh GROUP BY 1),
          ph AS (WITH src AS (SELECT c_custkey FROM customer)
                 ${hashRows("c_custkey")}),
          checked AS (
            SELECT k AS c_custkey,
                   count(CASE WHEN (coalesce(word, 0) &
                     (CAST(1 AS BIGINT) << CAST(hb % 32 AS INT))) <> 0
                     THEN 1 END) = 3 AS bloom_member
            FROM ph LEFT JOIN bloom ON hb // 32 = w
            GROUP BY k)
          SELECT c.c_custkey, c.bloom_member,
                 coalesce(k.o_custkey IS NOT NULL, false) AS exact_member
          FROM checked c LEFT JOIN keys k ON c.c_custkey = k.o_custkey
          ORDER BY c.c_custkey"""
    },
    "agg_top3_emit" ->
      """SELECT event_type, value AS v FROM (
           SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY value DESC) AS rn
           FROM events) x
         WHERE rn <= 3 ORDER BY event_type, v DESC""",
    "agg_count_window" ->
      s"""SELECT user_id, wid, count(*) AS cnt, ${ExactSql.dsum("value")} AS sum_v
          FROM (SELECT user_id, value,
                       CAST(floor((row_number() OVER (PARTITION BY user_id
                         ORDER BY CAST(ts AS TIMESTAMP), event_id) - 1) / 5)
                         AS INT) AS wid
                FROM events) x
          GROUP BY user_id, wid ORDER BY user_id, wid""",
    "agg_moments" ->
      """WITH m AS (
           SELECT l_returnflag, count(*) AS n,
                  CAST(sum(CAST(l_quantity AS DECIMAL(38,12))) AS DOUBLE) AS sx,
                  CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
                  CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
                  CAST(sum(CAST(l_discount AS DECIMAL(38,12))) AS DOUBLE) AS sy,
                  CAST(sum(CAST(l_discount * l_discount AS DECIMAL(38,12))) AS DOUBLE) AS syy
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n,
                (sxx - sx * sx / n) / (n - 1) AS var_q,
                sqrt((sxx - sx * sx / n) / (n - 1)) AS sd_q,
                (sxy - sx * sy / n) /
                  (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)) AS corr_qd
         FROM m ORDER BY l_returnflag""",
    "agg_string_agg" ->
      """SELECT n_regionkey,
                string_agg(n_name, ',' ORDER BY n_name) AS names,
                count(*) AS cnt
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",
    "agg_ntile" ->
      """SELECT o_orderkey,
                CAST(ntile(4) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS quartile
         FROM orders ORDER BY o_orderkey""",
    "agg_global_stats" ->
      s"""SELECT count(*) AS cnt, count(DISTINCT user_id) AS n_users,
          ${ExactSql.dsum("value")} AS sum_v, ${ExactSql.davg("value")} AS avg_v,
          min(value) AS min_v, max(value) AS max_v FROM events""",
    "agg_paths" ->
      """WITH o AS (SELECT user_id, event_type,
                           lead(event_type, 1) OVER w AS t2,
                           lead(event_type, 2) OVER w AS t3
                    FROM events
                    WINDOW w AS (PARTITION BY user_id
                                 ORDER BY CAST(ts AS TIMESTAMP), event_id)),
          p AS (SELECT event_type || '>' || t2 || '>' || t3 AS path
                FROM o WHERE t3 IS NOT NULL)
          SELECT path, count(*) AS cnt FROM p GROUP BY 1
          ORDER BY cnt DESC, path LIMIT 10""",
    "agg_retention" ->
      """WITH e AS (SELECT DISTINCT user_id,
                           CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                             AS TIMESTAMP) AS day
                    FROM events),
          c AS (SELECT user_id, min(day) AS cohort FROM e GROUP BY 1),
          act AS (SELECT cohort,
                         CAST(date_diff('day', CAST(cohort AS DATE),
                           CAST(day AS DATE)) AS INT) AS day_offset,
                         count(*) AS n_users
                  FROM e JOIN c USING (user_id) GROUP BY 1, 2),
          sz AS (SELECT cohort, n_users AS cohort_size FROM act
                 WHERE day_offset = 0)
          SELECT a.cohort, a.day_offset, a.n_users,
                 CAST(CAST(a.n_users AS DECIMAL(18,8))
                      / CAST(cohort_size AS DECIMAL(18,8)) AS DOUBLE)
                   AS retention
          FROM act a JOIN sz USING (cohort)
          ORDER BY cohort, day_offset""",
    "agg_survival" ->
      s"""WITH u AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS f,
                            max(CAST(ts AS TIMESTAMP)) AS l
                     FROM events GROUP BY 1),
          gm AS (SELECT max(l) AS gmax FROM u),
          lt AS (SELECT (CAST(floor(epoch(l)) AS BIGINT)
                         - CAST(floor(epoch(f)) AS BIGINT)) // 3600 AS t,
                        l >= gmax - INTERVAL 24 HOURS AS censored
                 FROM u CROSS JOIN gm),
          hist AS (SELECT t,
                          CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END)
                            AS BIGINT) AS d,
                          CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END)
                            AS BIGINT) AS c
                   FROM lt GROUP BY 1),
          nt AS (SELECT count(*) AS ntot FROM lt),
          risk AS (SELECT t, d, c,
                          ntot - CAST(coalesce(sum(d + c) OVER (ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS BIGINT) AS nrisk
                   FROM hist CROSS JOIN nt),
          terms AS (SELECT t, d, c, nrisk,
                           CASE WHEN d < nrisk THEN
                             ${graft.core.ExactSql.q6(
                               """ln(CAST(1.0 AS DOUBLE)
                                  - CAST(d AS DOUBLE)
                                    / CAST(nrisk AS DOUBLE))""")}
                           ELSE CAST(0.0 AS DOUBLE) END AS term,
                           max(CASE WHEN d = nrisk THEN 1 ELSE 0 END)
                             OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                             AS dead
                    FROM risk)
          SELECT t, nrisk, d AS n_churn, c AS n_censored,
                 CASE WHEN dead = 1 THEN CAST(0.0 AS DOUBLE)
                      ELSE round(exp(sum(term) OVER (ORDER BY t
                        ROWS UNBOUNDED PRECEDING)), 6) END AS surv
          FROM terms WHERE d > 0 ORDER BY t""",
    "agg_funnel" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tts, event_type
                    FROM events),
          s1 AS (SELECT user_id, min(tts) AS t1 FROM e
                 WHERE event_type = 'signup' GROUP BY 1),
          s2 AS (SELECT e.user_id, min(tts) AS t2 FROM e JOIN s1 USING (user_id)
                 WHERE event_type = 'click' AND tts >= t1 GROUP BY 1),
          s3 AS (SELECT e.user_id, min(tts) AS t3 FROM e JOIN s2 USING (user_id)
                 WHERE event_type = 'purchase' AND tts >= t2 GROUP BY 1),
          st AS (SELECT 1 AS stage, 'signup' AS event_type,
                        count(*) AS n_users FROM s1
                 UNION ALL SELECT 2, 'click', count(*) FROM s2
                 UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
          SELECT s.stage, s.event_type, s.n_users,
                 CAST(CAST(s.n_users AS DECIMAL(18,8))
                      / CAST(NULLIF(p.n_users, 0) AS DECIMAL(18,8)) AS DOUBLE)
                   AS conv_from_prev
          FROM st s LEFT JOIN st p ON s.stage = p.stage + 1
          ORDER BY s.stage""",
    "agg_markov" ->
      """WITH p AS (SELECT user_id, event_type AS from_t,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_t
           FROM events),
         cnt AS (SELECT from_t, to_t, count(*) AS n FROM p
                 WHERE to_t IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT from_t, sum(n) AS nt FROM cnt GROUP BY 1)
         SELECT c.from_t, c.to_t, CAST(n AS BIGINT) AS n,
                CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) AS p
         FROM cnt c JOIN tot USING (from_t) ORDER BY 1, 2""",
    "agg_bootstrap" -> {
      val h = graft.functions.TextOps.hash32Sql("event_id || ':' || b")
      s"""WITH ev AS (SELECT event_id, value FROM events),
          rep AS (SELECT event_id, value, b, $h AS h
                  FROM ev, LATERAL (SELECT unnest(range(0, 16)) AS b) r),
          wt AS (SELECT b, value,
                        CASE WHEN h < 1580030169 THEN 0
                             WHEN h < 3160060337 THEN 1
                             WHEN h < 3950075421 THEN 2
                             WHEN h < 4213413788 THEN 3
                             ELSE 4 END AS w
                 FROM rep),
          ests AS (SELECT b,
                     ${ExactSql.fsum(
                       "CAST(w AS DOUBLE) * value / CAST(4.0 AS DOUBLE)")}
                       * CAST(4.0 AS DOUBLE)
                       / CAST(sum(w) AS DOUBLE) AS est
                   FROM wt GROUP BY 1),
          ea AS (SELECT ${ExactSql.fsum("est")} / CAST(16.0 AS DOUBLE) AS ea
                 FROM ests),
          se AS (SELECT sqrt(${ExactSql.fsum("(est - ea) * (est - ea)")}
                   / CAST(15.0 AS DOUBLE)) AS se
                 FROM ests CROSS JOIN ea),
          base AS (SELECT count(*) AS n,
                          ${ExactSql.fsum("value")} / count(*) AS mean
                   FROM ev)
          SELECT n, round(mean, 6) AS mean, round(se, 6) AS se_boot,
                 round(mean - CAST(1.96 AS DOUBLE) * se, 6) AS lo95,
                 round(mean + CAST(1.96 AS DOUBLE) * se, 6) AS hi95
          FROM base CROSS JOIN se"""
    },
    "agg_cuped" -> {
      val h = graft.functions.TextOps.hash32Sql(
        "'ab:' || CAST(user_id AS VARCHAR)")
      s"""WITH u AS (SELECT user_id,
                 count(CASE WHEN event_type = 'view' THEN 1 END) AS x,
                 coalesce(CAST(SUM(CASE WHEN event_type = 'purchase'
                   THEN CAST(value AS DECIMAL(30,4)) END) AS DOUBLE),
                   CAST(0.0 AS DOUBLE)) AS y,
                 ($h) % 2 AS v
               FROM events GROUP BY user_id),
          pool AS (SELECT n, sy,
                     round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                       AS theta,
                     CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx
                   FROM (SELECT count(*) AS n, sum(x) AS sx,
                                sum(x * x) AS sxx,
                                ${ExactSql.dsum("y")} AS sy,
                                ${ExactSql.dsum("CAST(x AS DOUBLE) * y")} AS sxy
                         FROM u)),
          adj AS (SELECT u.user_id, u.x, u.y, u.v,
                         y - theta * (CAST(x AS DOUBLE) - mx) AS yadj,
                         n, sy, theta
                  FROM u CROSS JOIN pool),
          byv AS (SELECT v, count(*) AS nv, ${ExactSql.dsum("y")} AS syv,
                         ${ExactSql.fsum("yadj / CAST(4096.0 AS DOUBLE)")}
                           * CAST(4096.0 AS DOUBLE) AS sav
                  FROM adj GROUP BY v),
          bv AS (SELECT v, nv, syv / CAST(nv AS DOUBLE) AS mean_y,
                        sav / CAST(nv AS DOUBLE) AS mean_adj FROM byv),
          vst AS (SELECT
                    ${ExactSql.fsum("y * y / CAST(32768.0 AS DOUBLE)")}
                      * CAST(32768.0 AS DOUBLE) AS syy,
                    ${ExactSql.fsum("yadj * yadj / CAST(32768.0 AS DOUBLE)")}
                      * CAST(32768.0 AS DOUBLE) AS saa,
                    ${ExactSql.fsum("yadj / CAST(4096.0 AS DOUBLE)")}
                      * CAST(4096.0 AS DOUBLE) AS sa
                  FROM adj)
          SELECT a.nv AS n_a, b.nv AS n_b, theta,
                 round(a.mean_y, 6) AS mean_a, round(b.mean_y, 6) AS mean_b,
                 round(b.mean_y - a.mean_y, 6) AS lift,
                 round(a.mean_adj, 6) AS mean_adj_a,
                 round(b.mean_adj, 6) AS mean_adj_b,
                 round(b.mean_adj - a.mean_adj, 6) AS lift_adj,
                 round(CAST(1.0 AS DOUBLE)
                   - ((saa - sa * sa / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
                   / ((syy - sy * sy / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)),
                   6) AS var_reduction
          FROM (SELECT * FROM bv WHERE v = 0) a,
               (SELECT * FROM bv WHERE v = 1) b, pool, vst"""
    },
    "agg_ab" -> {
      val h = graft.functions.TextOps.hash32Sql(
        "'ab:' || CAST(user_id AS VARCHAR)")
      s"""WITH u AS (SELECT user_id,
                            max(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END) AS conv,
                            ($h) % 2 AS v
                     FROM events GROUP BY user_id),
          c AS (SELECT
                  CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_a,
                  CAST(sum(CASE WHEN v = 0 THEN conv ELSE 0 END) AS BIGINT)
                    AS conv_a,
                  CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_b,
                  CAST(sum(CASE WHEN v = 1 THEN conv ELSE 0 END) AS BIGINT)
                    AS conv_b
                FROM u),
          r AS (SELECT *, CAST(conv_a AS DOUBLE) / NULLIF(n_a, 0) AS pa,
                       CAST(conv_b AS DOUBLE) / NULLIF(n_b, 0) AS pb,
                       CAST(conv_a + conv_b AS DOUBLE) / NULLIF(n_a + n_b, 0)
                         AS p
                FROM c),
          se AS (SELECT *, sqrt(p * (CAST(1.0 AS DOUBLE) - p) *
                   (CAST(1.0 AS DOUBLE) / NULLIF(n_a, 0) +
                    CAST(1.0 AS DOUBLE) / NULLIF(n_b, 0)))
                   AS sev
                 FROM r),
          zt AS (SELECT *, round(CASE WHEN sev = CAST(0.0 AS DOUBLE)
                                      THEN CAST(0.0 AS DOUBLE)
                                      ELSE (pa - pb) / sev END, 6) AS z
                 FROM se)
          SELECT n_a, conv_a, n_b, conv_b,
                 round(pa, 6) AS rate_a, round(pb, 6) AS rate_b, z,
                 abs(z) > CAST(1.96 AS DOUBLE) AS significant
          FROM zt"""
    },
    "agg_auc" ->
      """WITH u AS (SELECT user_id, count(*) AS score,
                           max(CASE WHEN event_type = 'purchase'
                                     AND value > 95
                               THEN 1 ELSE 0 END) AS conv
                    FROM events GROUP BY user_id),
          h AS (SELECT score, CAST(sum(conv) AS BIGINT) AS pos,
                       CAST(sum(1 - conv) AS BIGINT) AS neg
                FROM u GROUP BY score),
          c AS (SELECT x.score, x.pos, x.neg,
                       CAST(sum(y.neg) AS BIGINT) AS cumneg_le
                FROM h x JOIN h y ON y.score <= x.score
                GROUP BY x.score, x.pos, x.neg),
          t2 AS (SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
                        CAST(sum(neg) AS BIGINT) AS n_neg,
                        CAST(sum(pos * (cumneg_le - neg) * 2 + pos * neg)
                             AS BIGINT) AS num2
                 FROM c),
          a AS (SELECT n_pos, n_neg,
                       CAST(num2 AS DOUBLE) /
                         NULLIF(CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)
                                * CAST(2.0 AS DOUBLE),
                                CAST(0.0 AS DOUBLE)) AS auc
                FROM t2)
          SELECT n_pos, n_neg, auc,
                 CAST(2.0 AS DOUBLE) * auc - CAST(1.0 AS DOUBLE) AS gini
          FROM a""",
    "agg_calibration" ->
      """WITH u AS (SELECT user_id, count(*) AS score,
                           max(CASE WHEN event_type = 'purchase'
                                     AND value > 95
                               THEN 1 ELSE 0 END) AS conv
                    FROM events GROUP BY user_id),
          b AS (SELECT CAST(floor(CAST(score AS DOUBLE) / 5.0) AS BIGINT)
                         AS bin,
                       count(*) AS n,
                       CAST(sum(score) AS BIGINT) AS ss,
                       CAST(sum(conv) AS BIGINT) AS np
                FROM u GROUP BY 1)
          SELECT bin, n, CAST(ss AS DOUBLE) / n AS avg_score,
                 CAST(np AS DOUBLE) / n AS conv_rate
          FROM b ORDER BY bin""",
    "agg_srm" -> {
      val h = graft.functions.TextOps.hash32Sql(
        "'ab:' || CAST(user_id AS VARCHAR)")
      s"""WITH u AS (SELECT user_id, ($h) % 2 AS v
                     FROM events GROUP BY user_id),
          c AS (SELECT CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_a,
                       CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_b
                FROM u),
          s AS (SELECT n_a, n_b,
                       round(((CAST(n_a AS DOUBLE) -
                               CAST(n_a + n_b AS DOUBLE) / 2.0) *
                              (CAST(n_a AS DOUBLE) -
                               CAST(n_a + n_b AS DOUBLE) / 2.0) +
                              (CAST(n_b AS DOUBLE) -
                               CAST(n_a + n_b AS DOUBLE) / 2.0) *
                              (CAST(n_b AS DOUBLE) -
                               CAST(n_a + n_b AS DOUBLE) / 2.0)) /
                             (CAST(n_a + n_b AS DOUBLE) / 2.0), 6) AS chi2
                FROM c)
          SELECT n_a, n_b, chi2, chi2 > 3.841 AS srm FROM s"""
    },
  )
}
