package graft

import org.apache.spark.sql.functions._

/** Regression pins for the round-10 degenerate-input fixes (the
  * in-test twin of the edge-axis `Sweep` artifacts): every query that
  * ever crashed on a degenerate input runs here against exactly that
  * input and must complete. Degenerate inputs are NOT errors for an
  * analytics engine — a filter that matches nothing, a single row, a
  * constant series, an all-duplicates corpus, a zero embedding from a
  * failed encoder are all REAL production states, and under Spark 4's
  * ANSI mode every unguarded /0 (doubles included) is a thrown
  * SparkArithmeticException, not a NaN.
  */
class RobustnessSpec extends SparkSpec {

  private lazy val schemaDir = TestSpark.sf0001

  /** Write limit(n) clones of every table; mutate selected tables. */
  private def cloneDir(n: Int,
                       mutate: Map[String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = Map.empty): String = {
    val dir = TestSpark.tempDir(s"graft-rob$n")
    graft.core.Tables.all.foreach { tbl =>
      val base = spark.read.parquet(s"$schemaDir/$tbl.parquet").limit(n)
      mutate.getOrElse(tbl, identity[org.apache.spark.sql.DataFrame] _)(base)
        .write.mode("overwrite").parquet(s"$dir/$tbl.parquet")
    }
    dir
  }

  private def mustRun(dir: String, names: Seq[String]): Unit = {
    val bad = names.flatMap { n =>
      try { SparkEntry.queries(n)(spark, dir).collect(); None }
      catch { case e: Throwable =>
        Some(n -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    assert(bad.isEmpty, s"degenerate-input crashes: $bad")
  }

  test("empty tables: the formerly-crashing queries complete") {
    mustRun(cloneDir(0), Seq("graph_reciprocity", "tw_motif"))
  }

  test("single-row tables: the degenerate-denominator class completes") {
    mustRun(cloneDir(1), Seq("agg_anova", "agg_bootstrap", "agg_moments",
      "agg_power", "emb_ch_index", "emb_pca", "emb_pca_scores",
      "emb_purity", "pipe_unimax", "text_jsd"))
  }

  test("two/five-row tables: the constant-series Pearson class completes") {
    mustRun(cloneDir(2), Seq("agg_cuped", "graph_assortativity",
      "text_mannwhitney", "tw_tsim"))
    mustRun(cloneDir(5), Seq("agg_cuped", "tw_acf"))
  }

  test("all-duplicates corpus: tf-idf cosine dedup completes (idf=0 everywhere)") {
    val dir = cloneDir(20, Map("documents" -> ((df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("text", lit("the same exact document body every single time")))))
    mustRun(dir, Seq("dd_tfidf_cos", "dd_jaccard", "dd_exact", "dd_minhash"))
  }

  test("zero-norm embedding (failed encoder): cosine queries complete") {
    val dir = cloneDir(20, Map("embeddings" -> ((df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("embedding",
        when(col("vec_id") === 1,
          transform(col("embedding"), _ => lit(0.0f)))
          .otherwise(col("embedding"))))))
    mustRun(dir, Seq("emb_knn", "emb_neardup", "emb_semdedup", "emb_kcenter"))
  }

  test("duplicate-id corpus: ANN stand-in selections stay K-bounded (skew-sweep class)") {
    // The SkewExec class (round 11): with duplicate vec_ids a bare
    // filter(vec_id < K) — the stand-in for K offline-trained
    // centroids/codebooks/queries — matches a large corpus FRACTION,
    // and feeding that into crossJoin(broadcast(...)) went
    // near-quadratic (emb_ivfpq 98 s at sf0.001). The selections now
    // carry limit(K); every id below collapses to 0, the worst case.
    val dir = cloneDir(200, Map("embeddings" -> ((df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("vec_id", lit(0L)))))
    mustRun(dir, Seq("emb_pq", "emb_ivfpq", "emb_rq", "emb_kmeans",
      "emb_knn", "emb_ivf_knn", "emb_matryoshka", "emb_mips"))
  }

  test("wrong-dimension embeddings: the element_at-past-end class completes (shape-drift sweep)") {
    // The ShapeExec class (round 11): encoder version drift puts 32-d,
    // 96-d, and empty vectors in the same column as the nominal 64-d
    // ones. Fixed-dimension index arithmetic crashed twice under ANSI:
    // emb_binary's sequence(0,63) bit fold read element 33 of a 32-d
    // vector, and emb_probe's weight update read gradient position 95
    // of a 64-entry weight row (both INVALID_ARRAY_INDEX_IN_ELEMENT_AT,
    // now try_element_at).
    val dir = cloneDir(60, Map("embeddings" -> ((df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("embedding",
        when(col("vec_id") % 4 === 0, slice(col("embedding"), 1, 32))
          .when(col("vec_id") % 4 === 1,
            concat(col("embedding"), col("embedding")))
          .when(col("vec_id") % 4 === 2,
            array().cast("array<float>"))
          .otherwise(col("embedding"))))))
    mustRun(dir, Seq("emb_binary", "emb_probe", "emb_knn", "emb_pq",
      "emb_ivfpq", "emb_pca", "emb_sq8"))
  }

  test("huge rows: 4096-dim vectors, 100k-token docs, 800-deep JSON complete (huge-value sweep)") {
    // The HugeExec class (round 12): a production corpus contains
    // pathological row SIZES — a 64×-nominal embedding from a bigger
    // encoder, an un-split book, an adversarial metadata blob nested
    // hundreds deep. Per-element kernels (shingle windows, vector
    // folds) and size-derived index arithmetic must treat them as
    // ordinary rows, not crash. Sizes here are the sweep's real ones
    // on a few targeted rows so the test stays fast.
    import org.apache.spark.sql.DataFrame
    val pad = transform(sequence(lit(1), lit(4096) - size(col("embedding"))),
      x => (pmod(x, lit(7)).cast("double") / 100.0).cast("float"))
    val deepJson = concat(repeat(lit("{\"d\":"), 800), lit("1"),
      repeat(lit("}"), 800))
    val dir = cloneDir(40, Map(
      "embeddings" -> ((df: DataFrame) => df.withColumn("embedding",
        when(col("vec_id") % 13 === 2, concat(col("embedding"), pad))
          .otherwise(col("embedding")))),
      "documents" -> ((df: DataFrame) => df.withColumn("text",
        when(col("doc_id") % 13 === 1,
          repeat(concat(col("text"), lit(" ")),
            (lit(500000) / (length(col("text")) + 1)).cast("int") + 1))
          .otherwise(col("text")))),
      "events" -> ((df: DataFrame) => df.withColumn("props",
        when(col("event_id") % 13 === 3, deepJson).otherwise(col("props")))),
      "part" -> ((df: DataFrame) => df.withColumn("p_name",
        when(col("p_partkey") % 13 === 1,
          repeat(concat(col("p_name"), lit(" ")), 2000))
          .otherwise(col("p_name"))))))
    mustRun(dir, Seq("emb_norms", "emb_knn", "emb_pq", "emb_semdedup",
      "text_winnow", "dd_jaccard", "dd_minhash", "text_gopher",
      "text_bpe", "fn_json", "fn_nested", "mm_features",
      "mm_frame_sample", "pipe_chunk",
      // the O(len²) lambda-capture class (GroupBase.mat): these four
      // ground for minutes-to-forever on one 500 KB doc before the
      // Generate barriers — they must now complete in seconds
      "dd_cdc", "dd_chunk", "pipe_ccnet", "pipe_spancorrupt"))
  }

  test("duplicate-id dirty data: stand-in selection is partition-invariant (deterministic)") {
    // ADVICE r11: a bare `.limit(K)` on a stand-in frame picks
    // WHICH duplicate survives by scan order, so sweep row counts on
    // dirty data weren't reproducible run-to-run. standIn now
    // sort-then-limits on (vec_id, row-fingerprint); the same dirty
    // corpus written under different file layouts must give the same
    // result rows.
    import org.apache.spark.sql.DataFrame
    def dirtyDir(parts: Int): String = cloneDir(120,
      Map("embeddings" -> ((df: DataFrame) =>
        df.withColumn("vec_id", col("vec_id") % 3).repartition(parts))))
    def run(dir: String, q: String): Seq[String] =
      SparkEntry.queries(q)(spark, dir).collect().map(_.toString).sorted.toSeq
    for (q <- Seq("emb_mips", "emb_ivf_assign", "emb_rq")) {
      assert(run(dirtyDir(1), q) == run(dirtyDir(7), q),
        s"$q stand-in selection depends on partitioning under duplicate ids")
    }
  }

  test("null cells in every events column: the typed CEP boundary completes") {
    // The NullExec class: a NULL in key/ts/kind/value used to throw
    // NOT_NULL_ASSERT_VIOLATION from KeyedEvent's primitive-field
    // Encoder. KeyedEvent.ingest now excludes malformed rows at the
    // typed boundary (nulls never match, never break, never crash).
    val dir = cloneDir(50, Map("events" -> ((df: org.apache.spark.sql.DataFrame) => {
      val nulled = df.columns.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
        d.withColumn(c, when(pmod(xxhash64(col("event_id"), lit(i)), lit(5)) === 0,
          lit(null).cast(d.schema(c).dataType)).otherwise(col(c)))
      }
      nulled
    })))
    mustRun(dir, Seq("pat_mr", "pat_mr_sql", "pat_mr_nav", "pat_or_cond",
      "pat_until", "pat_followany", "pat_group_times"))
  }

  test("NaN/Inf float cells: bucket casts and the BigDecimal UDAF complete") {
    // The NanExec class: under ANSI, floor(NaN/Inf).cast(long) throws
    // ARITHMETIC_OVERFLOW (join_range's range bucket, rel_retract_log/
    // rel_scd2's cents-exact BIGINT) and BigDecimal(NaN) throws
    // NumberFormatException (WeightedAvg's exact partials). Fixed with
    // Exact.finiteOrNull (undefined bucket reads NULL) and IEEE shadow
    // sums in the UDAF.
    val dir = cloneDir(60,
      graft.core.Tables.all.map(t => t ->
        ((df: org.apache.spark.sql.DataFrame) =>
          graft.tools.Sweep.corruptNan(df, t))).toMap)
    mustRun(dir, Seq("join_range", "rel_retract_log", "rel_scd2",
      "agg_weighted_avg"))
  }

  test("adversarial text cells: the TextExec class completes") {
    // The TextExec class: hostile-but-valid-UTF-8 strings (empty,
    // whitespace-only, emoji/CJK/RTL, control chars, a ~60 KB blob,
    // unparseable numeric metadata) used to throw DIVIDE_BY_ZERO on
    // zero-token ratio denominators (text_quality, pipe_classify,
    // pipe_budget, pipe_zorder), CAST_INVALID_INPUT on source-id
    // parses (text_jsd, pipe_unimax), INVALID_URL on a data-derived
    // URL (fn_convert), and OOM join_fuzzy's candidate build (O(L²)
    // delete-variant bytes per 60 KB name — now prefix-bounded).
    val dir = cloneDir(60,
      graft.core.Tables.all.map(t => t ->
        ((df: org.apache.spark.sql.DataFrame) =>
          graft.tools.Sweep.corruptText(df, t))).toMap)
    mustRun(dir, Seq("text_quality", "pipe_classify", "pipe_budget",
      "pipe_zorder", "text_jsd", "pipe_unimax", "fn_convert", "join_fuzzy"))
  }

  test("integer/timestamp sentinel cells: the NumExec class completes") {
    // The NumExec class: boundary sentinels (Long/Int Max/Min, -1, 0)
    // and calendar-extreme timestamps — routine "unknown" markers in
    // dirty data — used to throw ARITHMETIC_OVERFLOW from id*31 edge
    // synthesis (whole graph_* family), negate(MinValue) id tie-breaks
    // (emb_* max_by orderings, now Exact.negId in DECIMAL),
    // plain-BIGINT sums of sentinel-polluted columns (pipe_split/
    // groupsplit, over_sum_distinct — now DECIMAL(38,0) + try_cast),
    // int32 arithmetic in the scalar battery (fn_math/fn_nested),
    // INVALID_INDEX_OF_ZERO from signed % as an array index (mm_* —
    // now pmod), and CAST_OVERFLOW on an unclamped bucket (pipe_zorder).
    val dir = cloneDir(60,
      graft.core.Tables.all.map(t => t ->
        ((df: org.apache.spark.sql.DataFrame) =>
          graft.tools.Sweep.corruptNum(df, t))).toMap)
    mustRun(dir, Seq("graph_pagerank", "graph_triangles", "emb_ivf_assign",
      "emb_semdedup", "emb_triplets", "mm_manifest", "over_sum_distinct",
      "pipe_split", "pipe_groupsplit", "pipe_zorder", "fn_math", "fn_nested"))
  }

  test("WeightedAvg degrades to IEEE semantics on non-finite input, stays exact otherwise") {
    import spark.implicits._
    val wavg = org.apache.spark.sql.functions.udaf(graft.agg.WeightedAvg)
    val df = Seq(("a", 10.0, 2.0), ("a", 20.0, 2.0),
      ("b", 10.0, 1.0), ("b", Double.NaN, 1.0),
      ("c", Double.PositiveInfinity, 1.0), ("c", 5.0, 3.0))
      .toDF("g", "v", "w")
    val out = df.groupBy("g").agg(wavg(col("v"), col("w")).as("wa"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("a") == 15.0)
    assert(out("b").isNaN)
    assert(out("c").isPosInfinity)
  }

  test("every custom UDAF skips NULL inputs like a SQL aggregate") {
    // With a primitive IN type, Spark's input projection reads NULL
    // cells as 0.0 — a phantom sample that silently corrupts the
    // statistic (weighted avg dragged toward 0, a fake 0.0 minimum,
    // a fake 0.0 in the top-N, a shifted quantile). All Double-input
    // Aggregators take boxed input and skip nulls in reduce.
    import spark.implicits._
    val df = Seq[(String, java.lang.Double, java.lang.Double)](
      ("a", 10.0, 1.0), ("a", null, 1.0), ("a", 20.0, null), ("a", 30.0, 1.0)
    ).toDF("g", "v", "w")
    val qh = udaf(new graft.agg.QuantileHist(8, Seq(0.5)),
      org.apache.spark.sql.Encoders.DOUBLE)
    val wavgF = udaf(graft.agg.WeightedAvg)
    val mmF = udaf(graft.agg.MaxMin)
    val ksF = udaf(graft.agg.KahanSum)
    val kmF = udaf(graft.agg.KahanMean)
    val topF = udaf(graft.agg.Top3List)
    val row = df.groupBy("g").agg(
      wavgF(col("v"), col("w")).as("wavg"),
      mmF(col("v")).as("mm"),
      ksF(col("v")).as("ks"),
      kmF(col("v")).as("km"),
      topF(col("v")).as("top3"),
      qh(col("v")).as("med")).collect().head
    assert(row.getAs[Double]("wavg") == 20.0) // (10 + 30) / 2
    val mm = row.getAs[org.apache.spark.sql.Row]("mm")
    assert(mm.getDouble(0) == 30.0 && mm.getDouble(1) == 10.0 && mm.getLong(2) == 3L)
    assert(row.getAs[Double]("ks") == 60.0)
    assert(row.getAs[Double]("km") == 20.0)
    assert(row.getSeq[Double](row.fieldIndex("top3")).toList == List(30.0, 20.0, 10.0))
    assert(row.getSeq[Double](row.fieldIndex("med")).toList == List(20.0))
    val mg = udaf(new graft.agg.MisraGries(4),
      org.apache.spark.sql.Encoders.STRING)
    val mgRow = Seq(("a", "x"), ("a", null), ("a", "x"), ("a", "y"))
      .toDF("g", "s").groupBy("g").agg(mg(col("s")).as("hh"))
      .select(col("hh.counters"), col("hh.n")).collect().head
    assert(mgRow.getAs[Map[String, Long]](0) == Map("x" -> 2L, "y" -> 1L))
    assert(mgRow.getLong(1) == 3L)
  }

  test("every custom UDAF reads NULL on an all-NULL group like a SQL aggregate") {
    // The complement of the null-SKIP contract: a group where every
    // input cell is NULL has no statistic at all. SQL max/min/sum/avg/
    // percentile read NULL there — never the accumulator's identity
    // (±Infinity extrema, a 0.0 sum, a NaN mean, NaN quantiles).
    import spark.implicits._
    val df = Seq[(String, java.lang.Double, java.lang.Double)](
      ("a", null, null), ("a", null, null),
      ("b", 5.0, 1.0)
    ).toDF("g", "v", "w")
    val mmF = udaf(graft.agg.MaxMin)
    val ksF = udaf(graft.agg.KahanSum)
    val kmF = udaf(graft.agg.KahanMean)
    val wavgF = udaf(graft.agg.WeightedAvg)
    val qhF = udaf(new graft.agg.QuantileHist(8, Seq(0.5)),
      org.apache.spark.sql.Encoders.DOUBLE)
    val row = df.groupBy("g").agg(
      mmF(col("v")).as("mm"),
      ksF(col("v")).as("ks"),
      kmF(col("v")).as("km"),
      wavgF(col("v"), col("w")).as("wavg"),
      qhF(col("v")).as("med"))
      .filter(col("g") === "a").collect().head
    val mm = row.getAs[org.apache.spark.sql.Row]("mm")
    assert(mm.isNullAt(mm.fieldIndex("mx")) && mm.isNullAt(mm.fieldIndex("mn")))
    assert(mm.getLong(mm.fieldIndex("n")) == 0L)
    assert(row.isNullAt(row.fieldIndex("ks")))
    assert(row.isNullAt(row.fieldIndex("km")))
    assert(row.isNullAt(row.fieldIndex("wavg")))
    assert(row.isNullAt(row.fieldIndex("med")))
    // and the non-degenerate group is untouched
    val b = df.groupBy("g").agg(mmF(col("v")).as("mm"))
      .filter(col("g") === "b").select("mm.mx").collect().head
    assert(b.getDouble(0) == 5.0)
  }

  test("KeyedEvent.ingest drops exactly the rows with a null required field") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("2024-01-01 00:00:00"), Some("a"), Some(1.0)),
      (None, Some("2024-01-01 00:00:01"), Some("a"), Some(2.0)),
      (Some(3L), None, Some("a"), Some(3.0)),
      (Some(4L), Some("2024-01-01 00:00:03"), None, Some(4.0)),
      (Some(5L), Some("2024-01-01 00:00:04"), Some("a"), None),
      (Some(6L), Some("2024-01-01 00:00:05"), Some("b"), Some(6.0))
    ).toDF("key", "ts", "kind", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val kept = graft.streaming.KeyedEvent.ingest(df).collect().map(_.key).sorted
    assert(kept.toSeq == Seq(1L, 6L))
  }
}
