package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Bench.fmt3
import graft.SparkEntry
import graft.core.{Provenance, Resources, Sessions, Tables}

/** Corruption robustness sweeps: every catalog query against clones of
  * the real testdata, rewritten by one corruption axis.
  *
  *   sbt "runMain graft.tools.Sweep <axis> [schemaSfDir] [outJson] [param]"
  *     axis: edge null nan text num combo shape huge skew
  *     (defaults /root/testdata/sf0.001 and the axis's artifact, e.g.
  *     EDGE_EXEC.json; param is edge's row count, default 0, and
  *     null's denominator, default 5)
  *
  * The criterion is crash-only: each query is materialized through the
  * noop sink (every output column, so no projection is pruned) and then
  * counted; any exception records `error:` and fails the sweep. Bounded
  * axes also fail a query whose wall time exceeds its bound (`slow:`).
  * The clones derive from the REAL tables, so a sweep can never drift
  * from the testdata contract, and every cell mask is
  * deterministic (xxhash64 of the full original row, salted per table
  * and column), so reruns and fix verification see identical
  * corruption. Exits 1 when any query is not `ok:`.
  */
object Sweep {
  type QueryFn = (SparkSession, String) => DataFrame

  /** One corruption axis: its artifact, its `action` tag, its extra JSON
    * fields (name -> raw JSON value) and its mutator, called with each
    * table and the table's name as the mask salt. `timed` appends
    * per-query seconds to each status; `bound` gives each query's
    * ceiling in seconds. */
  final case class Axis(artifact: String, action: String,
                        mutate: (DataFrame, String) => DataFrame,
                        fields: Seq[(String, String)] = Nil,
                        timed: Boolean = false,
                        bound: Option[String => Double] = None)

  /** The axis registry; `param` is edge's row count or null's
    * denominator and is ignored by the other axes. */
  def axes(param: Option[Int]): Map[String, Axis] = {
    val nRows = param.getOrElse(0)
    val denom = param.getOrElse(5)
    Map(
      // edge: nRows = 0 is the empty-input sweep, nRows = 1 the
      // single-row sweep. A filter that matches nothing, an empty source
      // partition, a date range with no events — every production
      // pipeline hits the empty-input case constantly, usually inside a
      // larger DAG where one operator's empty output feeds the next. The
      // single-row case hits every sample-variance /(n-1) and every
      // two-group statistic with one group absent — the
      // degenerate-denominator class ANSI turns from NaN into a thrown
      // DIVIDE_BY_ZERO. Acceptable: an empty result, or scalar rows with
      // NULL/NaN statistics.
      "edge" -> Axis("EDGE_EXEC.json", "degenerate-input-robustness",
        (df, _) => df.limit(nRows), Seq("n_rows" -> nRows.toString)),
      "null" -> Axis("NULL_EXEC.json", "null-injection-robustness",
        corruptNull(_, _, denom), Seq("null_denom" -> denom.toString)),
      "nan" -> Axis("NAN_EXEC.json", "nonfinite-float-robustness", corruptNan),
      "text" -> Axis("TEXT_EXEC.json", "adversarial-text-robustness", corruptText),
      "num" -> Axis("NUM_EXEC.json", "extreme-numerics-robustness", corruptNum),
      "combo" -> Axis("COMBO_EXEC.json", "combined-corruption-robustness", corruptCombo),
      "shape" -> Axis("SHAPE_EXEC.json", "vector-shape-drift-robustness", corruptShape),
      "huge" -> Axis("HUGE_EXEC.json", "huge-value-deep-nesting-robustness",
        corruptHuge, timed = true),
      "skew" -> Axis("SKEW_EXEC.json", "hot-key-skew-robustness", corruptSkew,
        Seq("default_bound_sec" -> fmt3(SkewDefaultBoundSec)), timed = true,
        bound = Some(SkewBoundOverrides.getOrElse(_, SkewDefaultBoundSec))))
  }

  /** Runs `queries` against the clone tables in `dir`. Returns the
    * artifact JSON and the number of queries that are not `ok:`. */
  def run(spark: SparkSession, name: String, axis: Axis, schemaDir: String,
          dir: String, queries: Seq[(String, QueryFn)]): (String, Int) = {
    val results = queries.map { case (q, fn) =>
      val t0 = System.nanoTime()
      val status =
        try {
          val df = fn(spark, dir)
          df.write.format("noop").mode("overwrite").save()
          val n = df.count()
          val sec = (System.nanoTime() - t0) / 1e9
          val t = if (axis.timed) s":${fmt3(sec)}s" else ""
          axis.bound.map(_(q)).filter(sec > _) match {
            case Some(b) =>
              System.err.println(s"[sweep] $name $q SLOW: ${fmt3(sec)}s (bound ${b}s)")
              s"slow:$n$t>bound:$b"
            case None => s"ok:$n$t"
          }
        } catch { case e: Throwable =>
          val m = (e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage)).replaceAll("\\s+", " ").take(160)
          System.err.println(s"[sweep] $name $q FAILED: $m")
          s"error: $m"
        }
      q -> status
    }
    val failed = results.count(!_._2.startsWith("ok:"))
    val esc = SweepJson.esc _
    val extra = axis.fields.map { case (k, v) => s""""$k":$v,""" }.mkString
    val entries = results
      .map { case (q, st) => s""""${esc(q)}":"${esc(st)}"""" }.mkString("{", ",", "}")
    val json =
      s"""{"action":"${axis.action}",$extra"schema_dir":"${esc(schemaDir)}","n_queries":${results.size},"n_failed":$failed,"queries":$entries,${Provenance.jsonFields}}"""
    (json, failed)
  }

  def main(args: Array[String]): Unit = {
    val registry = axes(args.lift(3).map(_.toInt))
    val name = args.headOption.getOrElse("")
    val axis = registry.getOrElse(name, sys.error(
      s"usage: Sweep <${registry.keys.toSeq.sorted.mkString("|")}> " +
        "[schemaSfDir] [outJson] [param]"))
    val schemaDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val outJson = args.lift(2).getOrElse(axis.artifact)
    val spark = Sessions.build(s"graft-sweep-$name")
    graft.Bench.warmJvm(spark)

    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$name").toString
    // the clone tables are deleted before any exit: sys.exit begins JVM
    // shutdown without unwinding the stack, so it must come after this
    val failed =
      try {
        Tables.all.foreach { tbl =>
          axis.mutate(spark.read.parquet(s"$schemaDir/$tbl.parquet"), tbl)
            .write.mode("overwrite").parquet(s"$dir/$tbl.parquet")
        }
        val (json, failed) = run(spark, name, axis, schemaDir, dir, queries)
        java.nio.file.Files.write(java.nio.file.Paths.get(outJson), json.getBytes("UTF-8"))
        failed
      } finally Resources.deleteRecursively(dir)
    println(s"[sweep] $name: ${queries.size - failed}/${queries.size} ok -> $outJson")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }

  /** NULL into 1-in-`denom` cells of EVERY column — keys, timestamps,
    * text, embeddings included (mask salted per column ordinal).
    *
    * Why this matters at 100 TB: web-scale ingested data is full of
    * nulls (absent fields, failed extractions, schema drift), and at a
    * hundred terabytes every column WILL contain them. SQL semantics
    * handle nulls by construction (aggregates skip them, equi-joins
    * never match them, comparisons yield NULL) — but typed Dataset
    * pipelines (primitive-field Encoders NPE on null), custom kernels,
    * and string/array lambdas do not unless written for it. Acceptable:
    * null rows dropped per SQL semantics, or NULL statistics. */
  def corruptNull(df: DataFrame, salt: String, denom: Int): DataFrame = {
    val fp = xxhash64(df.columns.map(col) :+ lit(salt): _*)
    df.columns.zipWithIndex.foldLeft(df.withColumn("__fp", fp)) {
      case (d, (c, i)) =>
        d.withColumn(c,
          when(pmod(xxhash64(col("__fp"), lit(i)), lit(denom)) === 0,
            lit(null).cast(d.schema(c).dataType)).otherwise(col(c)))
    }.drop("__fp")
  }

  /** NaN/+Inf/-Inf into ~15% of scalar double/float cells; NaN and
    * null into ~10% of embedding-array elements (element ordinal
    * folded into the mask — the null axis's cell-level mask cannot
    * reach inside an array).
    *
    * Why this matters at 100 TB: non-finite floats are a routine
    * production state — an upstream 0/0 in a permissive engine, a
    * failed normalization, an overflowing feature cross, a corrupt
    * parse — and they concentrate in exactly the numeric columns
    * analytics touch. NaN breaks totals silently, which is bad; but
    * under ANSI mode any cast of a non-finite value to an integral type
    * (manual histogram bucketing, epoch arithmetic, sketch bin indexes)
    * is a thrown CAST_INVALID_INPUT/OVERFLOW. Acceptable: NaN/Inf or
    * NULL statistics, rows ordered per Spark's NaN semantics. */
  def corruptNan(df: DataFrame, salt: String): DataFrame = {
    val fp = xxhash64(df.columns.map(col) :+ lit(salt): _*)
    val out = df.schema.fields.zipWithIndex.foldLeft(df.withColumn("__fp", fp)) {
      case (d, (f, i)) => f.dataType match {
        case DoubleType | FloatType =>
          val r = pmod(xxhash64(col("__fp"), lit(i)), lit(20))
          d.withColumn(f.name,
            when(r === 0, lit(Double.NaN).cast(f.dataType))
              .when(r === 1, lit(Double.PositiveInfinity).cast(f.dataType))
              .when(r === 2, lit(Double.NegativeInfinity).cast(f.dataType))
              .otherwise(col(f.name)))
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
          val et = f.dataType.asInstanceOf[ArrayType].elementType
          d.withColumn(f.name, {
            val fpc = col("__fp")
            transform(col(f.name), (x, idx) => {
              val r = pmod(xxhash64(fpc, lit(i), idx), lit(20))
              when(r === 0, lit(Double.NaN).cast(et))
                .when(r === 1, lit(null).cast(et))
                .otherwise(x)
            })
          })
        case _ => d
      }
    }
    out.drop("__fp")
  }

  /** The hostile pool: empty strings, whitespace-only, emoji ZWJ
    * sequences, CJK, RTL text with bidi control characters, stacked
    * combining marks, astral-plane code points (surrogate pairs),
    * control characters including NUL, regex metacharacters, and
    * JSON/quote injection. Index 9 is the heavyweight (~100 KB, mixed
    * scripts so tokenizers/shinglers produce volume, repeated so
    * rolling hashes and n-gram windows slide through the whole range).
    * All entries are valid UTF-8 — parquet round-trips them exactly. */
  val textPool: Seq[String] = Seq(
    "",
    " \t\n\r  ",
    "👩‍👩‍👧 🔥💯🚀 ™️",
    "这是测试文档漢字かなカナ한글테스트",
    "\u202e" + "مرحبا بالعالم שלום" + "\u202c",
    "é̂̃̄̅à̖̗o͜͡",
    "𝔘𝔫𝔦 𓀀𓀁 🂡",
    "a\u0000b\u0001c\u0007d\u001be\u007f",
    "((a|b)*+?[x-]{2,}\\Q\\E$^.\\d\\p{L}",
    ("词word🔥 \"k\": {<p>'&amp;</p>} " * 2000)
  )

  /** Replace ~25% of cells in every STRING column: r in [0,40) maps
    * 0..8 to textPool(r), 9 to the heavyweight entry.
    *
    * Why this matters at 100 TB: a web-scale LLM training corpus IS this
    * data. Every one of these shapes appears millions of times in a
    * real crawl, and they concentrate in exactly the columns the text/
    * dedup/pipeline operators touch. The crash surface is real: under
    * ANSI mode `element_at`/array indexing on the empty token array of
    * an empty document throws, string-length arithmetic that goes
    * negative throws on the cast, and surrogate pairs break any
    * operator that treats chars as code points. Acceptable: empty token
    * sets, NULL scores, rows filtered away. */
  def corruptText(df: DataFrame, salt: String): DataFrame = {
    val fp = xxhash64(df.columns.map(col) :+ lit(salt): _*)
    val poolCol = array(textPool.map(lit): _*)
    val out = df.schema.fields.zipWithIndex.foldLeft(df.withColumn("__fp", fp)) {
      case (d, (f, i)) => f.dataType match {
        case StringType =>
          val r = pmod(xxhash64(col("__fp"), lit(i)), lit(40))
          d.withColumn(f.name,
            when(r < 10, element_at(poolCol, (r + 1).cast("int")))
              .otherwise(col(f.name)))
        case _ => d
      }
    }
    out.drop("__fp")
  }

  /** Boundary sentinels into ~10% of integral cells (r in [0,40) maps
    * 0..3 to Long/Int MaxValue, MinValue, -1, 0) and ~10% of timestamp
    * cells to calendar extremes (year 9999, year 0001, the last
    * pre-epoch second, a far-past date).
    *
    * Why this matters at 100 TB: sentinel pollution is a routine
    * production state — -1/0/MAX_VALUE used as "unknown" markers by
    * upstream producers, epoch-zero and year-9999 placeholder dates,
    * overflow garbage from a buggy ETL stage. Under ANSI mode the crash
    * surface is arithmetic: any add/subtract/multiply on a MaxValue
    * key, any .cast("int") of a derived value that a boundary input
    * pushes past 2^31, any date arithmetic that materializes a range
    * proportional to (max - min) — a single year-9999 row turns a
    * gap-fill grid into millions of rows. Acceptable: weird group
    * keys, empty joins, NULL-guarded statistics. Unacceptable also:
    * input-proportional blowups driven by one bad row. */
  def corruptNum(df: DataFrame, salt: String): DataFrame = {
    val fp = xxhash64(df.columns.map(col) :+ lit(salt): _*)
    val out = df.schema.fields.zipWithIndex.foldLeft(df.withColumn("__fp", fp)) {
      case (d, (f, i)) =>
        val r = pmod(xxhash64(col("__fp"), lit(i)), lit(40))
        f.dataType match {
          case LongType =>
            d.withColumn(f.name,
              when(r === 0, lit(Long.MaxValue))
                .when(r === 1, lit(Long.MinValue))
                .when(r === 2, lit(-1L))
                .when(r === 3, lit(0L))
                .otherwise(col(f.name)))
          case IntegerType =>
            d.withColumn(f.name,
              when(r === 0, lit(Int.MaxValue))
                .when(r === 1, lit(Int.MinValue))
                .when(r === 2, lit(-1))
                .when(r === 3, lit(0))
                .otherwise(col(f.name)))
          case TimestampType =>
            d.withColumn(f.name,
              when(r === 0, to_timestamp(lit("9999-12-31 23:59:59")))
                .when(r === 1, to_timestamp(lit("0001-01-01 00:00:00")))
                .when(r === 2, to_timestamp(lit("1969-12-31 23:59:59")))
                .when(r === 3, to_timestamp(lit("1677-09-22 00:00:00")))
                .otherwise(col(f.name)))
          case _ => d
        }
    }
    out.drop("__fp")
  }

  /** All four single-axis corruptions stacked in the same table, in the
    * order sentinels → floats → text → a 10% all-column NULL mask. The
    * NULL mask goes LAST so every axis can also appear under a null
    * neighbour (the fingerprints re-derive from the already-corrupted
    * rows, which keeps the mask deterministic end-to-end).
    *
    * Why this matters at 100 TB: each single-axis sweep corrupts one
    * dimension while every other column stays clean, so a guard that
    * happens to rely on a *different* column being well-formed (a null
    * check that reads a neighbouring timestamp, a tokenizer that
    * assumes the doc length column matches the text) still passes. Real
    * crawl data corrupts several axes in the same ROW — a null key next
    * to a NaN score next to a bidi-bombed title is one ordinary record.
    */
  def corruptCombo(df: DataFrame, tbl: String): DataFrame =
    corruptNull(
      corruptText(
        corruptNan(
          corruptNum(df, s"$tbl#num"), s"$tbl#nan"), s"$tbl#text"),
      s"$tbl#null", 10)

  /** Truncate / pad / empty ~15% of embedding arrays (r in [0,20): 0 →
    * first half only, 1 → padded to 1.5× with a constant tail, 2 →
    * empty). Padding values are small exact constants so padded
    * vectors stay finite.
    *
    * Why this matters at 100 TB: the embedding column of a production
    * corpus is written by many encoder versions over years — dimension
    * changes (v1 shipped 32-d, v2 shipped 64-d), truncated writes from
    * preempted jobs, and empty arrays from failed encodes all coexist
    * in the same column. Fixed-dimension code crashes in two ways under
    * ANSI mode: `element_at(v, i)` past the end THROWS
    * (INVALID_ARRAY_INDEX, not NULL), and index arithmetic derived from
    * `size(v)` drifts. Acceptable: partial-prefix scores (the codegen
    * kernels fold over min(|a|,|b|) by design), NULL statistics, rows
    * filtered. */
  def corruptShape(df: DataFrame, salt: String): DataFrame = {
    val fp = xxhash64(df.columns.map(col) :+ lit(salt): _*)
    val out = df.schema.fields.zipWithIndex.foldLeft(df.withColumn("__fp", fp)) {
      case (d, (f, i)) => f.dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
          val et = f.dataType.asInstanceOf[ArrayType].elementType
          val r = pmod(xxhash64(col("__fp"), lit(i)), lit(20))
          val half = (size(col(f.name)) / 2).cast("int")
          val pad = transform(sequence(lit(1), half),
            x => (x.cast("double") / 100.0).cast(et))
          d.withColumn(f.name,
            when(r === 0, slice(col(f.name), lit(1), half))
              .when(r === 1, concat(col(f.name), pad))
              .when(r === 2, array().cast(f.dataType))
              .otherwise(col(f.name)))
        case _ => d
      }
    }
    out.drop("__fp")
  }

  private val HugeDim = 4096        // padded embedding dimension
  private val HugeTextChars = 500000 // ~100k whitespace tokens
  private val HugeNameChars = 50000
  private val JsonDepth = 800        // under Jackson's 1000 nesting cap

  /** Inflate ~1/32 of rows per targeted column (mask salted per column
    * name):
    *
    *   - `embeddings.embedding` padded to 4096 dims (64× nominal): the
    *     mixed-encoder corpus where one writer shipped a big model;
    *   - `documents.text` inflated to ~500 KB (→ ~100k whitespace
    *     tokens): the un-split book / minified-JS blob every crawl
    *     contains — stresses tokenize/shingle/winnow kernels that
    *     allocate per element, and (via the mm_* payload synthesis)
    *     half-megabyte binary payloads through the decode path;
    *   - `events.props` replaced by an 800-deep nested JSON object: the
    *     adversarial metadata blob — stresses get_json_object /
    *     from_json recursion;
    *   - `part.p_name` inflated to ~50 KB: the huge-array path for the
    *     fn_nested/fn_string split() batteries.
    *
    * Pad values are small exact constants (float-exact, shingle-able
    * words) so huge rows are big but never NaN/Inf — magnitude is the
    * axis under test, the nan/text axes own value pathology.
    *
    * Why this matters at 100 TB: per-ELEMENT work bounded per row at
    * nominal sizes (a 64-float fold, a shingle window) silently becomes
    * per-row megabyte allocation when the corpus holds pathological
    * rows, and ANSI mode turns out-of-range index arithmetic derived
    * from sizes into thrown errors instead of NULLs. Acceptable: big
    * rows score/filter/dedup like any other row, deep JSON reads as
    * NULL fields. Unacceptable also: JVM OOM from a single row. */
  def corruptHuge(df: DataFrame, salt: String): DataFrame = {
    val fp = xxhash64(df.columns.map(col) :+ lit(salt): _*)
    val out = df.schema.fields.foldLeft(df.withColumn("__fp", fp)) {
      case (d, f) =>
        val r = pmod(xxhash64(col("__fp"), lit(f.name)), lit(32))
        f.dataType match {
          case ArrayType(FloatType, _) =>
            // pad to HugeDim with a deterministic small tail. The
            // already-wide guard matters: sequence(1, 0) DESCENDS to
            // [1, 0] (Spark defaults step to -1 when start > stop), so
            // an input at >= HugeDim dims would silently gain 2 pad
            // elements without it (ADVICE r12; latent at nominal 64).
            val pad = transform(
              sequence(lit(1), lit(HugeDim) - size(col(f.name))),
              x => (pmod(x, lit(7)).cast("double") / 100.0).cast("float"))
            d.withColumn(f.name,
              when(r === 0 && size(col(f.name)) < HugeDim,
                concat(col(f.name), pad)).otherwise(col(f.name)))
          case StringType if f.name == "text" || f.name == "p_name" =>
            val target = if (f.name == "text") HugeTextChars else HugeNameChars
            // repeat the row's own text (+ a space so tokens split)
            // until it crosses the target length
            val n = (lit(target) / (length(col(f.name)) + 1)).cast("int") + 1
            d.withColumn(f.name,
              when(r === 0, repeat(concat(col(f.name), lit(" ")), n))
                .otherwise(col(f.name)))
          case StringType if f.name == "props" =>
            val deep = concat(
              repeat(lit("{\"d\":"), JsonDepth), lit("1"),
              repeat(lit("}"), JsonDepth))
            d.withColumn(f.name,
              when(r === 0, deep).otherwise(col(f.name)))
          case _ => d
        }
    }
    out.drop("__fp")
  }

  /** Key-column predicate: join/group identity columns only — never
    * measures (skewing l_quantity would just change statistics). */
  private def isKeyCol(name: String): Boolean =
    name.endsWith("key") || name == "user_id" || name == "doc_id" ||
      name == "vec_id" || name == "src" || name == "dst"

  /** Per-query wall-clock ceiling of the skew axis at sf0.001, in raw
    * seconds. The r11 sweep's slowest NON-pathological entry was dd_cdc
    * at 12.6 s; 25 s gives 2× headroom while still catching the class
    * this bound exists for — the
    * unbounded stand-in that sent emb_ivfpq to 98 s (r11, fixed). A
    * bare "ok:30.9s" used to hide a real regression behind an inherent
    * one; now any entry over its bound records `slow:` and fails the
    * sweep. */
  private[graft] val SkewDefaultBoundSec = 25.0

  /** Inherently-expensive-under-skew whitelist (PlanAudit
    * expectedGlobalWin style — document the mechanism when adding an
    * entry; PlanSpec fails if a key stops naming a live query):
    *  - join_inner_chain: an equi-join where one hot key holds 25% of
    *    BOTH sides has quadratic OUTPUT (~ (N/4)² matched rows) — any
    *    engine pays it; r11 measured 30.9 s at sf0.001.
    *  - pipe_ccnet: the LM-pipeline dedup gate under a single hot
    *    chunk id compares the hot group pairwise; r11 measured
    *    17.9 s. Output-bounded, not state-bounded, so it completes —
    *    just slowly.
    *  - dd_cdc: REMOVED r13. The r11 entry (12.6 s measured) covered
    *    the pre-barrier HOF path; r12's Generate barrier brought the
    *    skew time to ≤4 s and the r13 cdc_chunks codegen kernel is
    *    strictly faster — the stale 40 s bound would have masked a
    *    16× regression, so the query is back under the default. */
  private[graft] val SkewBoundOverrides: Map[String, Double] = Map(
    "join_inner_chain" -> 90.0, "pipe_ccnet" -> 55.0)

  /** Collapse ~25% of each key column (the `*key` TPC-H columns,
    * `user_id`, `doc_id`, `vec_id`, `src`/`dst`) onto its per-column
    * hot value (the column minimum: always a legitimate, joinable id).
    *
    * Why this matters at 100 TB: Zipfian keys are the default state of
    * web data — one domain is 20% of the crawl, one user is half the
    * event log, a null-ish placeholder id repeats billions of times.
    * Collapsed keys ALSO make formerly-unique ids (doc_id, vec_id)
    * duplicate, which is exactly what a re-crawled corpus looks like.
    * The failure modes this axis hunts: per-key state that assumed
    * uniqueness (a window over a "primary key" now holding 25% of the
    * table), joins whose hot-side row products explode, and ANSI
    * arithmetic on key-derived values that assumed the generator's
    * range. Acceptable: bigger groups, more join matches,
    * deterministic dedup keeping one of the duplicates. Unacceptable
    * also: a query that was sublinear going quadratic (the artifact
    * records per-query wall seconds and enforces the bounds above). */
  def corruptSkew(df: DataFrame, salt: String): DataFrame = {
    val keyCols = df.schema.fields.filter(f => isKeyCol(f.name) &&
      (f.dataType == LongType || f.dataType == IntegerType))
    if (keyCols.isEmpty) return df
    // per-column minima in one scan, broadcast as literals
    val mins = df.agg(
      min(col(keyCols.head.name)),
      keyCols.tail.map(f => min(col(f.name))): _*).head()
    val fp = xxhash64(df.columns.map(col) :+ lit(salt): _*)
    val out = keyCols.zipWithIndex.foldLeft(df.withColumn("__fp", fp)) {
      case (d, (f, i)) =>
        val hot = mins.get(i)
        if (hot == null) d
        else d.withColumn(f.name,
          when(pmod(xxhash64(col("__fp"), lit(f.name)), lit(4)) === 0,
            lit(hot).cast(f.dataType)).otherwise(col(f.name)))
    }
    out.drop("__fp")
  }
}
