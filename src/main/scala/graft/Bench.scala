package graft

import graft.core.Sessions

/** Bench main: runs every registered query against
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints ONE JSON line the
  * driver parses into BENCH_r{N}.json.
  * Every reading is raw wall-clock seconds; comparing one commit with
  * another is `perfbench`'s job (paired parent/change runs), not this
  * tool's.
  *
  * `count()` is the benched action: it executes the full plan
  * (shuffles, joins, window functions) without paying collect/IO cost
  * for wide results. Failures are reported as -1 for that query but
  * EXCLUDED from the headline total so one bad query can't corrupt
  * the metric.
  *
  * The driver captures only a ~2 KB tail of stdout and parses the
  * JSON line out of it: round 2's line (every query at full double
  * precision, ~2.6 KB) was truncated mid-line and parsed as null. So
  * the emitted line is budget-capped: timings at 3 decimals, slowest
  * queries first, truncated to fit; the complete map goes to
  * bench_full.json next to the repo for human inspection.
  */
object Bench {
  /** Scale factor parsed from a testdata dir name (`.../sf0.1`).
    * None when nothing parses — including regex matches Double can't
    * read (e.g. `sf0.1.bak` captures "0.1."), so callers keep their
    * own fallback/loud-error behavior instead of crashing mid-run. */
  private[graft] def sfOf(dir: String): Option[Double] =
    "sf([0-9.]+)".r.findFirstMatchIn(dir)
      .flatMap(m => scala.util.Try(m.group(1).toDouble).toOption)

  /** 3-decimal artifact formatting, shared with the Scaling and Sweep
    * tools so their JSON artifacts round identically. */
  private[graft] def fmt3(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** One-time JVM/codegen warm-up (guarded: must not fail the run). */
  private[graft] def warmJvm(spark: org.apache.spark.sql.SparkSession): Unit =
    try spark.range(1000000).selectExpr("sum(id)").collect()
    catch { case _: Throwable => () }

  /** Suspect-retime thresholds: a query is retimed when it ran slower
    * than `SuspectFactor ×` its committed calm reference AND exceeded
    * it by an absolute slack (so a 0.05 s query tripling to 0.15 s of
    * scheduler noise never triggers). `MaxRetimes` bounds the pass on a
    * globally-melting host — excess sorted worst-first so the biggest
    * outliers always get their second reading. */
  private[graft] val SuspectFactor = 3.0
  private[graft] val SuspectSlackSec = 0.75
  private[graft] val MaxRetimes = 15

  /** Names to re-time, worst absolute excess over the ref first.
    * Unknown names (no committed ref) and failed queries (-1) are never
    * suspects. */
  private[graft] def suspectsOf(results: Seq[(String, Double)]): Seq[String] =
    results.collect {
      case (name, sec) if sec >= 0 && BenchRefs.calm.get(name).exists(ref =>
        sec > SuspectFactor * ref && sec > ref + SuspectSlackSec) =>
        name -> (sec - BenchRefs.calm(name))
    }.sortBy(-_._2).take(MaxRetimes).map(_._1)

  /** Stdout-line budget for the `queries` entries. Retime entries spend
    * from the same budget, so a 15-retime degraded run can't push the
    * line past the ~2 KB stdout tail the JSON line is parsed from. */
  private val LineBudget = 1200

  /** The run's two artifacts from its readings (-1 = failed) and its
    * retime readings: the full bench_full.json document (every query,
    * run order) and the budget-capped stdout line (slowest first).
    * `value` sums the non-negative readings; `value_retimed` replaces
    * each retimed query by its better reading. `prov` is spliced in
    * verbatim (Provenance.jsonFields). */
  private[graft] def renderJson(results: Seq[(String, Double)],
                                retimed: Seq[(String, Double)],
                                sf: String, prov: String): (String, String) = {
    def entry(kv: (String, Double)) = "\"" + kv._1 + "\":" + fmt3(kv._2)
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val retimedMap = retimed.toMap
    val totalRetimed = results.collect { case (n, v) if v >= 0 =>
      retimedMap.get(n).filter(r => r >= 0 && r < v).getOrElse(v)
    }.sum
    val head = s""""metric":"total","value":${fmt3(total)},"unit":"sec","n_queries":${results.size},"retimed":${retimed.map(entry).mkString("{", ",", "}")},"value_retimed":${fmt3(totalRetimed)}"""
    val budget = math.max(400, LineBudget - retimed.map(entry(_).length + 1).sum)
    val bySlow = results.sortBy(-_._2).map(entry)
    val fits = bySlow.scanLeft(0)(_ + _.length + 1).tail.takeWhile(_ <= budget).size
    def doc(entries: Seq[String]) =
      s"""{$head,"queries":${entries.mkString("{", ",", "}")},"sf":$sf,$prov}"""
    (doc(results.map(entry)), doc(bySlow.take(fits)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // `--only q1,q2` (or bare names) restricts the run — lets a single
    // regressed query be bisected without a full-suite run.
    val only: Set[String] =
      args.filterNot(_ == "--only").flatMap(_.split(",")).map(_.trim)
        .filter(_.nonEmpty).toSet
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else {
        val unknown = only -- SparkEntry.queries.keySet
        if (unknown.nonEmpty)
          System.err.println(s"[bench] unknown query names ignored: ${unknown.mkString(",")}")
        SparkEntry.queries.view.filterKeys(only).toMap
      }
    val spark = Sessions.build("graft-bench")
    // JVM/codegen warmup so the alphabetically-first query doesn't
    // absorb one-time JIT + classloading cost into its measurement.
    // Guarded: a warm-up failure must not zero the whole artifact —
    // the timed loop below reports per-query failures as -1.
    warmJvm(spark)
    try SparkEntry.entry(spark).count()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up failed (continuing): ${e.getMessage}")
    }
    // Per-query plan warm-up: whole-stage codegen + JIT of each
    // query's generated classes is a ONE-TIME driver-side cost, not
    // data-proportional work — at cluster scale it amortizes to zero,
    // so timing it would systematically overstate per-row cost. The
    // warm-up runs against the TARGET dir (not the smoke-scale data):
    // statistics differ per SF, so an sf0.001 warm-up compiles
    // different physical plans and the timed run still pays full plan
    // compile — measured +30% suite-wide, 4× on codegen-heavy queries
    // (text_kneser 5.9 s suite vs 1.2 s steady-state). Warm-up
    // failures are ignored (the timed run reports them).
    // The warm run happens IMMEDIATELY before each query's timed run,
    // not as a separate suite-wide pass: the generated-class cache is
    // bounded (see Sessions' codegen.cache.maxEntries note), so with a
    // catalog bigger than the cache an up-front warm pass evicts the
    // earliest-warmed plans before their timed turn — measured in this
    // round as 3-9× "regressions" on ~15 queries (agg_distinct
    // 0.22→2.02 s) whose isolated warm runs were unchanged.
    // Warm-then-time per query guarantees the timed run hits a
    // compiled plan no matter how the cache is sized.
    // Pay accumulated GC debt OUTSIDE the timed window: with one timed
    // run per query in a single long session, a collection triggered
    // by query N's garbage otherwise lands in query N+1's measurement
    // (r4 showed sub-second queries doubling purely from suite
    // position; isolated runs matched r3).
    def time(name: String): Double = {
      System.gc()
      val t0 = System.nanoTime()
      try { selected(name)(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0 }
    }
    val results = selected.keys.toSeq.sorted.map { name =>
      try selected(name)(spark, sfDir).count() catch { case _: Throwable => () }
      name -> time(name)
    }
    // Suspect-retime pass (r12 verdict task #1): a single-query
    // excursion in a flaky container — BENCH_r12's 18 s dd_tfidf_cos,
    // really 3.8 s warm — is indistinguishable in the artifact from a
    // real 8x regression. Any query slower than 3x its committed calm
    // reference (BenchRefs.calm) re-runs ONCE, warm, same GC
    // discipline, and BOTH readings ship: `queries` keeps the first
    // reading, `retimed` carries the second, and `value_retimed` is the
    // total with each suspect replaced by its better reading — a real
    // regression reproduces in the retime, an environment excursion
    // adjudicates itself.
    val retimed = suspectsOf(results).map { name =>
      val sec = time(name)
      System.err.println(s"[bench] retimed $name: ${fmt3(sec)}s")
      name -> sec
    }
    val sf = sfOf(sfDir).map(_.toString).getOrElse("0.1")
    val (fullJson, line) =
      renderJson(results, retimed, sf, graft.core.Provenance.jsonFields)
    // full map → file. Skipped under --only: a subset run must not
    // overwrite the committed full-run artifact (a r12 bisect session
    // lost the calm run's file exactly this way).
    if (only.isEmpty)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_full.json"),
        fullJson.getBytes("UTF-8"))
      catch { case _: Throwable => () }
    println(line)
    spark.stop()
  }
}
