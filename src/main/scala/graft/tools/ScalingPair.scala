package graft.tools

import graft.SparkEntry
import graft.core.{Sessions, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 30× scaling point for the PAIR-MATH families — dd_*, emb_*, plus
  * Scaling30's two exclusions text_winnow and mm_dedup (r13 verdict
  * #1). Scaling30 deliberately skips these: its content-identical
  * copies turn every document into a true 3-way exact duplicate,
  * which QUADRATICALLY inflates candidate pairs — measuring twin
  * pairing, not corpus growth. This probe builds a corpus whose
  * copies are content-DISJOINT where the linear-candidates claim
  * lives, and content-IDENTICAL where the quadratic density model is
  * the honest claim:
  *
  *   - `documents`: each extra copy token-remaps the text (every
  *     whitespace token t -> "t~k", injective, '~'-free corpus
  *     verified) and offsets doc_id. Within a copy, token/shingle
  *     statistics are ISOMORPHIC to the base (so shingle df
  *     distributions and the capRare(1000) blocking behave exactly as
  *     at base scale); across copies, shingle sets are disjoint — the
  *     realistic "corpus grew by new documents with the same
  *     statistics" shape. Blocked candidates must therefore grow
  *     ~LINEARLY (×copies), which this probe ASSERTS on the candidate
  *     counts themselves, not just on wall time.
  *   - `embeddings`: copies are identical vectors under offset
  *     vec_ids — the hardest density model for an LSH bucketer, since
  *     NO plane count separates identical vectors. r14 measured the
  *     then-fixed 4-hyperplane buckets at 9.25× candidate growth
  *     (copies²) under this model; round 15 mechanized the documented
  *     fix as EmbeddingQueries.cappedBucket (occupancy-capped
  *     rank-pack chunks, candidates ≤ N·(cap−1)/2), so bucket-blocked
  *     pairs must now grow ~LINEARLY (~3×) — asserted below. Per-query
  *     top-k / argmax work stays linear.
  *
  * Growth gates (exit 1 on violation, plus the standard time flag):
  *   shingle_cand  sum C(df,2) over dd_jaccard's capRare'd (doc,
  *                 shingle) relation — must be ~3× (rare-shingle cap
  *                 holds under growth: the 100 TB linearity claim)
  *   band_cand     dd_minhash's LSH band-blocked pair count — ~3×
  *   bucket_cand   sum C(n,2) over emb_lsh_buckets' occupancy-capped
  *                 buckets — ~3× (was ~9× before cappedBucket)
  *
  * Run: sbt "runMain graft.tools.ScalingPair [smallDir baseDir]"
  *   (defaults /root/testdata/sf0.01 and /root/testdata/sf0.1)
  * Output: scaling_pair.json; flagged table on stdout; exit 1 on any
  * time flag (ScalingProbe.isFlagged, dataRatio 30) or growth-bound
  * violation.
  */
object ScalingPair {
  // SHARED with Scaling30 (aliases, not copies): the two probes must
  // build key-band-compatible corpora — a retune of either constant
  // moves both tools together (review finding r14)
  private[graft] val Copies = Scaling30.Copies
  private[graft] val KeyOffset = Scaling30.KeyOffset

  private[graft] def selected: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted
      .filter(n => n.startsWith("dd_") || n.startsWith("emb_")) ++
      Seq("text_winnow", "mm_dedup")

  /** Token-remapped copy k of the documents table: doc_id offset,
    * every token suffixed "~k" (k=0 = the base, untouched). */
  private[graft] def remapDocuments(df: DataFrame, k: Int): DataFrame =
    if (k == 0) df
    else df
      .withColumn("doc_id", col("doc_id") + lit(k * KeyOffset))
      .withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1~" + k))

  /** Identical-content copy k of the embeddings table (vec_id offset
    * only — see scaladoc for why identity is the honest choice). */
  private[graft] def remapEmbeddings(df: DataFrame, k: Int): DataFrame =
    if (k == 0) df else df.withColumn("vec_id", col("vec_id") + lit(k * KeyOffset))

  private[graft] def extendTable(df: DataFrame, tbl: String): DataFrame =
    tbl match {
      case "documents" =>
        (0 until Copies).map(remapDocuments(df, _)).reduce(_ unionByName _)
      case "embeddings" =>
        (0 until Copies).map(remapEmbeddings(df, _)).reduce(_ unionByName _)
      case _ => Scaling30.KeyCols.get(tbl) match {
        case Some(ks) => Scaling30.extend(df, ks, Copies)
        case None => df // dimension tables stay fixed
      }
    }

  /** sum C(df,2) over dd_jaccard's blocked (doc, shingle) relation —
    * the query's OWN generator (DedupQueries.blockedShingles, shared
    * constants), so the growth metric can never diverge from what the
    * query actually runs. */
  private[graft] def shingleCand(s: SparkSession, d: String): Long =
    graft.queries.DedupQueries.blockedShingles(s, d)
      .groupBy("sh").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n") * (col("n") - 1)), lit(0L)).as("c2"))
      .collect()(0).getLong(0) / 2

  private[graft] def bandCand(s: SparkSession, d: String): Long =
    SparkEntry.queries("dd_minhash")(s, d).count()

  private[graft] def bucketCand(s: SparkSession, d: String): Long =
    SparkEntry.queries("emb_lsh_buckets")(s, d)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n") * (col("n") - 1)), lit(0L)).as("c2"))
      .collect()(0).getLong(0) / 2

  private[graft] case class Growth(name: String, base: Long, ext: Long,
                                   lo: Double, hi: Double, model: String) {
    def ratio: Double = if (base > 0) ext.toDouble / base else -1.0
    def ok: Boolean = ratio >= lo && ratio <= hi
  }

  /** Recall floor for the clean-corpus half of the capped-consumer
    * recall gate (r15 verdict #4): the CAP's recall cost —
    * emb_neardup's found pairs over the UNCAPPED 4-plane LSH truth
    * (what the consumer would emit with ConsumerCap removed). On a
    * clean corpus buckets rarely exceed the cap, so the cap must
    * cost ~nothing (>= 0.95); on floods it deliberately drops pairs,
    * which the flood fixture records as the documented cost.
    * ConsumerCap=64 was a documented recall knob with NO measured
    * recall — this pins the measurement as a gated artifact number.
    * The blocking's OWN recall vs the brute-force cos>=0.35 ground
    * truth is recorded un-gated alongside: a 4-plane single-table
    * LSH keeps only ~(1-θ/π)^4 of threshold-grade pairs (~0.17
    * measured at sf0.01) while near-dup-grade pairs collide far more
    * often — the plane count, not the cap, is that knob. */
  private[graft] val RecallFloor = 0.95
  private[graft] val FloodN = 500

  /** Connected components over an edge list — driver-side union-find
    * for the flood-connectivity check (the pair set is candidate-
    * bounded at N(cap-1)/2 + O(N/cap), thousands of rows, tool-only). */
  private[graft] def componentCount(ids: Seq[Long],
                                    pairs: Seq[(Long, Long)]): Int = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      // path-compress so repeated finds over a long chain stay cheap
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      if (parent.contains(a) && parent.contains(b)) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra) = rb
      }
    }
    ids.map(find).distinct.size
  }

  /** The capped-consumer recall gate (r15 verdict #4). Two fixtures:
    *
    *   clean — emb_neardup's blocked pairs on the sf0.01 corpus (500
    *   vectors — the O(N²) truths are measurement tools, never
    *   catalog shapes) against TWO denominators: (1) the UNCAPPED
    *   4-plane LSH pair set — found/uncapped isolates the CAP's own
    *   recall cost, GATED >= floor (clean buckets rarely exceed 64,
    *   so the cap must cost ~nothing; chain pairs are a subset of
    *   same-gb pairs, so found ⊆ uncapped holds and the intersection
    *   join is belt-and-braces against a blocking bug emitting
    *   duplicate or spurious pairs); (2) the brute-force cos>=0.35
    *   ground truth — recorded UN-GATED as the blocking's own recall
    *   (the plane-count knob, not the cap knob).
    *
    *   flood — FloodN identical vectors under distinct ids at the
    *   consumer's production parameters (cap=64, coarse=1024):
    *   ⌈N/cap⌉ chunks whose pair sets the cap deliberately separates.
    *   Gate: the chain cells (r15 verdict #1) keep the cluster ONE
    *   connected component in the consumer pair output. The flood
    *   pair recall vs C(N,2) is recorded un-gated — it IS the cap's
    *   documented candidate-bound cost (≈ (cap-1)/(N-1) per member).
    */
  private[graft] def recallGate(s: SparkSession, small: String)
  : (String, Boolean) = {
    import graft.queries.EmbeddingQueries
    val emb = graft.core.Tables.load(s, small, "embeddings")
    val bruteDf = EmbeddingQueries.bruteNeardupPairs(emb)
      .select("da", "db").localCheckpoint()
    val bruteN = bruteDf.count()
    val uncappedDf = EmbeddingQueries.uncappedLshPairs(emb)
      .select("da", "db").localCheckpoint()
    val uncappedN = uncappedDf.count()
    val foundDf = EmbeddingQueries.neardupPairs(emb)
      .select("da", "db").localCheckpoint()
    val hitUncapped = foundDf.join(uncappedDf, Seq("da", "db")).count()
    val hitBrute = foundDf.join(bruteDf, Seq("da", "db")).count()
    val capRecall = if (uncappedN > 0) hitUncapped.toDouble / uncappedN else -1.0
    val lshRecall = if (bruteN > 0) hitBrute.toDouble / bruteN else -1.0
    Seq(bruteDf, uncappedDf, foundDf)
      .foreach(graft.core.Resources.freeCheckpoint(_, blocking = true))

    val floodIds = (0 until FloodN).map(i => 1000000L + i)
    val flood = s.range(FloodN.toLong)
      .select((col("id") + lit(1000000L)).as("vec_id"),
        array_repeat(lit(1.0f), 64).as("embedding"))
    val floodPairs = graft.queries.EmbeddingQueries.neardupPairs(flood)
      .select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val comps = componentCount(floodIds, floodPairs)
    val floodRecall = floodPairs.size.toDouble / (FloodN.toLong * (FloodN - 1) / 2)
    val ok = capRecall >= RecallFloor && comps == 1
    println(f"[scalingpair] recall gate: cap cost $hitUncapped/$uncappedN = " +
      f"${capRecall}%.4f (floor $RecallFloor, gated) | blocking recall " +
      f"$hitBrute/$bruteN = ${lshRecall}%.4f (record-only: the plane-count " +
      f"knob) | flood n=$FloodN components=$comps (must be 1) " +
      f"pair_recall=${floodRecall}%.4f (record-only: the cap's candidate bound)" +
      (if (ok) " ok" else "  << GATE VIOLATED"))
    def f3(v: Double) = graft.Bench.fmt3(v)
    (s"""{"uncapped_lsh_pairs":$uncappedN,"found_pairs_in_uncapped":$hitUncapped,"cap_recall":${f3(capRecall)},"floor":$RecallFloor,"brute_truth_pairs":$bruteN,"found_pairs_in_brute":$hitBrute,"lsh_recall":${f3(lshRecall)},"flood_n":$FloodN,"flood_components":$comps,"flood_pair_recall":${f3(floodRecall)},"ok":$ok}""",
      ok)
  }

  def main(args: Array[String]): Unit = {
    val small = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val base = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val dataRatio = (graft.Bench.sfOf(small), graft.Bench.sfOf(base)) match {
      case (Some(s), Some(l)) => Copies * l / s
      case _ => sys.error(s"cannot parse scale factors from '$small' / '$base'")
    }
    val spark = Sessions.build("graft-scaling-pair")
    graft.Bench.warmJvm(spark)

    // the remap's injectivity and cross-copy disjointness REQUIRE a
    // '~'-free corpus (a base token "a~1" would collide with copy 1's
    // remap of "a") — self-check the precondition instead of trusting
    // the testdata generator forever
    val tildeDocs = spark.read.parquet(s"$base/documents.parquet")
      .filter(col("text").contains("~")).count()
    require(tildeDocs == 0,
      s"$tildeDocs documents contain '~' — pick a different remap suffix")

    val dir = java.nio.file.Files.createTempDirectory("graft-scpair").toString
    // runProbe RETURNS the pass/fail verdict instead of exiting: a
    // sys.exit inside the try would begin JVM shutdown WITHOUT
    // unwinding the stack, so this finally would never run and the
    // ~3x+9x sf0.1 extended parquet corpus would leak in /tmp on
    // every failing gate (ADVICE r14; ConcExec/StateSize exit only
    // after their cleanup for the same reason).
    val ok =
      try runProbe(spark, small, base, dir, dataRatio)
      finally
        // the extended corpus is several sf0.1-multiples of parquet
        // per run — delete it even on a failing gate (refresh_gates
        // runs this every round; /tmp must not accumulate)
        graft.core.Resources.deleteRecursively(dir)
    if (!ok) sys.exit(1)
  }

  /** Runs the full probe; returns false when any time flag or growth
    * bound fired (main exits 1 AFTER temp cleanup). */
  private def runProbe(spark: SparkSession, small: String, base: String,
                       parent: String, dataRatio: Double): Boolean = {
    val dir = s"$parent/x3"
    Tables.all.foreach { tbl =>
      val src = spark.read.parquet(s"$base/$tbl.parquet")
      extendTable(src, tbl).write.mode("overwrite").parquet(s"$dir/$tbl.parquet")
    }

    // ---- growth gates on the CANDIDATE COUNTS (base sf0.1 vs 3×) ----
    val growth = Seq(
      Growth("shingle_cand", shingleCand(spark, base), shingleCand(spark, dir),
        2.7, 3.3, "content-disjoint copies: blocked candidates linear in corpus " +
          "while capRare(1000) holds (within-copy df isomorphic to base)"),
      Growth("band_cand", bandCand(spark, base), bandCand(spark, dir),
        2.5, 3.5, "MinHash band buckets are content-keyed: disjoint copies " +
          "add bucket members only within a copy"),
      Growth("bucket_cand", bucketCand(spark, base), bucketCand(spark, dir),
        2.5, 3.5, "occupancy-capped buckets (cappedBucket rank-pack, cap=4): " +
          "chunks saturate at C(cap,2) pairs, so candidates are <= N(cap-1)/2 " +
          "— LINEAR in density even for identical copies, which r14's fixed " +
          "buckets grew at copies^2 = 9.25x. Residual ~7% over 3x is pack " +
          "remainder at the demo occupancies (chunks not all full)"))
    growth.foreach { g =>
      val mark = if (g.ok) "ok" else "  << OUT OF BOUNDS"
      println(f"[scalingpair] growth ${g.name}%-13s ${g.base}%9d -> ${g.ext}%9d  ratio ${g.ratio}%5.2fx (bound ${g.lo}-${g.hi})$mark")
    }

    // ---- capped-consumer recall gate (r15 verdict #4) ----
    val (recallJson, recallOk) = recallGate(spark, small)

    // dd_tfidf_cos materializes two localCheckpoints INTERNALLY on
    // every evaluation, with no handle to free — and timeOnce warms
    // then times, so an unreleased run leaves up to 4 frames of
    // blocks inflating whatever is measured next (the exact pressure
    // ckptSec's own frees exist to avoid). Diff the persistent-RDD
    // census around the call and release what the timing added
    // (review finding r15). blocking = true: these frees are
    // measurement hygiene OFF the timed path, and an async release
    // may not complete before the next probe starts timing —
    // leaking exactly the pressure the free exists to remove
    // (ADVICE r15).
    def timeReleasing(mk: => org.apache.spark.sql.DataFrame): Double = {
      val pre = spark.sparkContext.getPersistentRDDs.keySet
      val sec = ScalingProbe.timeOnce(mk)
      (spark.sparkContext.getPersistentRDDs -- pre).values
        .foreach(_.unpersist(blocking = true))
      sec
    }

    // ---- per-query wall-clock, small sf0.01 vs extended (30×) ----
    val names = selected
    println(s"[scalingpair] ${names.size} pair-math queries, data ratio " +
      s"${dataRatio.toInt}x (3x-extended $base — SYNTHETIC, docs token-remapped)")
    val rows = names.map { name =>
      val fn = SparkEntry.queries(name)
      // census-diff release around BOTH timings: queries that
      // localCheckpoint internally (dd_tfidf_cos's tokenize-once
      // base) otherwise leak their blocks into every later probe's
      // memory/GC pressure — the x9 fix of r15, now applied to the
      // whole loop (BENCH_NOTES r15 item 13b)
      val ts = timeReleasing(fn(spark, small))
      val tl = timeReleasing(fn(spark, dir))
      val ratio = if (ts > 0 && tl > 0) tl / ts else -1.0
      (name, ts, tl, ratio)
    }
    def f(v: Double) = graft.Bench.fmt3(v)
    val flagged = rows.filter { case (_, _, tl, r) =>
      ScalingProbe.isFlagged(r, tl, dataRatio) }
    val growthBad = growth.filterNot(_.ok)

    // ---- two-point curve for the worst pair-math query (r14 #4):
    // dd_tfidf_cos's 30x wall-ratio was 11.3x — sublinear but 3.5x
    // worse than its family. A second scale point (x9 = 3x on the 3x,
    // documents only: the query reads nothing else) shows whether the
    // curve bends toward linear, and the factored-out checkpoint
    // stage (DedupQueries.tfidfCheckpoints) attributes each point's
    // wall between materialization and pair math. Record-only — no
    // gate: the standard isFlagged time flag already covers the x3
    // point, and a one-query x9 wall on a noisy host is not a bound
    // you can assert tightly without flaking the whole refresh.
    val dir9 = s"$parent/x9"
    def ckptSec(p: String): Double = {
      val t0 = System.nanoTime()
      val (b, wp) = graft.queries.DedupQueries.tfidfCheckpoints(spark, p)
      val sec = (System.nanoTime() - t0) / 1e9
      // Dataset.unpersist is a silent NO-OP on localCheckpoint blocks
      // (they are not CacheManager entries) — release through the
      // LogicalRDD leaf so the x3 probe's blocks don't inflate the
      // x9 probe's memory/GC pressure (review finding r15); blocking,
      // for the same measurement-hygiene reason as timeReleasing
      graft.core.Resources.freeCheckpoint(b, blocking = true)
      graft.core.Resources.freeCheckpoint(wp, blocking = true)
      sec
    }
    val tfidf3 = rows.collectFirst { case ("dd_tfidf_cos", _, tl, _) => tl }
      .getOrElse(-1.0)
    // record-only means FAILURE-ISOLATED too — now PER PROBE: a throw
    // in any one of the build / x9 timing / ckpt3 / ckpt9 probes
    // records -1 for THAT reading instead of discarding the others
    // (r15's all-or-nothing try threw away valid tfidf9/ckpt3 when
    // ckptSec(dir9), the LAST probe, failed — BENCH_NOTES item 13a).
    // ckpt3 reads only the x3 corpus, so it runs even when the x9
    // corpus build failed.
    def probeRec(label: String)(body: => Double): Double =
      try body catch {
        case e: Throwable =>
          System.err.println(
            s"[scalingpair] tfidf curve probe $label failed (record-only): ${e.getMessage}")
          -1.0
      }
    val built = probeRec("build-x9") {
      val ext3docs = spark.read.parquet(s"$dir/documents.parquet")
      // second remap pass with suffix ids {0,3,6}: combined suffixes
      // ("", ~1, ~2) x ("", ~3, ~6) are 9 distinct strings, so all 9
      // copies stay pairwise token-disjoint (a ~1-then-~1 scheme would
      // collide copy (1,0) with copy (0,1)); doc_id bands [0,3K) +
      // {0,3K,6K} stay disjoint for the same reason.
      (0 until Copies).map(j => remapDocuments(ext3docs, 3 * j))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir9/documents.parquet")
      0.0
    } >= 0
    val tfidf9 =
      if (built)
        probeRec("tfidf9")(
          timeReleasing(SparkEntry.queries("dd_tfidf_cos")(spark, dir9)))
      else -1.0
    val ckpt3 = probeRec("ckpt3")(ckptSec(dir))
    val ckpt9 = if (built) probeRec("ckpt9")(ckptSec(dir9)) else -1.0
    // per-point corpus sizes (ADVICE r15): without them the committed
    // ratio invites misreading — a 1.07x at "3x data" really means
    // both points are overhead-dominated at demo scale, which only
    // the row counts make visible in the artifact itself
    def docCount(p: String): Long =
      probeRec(s"count $p")(
        spark.read.parquet(s"$p/documents.parquet").count().toDouble).toLong
    val docs3 = docCount(dir)
    val docs9 = if (built) docCount(dir9) else -1L
    val ratio93 = if (tfidf3 > 0 && tfidf9 > 0) tfidf9 / tfidf3 else -1.0
    // attribution only when both parts timed: a -1 checkpoint reading
    // must not turn into a garbage "pair" of total+1
    def pairSec(total: Double, ck: Double): Double =
      if (total > 0 && ck > 0) total - ck else -1.0
    println(f"[scalingpair] tfidf curve: x3 ${tfidf3}%.3fs (ckpt ${ckpt3}%.3fs, " +
      f"$docs3%d docs) -> x9 ${tfidf9}%.3fs (ckpt ${ckpt9}%.3fs, $docs9%d docs), " +
      f"x9/x3 ${ratio93}%.2fx (linear would be 3x; a ratio well under it means " +
      "both points are overhead-dominated at this scale — read the marginal " +
      "attribution, not the headline ratio)")
    val curveJson =
      s"""{"x3_total":${f(tfidf3)},"x9_total":${f(tfidf9)},"ratio_9_over_3":${f(ratio93)},"x3_ckpt":${f(ckpt3)},"x9_ckpt":${f(ckpt9)},"x3_pair":${f(pairSec(tfidf3, ckpt3))},"x9_pair":${f(pairSec(tfidf9, ckpt9))},"x3_docs":$docs3,"x9_docs":$docs9}"""

    val qJson = rows.map { case (n, ts, tl, r) =>
      s""""$n":{"small":${f(ts)},"large30":${f(tl)},"ratio":${f(r)}}"""
    }.mkString("{", ",", "}")
    val gJson = growth.map { g =>
      s""""${g.name}":{"base":${g.base},"extended":${g.ext},"ratio":${f(g.ratio)},"bound":[${g.lo},${g.hi}],"ok":${g.ok},"model":"${SweepJson.esc(g.model)}"}"""
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("scaling_pair.json"),
      s"""{"action":"30x-pair-math-scaling-probe","synthetic":"large side is $base x3: documents token-remapped per copy (cross-copy shingle-disjoint), embeddings identical per copy (density model), fact keys offset, dims fixed; tfidf_curve adds a x9 documents-only point (3x remap of the x3); recall gate runs on the sf0.01 corpus + an identical-vector flood fixture","data_ratio":${f(dataRatio)},"n_queries":${rows.size},"n_flagged":${flagged.size},"n_growth_violations":${growthBad.size},"growth":$gJson,"recall":$recallJson,"tfidf_curve":$curveJson,"queries":$qJson,${graft.core.Provenance.jsonFields}}""")
    rows.sortBy(-_._4).take(15).foreach { case (n, ts, tl, r) =>
      val mark = if (flagged.exists(_._1 == n)) "  << SUPERLINEAR" else ""
      println(f"[scalingpair] $n%-22s ${ts}%7.3fs -> ${tl}%7.3fs  ratio ${r}%6.2fx$mark")
    }
    println(s"[scalingpair] flagged: ${flagged.size}/${rows.size}; growth violations: ${growthBad.size}/3; recall gate ${if (recallOk) "ok" else "VIOLATED"}")
    spark.stop()
    if (flagged.nonEmpty)
      System.err.println(s"[scalingpair] FLAGGED: ${flagged.map(_._1).mkString(",")}")
    growthBad.foreach(g => System.err.println(
      s"[scalingpair] GROWTH OUT OF BOUNDS: ${g.name} ratio ${g.ratio}"))
    if (!recallOk)
      System.err.println("[scalingpair] RECALL GATE VIOLATED (see recall block)")
    flagged.isEmpty && growthBad.isEmpty && recallOk
  }
}
