package graft

import org.apache.spark.sql.functions._

/** Unit pins for the bench and sweep tooling: Bench's suspect-retime
  * trigger and stdout-line rendering, the BenchRefs drift rot-gate, the
  * Sweep and Scaling loops and the huge-value corruption generator
  * (Sweep.corruptHuge). Each adjudicates other results — a retime pass
  * that never fires, a stdout line that truncates, or a sweep that
  * silently corrupts nothing would invalidate conclusions downstream,
  * so their own contracts get direct tests.
  */
class ToolingSpec extends SparkSpec {

  test("suspectsOf flags the r12 excursion, not calm noise") {
    // replay: BENCH_r12's dd_tfidf_cos read 18.0 s against its ~2.5 s
    // committed calm ref — must be retimed
    val r12 = Seq("dd_tfidf_cos" -> 17.972, "dd_containment" -> 3.519)
    assert(Bench.suspectsOf(r12) == Seq("dd_tfidf_cos"))
    // a query running AT its calm ref is never a suspect, nor is a
    // failed one (-1), nor a name with no committed reference
    assert(Bench.suspectsOf(Seq("dd_tfidf_cos" -> 2.624,
      "dd_cdc" -> -1.0, "q_not_in_refs" -> 99.0)).isEmpty)
    // absolute slack: a 0.129 s query tripling to 0.5 s is scheduler
    // noise, not an excursion worth a retime slot
    assert(Bench.suspectsOf(Seq("tw_windowall" -> 0.5)).isEmpty)
    assert(Bench.suspectsOf(Seq("tw_windowall" -> 1.2)) ==
      Seq("tw_windowall"), "0.129 s ref at 1.2 s is 9x AND past slack")
    // worst-excess-first ordering and the MaxRetimes cap
    val many = BenchRefs.calm.toSeq.sortBy(_._1).take(Bench.MaxRetimes + 5)
      .zipWithIndex.map { case ((n, ref), i) => n -> (ref * 10 + i) }
    val s = Bench.suspectsOf(many)
    assert(s.size == Bench.MaxRetimes, s"cap: ${s.size}")
    val excess = many.toMap
    assert(s == s.sortBy(n => -(excess(n) - BenchRefs.calm(n))), "worst first")
  }

  test("Bench.renderJson: the stdout line parses, fits 2 KB and totals the live readings") {
    // Bench's stdout line is parsed out of a ~2 KB tail. Worst
    // case: the full catalog, every reading six digits wide, and the
    // maximum number of retimes on the longest names
    val names = BenchRefs.calm.keys.toSeq.sorted
    val results = names.zipWithIndex.map { case (n, i) =>
      n -> (if (i % 50 == 7) -1.0 else 100.0 + i * 0.123) }
    val failed = results.filter(_._2 < 0).map(_._1).toSet
    val retimed = names.filterNot(failed).sortBy(n => (-n.length, n))
      .take(Bench.MaxRetimes).map(_ -> 99.999)
    val (full, line) = Bench.renderJson(results, retimed, "0.1",
      graft.core.Provenance.jsonFields)
    assert(line.getBytes("UTF-8").length <= 2048, s"line is ${line.length} bytes")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val live = results.collect { case (_, v) if v >= 0 => v }.sum
    // every retime beats its first reading, so each one replaces it
    val liveRetimed = live - retimed.map(r => results.toMap.apply(r._1)).sum +
      retimed.size * 99.999
    for ((label, doc) <- Seq("full" -> full, "line" -> line)) {
      val root = om.readTree(doc)
      for (k <- Seq("metric", "unit", "n_queries", "sf", "commit"))
        assert(root.has(k), s"$label lacks $k")
      assert(!root.has("calibration"), s"$label still has calibration")
      assert(root.path("n_queries").asInt(-1) == names.size, label)
      assert(math.abs(root.path("value").asDouble(-1) - live) < 1e-3, label)
      assert(math.abs(root.path("value_retimed").asDouble(-1) - liveRetimed) < 1e-3, label)
      assert(root.path("retimed").size == Bench.MaxRetimes, label)
    }
    assert(om.readTree(full).path("queries").size == names.size)
    // the line keeps a slowest-first prefix of the readings
    val kept = om.readTree(line).path("queries")
    assert(kept.size > 0 && kept.size < names.size, s"line kept ${kept.size}")
    val slowest = results.sortBy(-_._2).take(kept.size).map(_._1)
    assert(slowest.forall(kept.has), "line must keep the slowest readings")
  }

  test("BenchRefs drift rot-gate: every ref within 3x of committed bench_full.json") {
    // r13 verdict #4: the retime trigger compares live timings against
    // BenchRefs.calm, but nothing checked that the refs themselves
    // still describe the engine's steady state. Gate: each ref must be
    // within 3x (either direction, +0.75 s slack — aligned with
    // suspectsOf, see below) of the committed bench_full.json reading
    // — the artifact regenerated by every refresh_gates run, so a perf
    // change that moves a query without a ref update fails HERE.
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val f = new java.io.File("bench_full.json")
    assert(f.exists(), "bench_full.json missing — run graft.Bench")
    val root = om.readTree(f)
    val readings = scala.collection.mutable.Map.empty[String, Double]
    root.path("queries").fields().forEachRemaining(e =>
      readings(e.getKey) = e.getValue.asDouble)
    // adjudicate like the headline does: when the retime pass re-ran a
    // suspect, the BETTER reading is the engine's steady state — a
    // reproduced regression keeps its high second reading and still
    // fails below.
    root.path("retimed").fields().forEachRemaining { e =>
      val r = e.getValue.asDouble
      if (r > 0 && readings.get(e.getKey).exists(r < _))
        readings(e.getKey) = r
    }
    // driftOutliers skips refs missing from the artifact or with
    // non-positive readings — assert COVERAGE separately so the gate
    // cannot erode query-by-query as timings fail (review finding r14)
    val uncovered = BenchRefs.calm.keySet
      .filterNot(n => readings.get(n).exists(_ > 0))
    assert(uncovered.isEmpty,
      s"calm refs with no positive bench_full.json reading (drift-unchecked): ${uncovered.toSeq.sorted.mkString(",")}")
    // slack 0.75 (not driftOutliers' 0.3 default) — aligned with
    // suspectsOf's absolute slack so there is no dead band where a
    // one-run sub-second excursion is too small for the retime pass
    // yet big enough to fail this gate with no code change (round 15:
    // text_bpe read 0.72 s against its 0.068 ref exactly once — under
    // the 0.81 s retime trigger, over the old 0.50 gate threshold —
    // and solo re-timing read 0.11 s). Real drift the gate exists for
    // (a silent 3x steady-state move of a >=0.4 s query, or a stale
    // re-pin) still fires: the slack only exempts refs so small that
    // they cannot mis-adjudicate the 3x-class excursions the retime
    // trigger handles.
    val out = BenchRefs.driftOutliers(readings.toMap, slackSec = 0.75)
    assert(out.isEmpty,
      s"calm refs drifted >3x from the committed bench_full.json (re-pin " +
        s"from a calm run or revert the unflagged perf change): " +
        out.map(n => s"$n ref=${BenchRefs.calm(n)} bench=${readings(n)}")
          .mkString(", "))
    // the detector FIRES on a 5x perturbation, both directions — AT
    // THE GATE'S OWN slack (0.75), so the regression proof tests the
    // production configuration, not a stricter one that could mask a
    // gate that can no longer fire. BOTH arms perturb from the CALM
    // REF (not the measured reading): a live reading that legitimately
    // improves below ~(3*ref+slack)/5 would make a measured-reading
    // perturbation pass the gate and fail the probe with no defect.
    // Both use the largest ref (dd_tfidf_cos): the stale-ref arm fires
    // when ref > 3*v + slack, i.e. at v = ref/5 it needs
    // ref > (5/2)*slack = 1.875 s — the only calm ref above that.
    val base = readings.toMap
    assert(BenchRefs.driftOutliers(
      base.updated("dd_tfidf_cos", BenchRefs.calm("dd_tfidf_cos") * 5),
      slackSec = 0.75)
      .contains("dd_tfidf_cos"), "5x-slower steady state must flag")
    assert(BenchRefs.driftOutliers(
      base.updated("dd_tfidf_cos", BenchRefs.calm("dd_tfidf_cos") / 5), slackSec = 0.75)
      .contains("dd_tfidf_cos"), "5x-faster steady state (stale ref) must flag")
    // and stays quiet on sub-second noise: a 0.07 s query reading 3.6x
    // (the live worst case, text_quality on the r13 driver run) is
    // inside the slack by design
    assert(!BenchRefs.driftOutliers(
      base.updated("text_quality", 0.258)).contains("text_quality"))
  }

  test("STATE_SIZE.json carries the two-point key-scaling gate, green") {
    // r14 verdict #5: the 5,000-key point must stay in the committed
    // artifact (with fewer batches than the base point — the
    // batch-independence half of the claim) and its ratio gate green.
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val f = new java.io.File("STATE_SIZE.json")
    assert(f.exists(), "STATE_SIZE.json missing — run graft.tools.StateSize")
    val root = om.readTree(f)
    assert(root.path("n_failed").asInt(99) == 0, "STATE_SIZE records failures")
    val ks = root.path("key_scaling")
    assert(!ks.isMissingNode, "key_scaling block lost from STATE_SIZE.json")
    assert(ks.path("ok").asBoolean(false),
      s"key-scaling ratio gate violated: ${ks.toString}")
    assert(ks.path("scaled_keys").asInt(0) / ks.path("base_keys").asInt(1) == 100,
      "key axis no longer 100x")
    assert(ks.path("scaled_batches").asInt(99) < ks.path("base_batches").asInt(0),
      "scaled point must run FEWER batches than the base (batch-independence)")
    // per-op keyspace labels (ADVICE r14): changelog_complete's
    // recorded keyspace is its pmod-20 group count, not the shared 50
    assert(root.path("ops").path("changelog_complete").path("keys").asInt(0) == 20,
      "changelog_complete keyspace mislabeled")
  }

  test("BenchRefs covers the full catalog") {
    val missing = SparkEntry.queries.keySet -- BenchRefs.calm.keySet
    assert(missing.isEmpty,
      s"queries without a calm bench reference (regenerate BenchRefs " +
        s"from a calm full run): ${missing.mkString(",")}")
  }

  test("Sweep.run: ok, error and slow statuses, escaped JSON, failure count") {
    // the one per-query loop of all ten corruption sweeps: a thrown
    // message quoting a hostile cell (NUL, ESC) must still produce an
    // artifact a strict parser accepts, and both an error and a bound
    // crossing must count as failures
    val axis = graft.tools.Sweep.Axis("TEST_SWEEP.json", "test-sweep",
      (df, _) => df, timed = true,
      bound = Some(Map("over_bound" -> 1e-6).getOrElse(_, 1e6)))
    val queries: Seq[(String, graft.tools.Sweep.QueryFn)] = Seq(
      "fine" -> ((s, _) => s.range(3).toDF("a")),
      "throws" -> ((_, _) =>
        throw new IllegalStateException("bad cell a\u0000b\u001b[0m")),
      "over_bound" -> ((s, _) => s.range(2).toDF("a")))
    val (json, failed) = graft.tools.Sweep.run(spark, "test", axis,
      "/no/schema", "/no/clones", queries)
    assert(failed == 2)
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(root.path("action").asText == "test-sweep")
    assert(root.path("n_queries").asInt(-1) == 3)
    assert(root.path("n_failed").asInt(-1) == 2)
    // bounds compare raw seconds: no host-speed field rides along
    val fields = scala.collection.mutable.Set.empty[String]
    root.fieldNames().forEachRemaining(f => fields += f)
    assert(fields == Set("action", "schema_dir", "n_queries", "n_failed",
      "queries", "commit", "ts"), fields)
    val q = root.path("queries")
    assert(q.path("fine").asText.matches("ok:3:[0-9.]+s"), q)
    assert(q.path("throws").asText ==
      "error: IllegalStateException: bad cell a\u0000b\u001b[0m", q)
    assert(q.path("over_bound").asText.matches("slow:2:[0-9.]+s>bound:1.0E-6"), q)
  }

  test("Scaling.run: a failed reading records -1 and fails the verdict") {
    // the one timed loop of the three scaling gates: a query that throws
    // must reach the artifact as -1 on small, large and ratio, and must
    // fail the run, as ScalingSpec requires of every committed artifact
    val linear: graft.tools.Sweep.QueryFn =
      (s, d) => s.range(if (d == "small") 1000L else 10000L).toDF("a")
    val queries: Seq[(String, graft.tools.Sweep.QueryFn)] = Seq(
      "linear" -> linear,
      "throws" -> ((_, _) => throw new IllegalStateException("bad plan")))
    val (json, ok) = graft.tools.Scaling.run(spark, "probe", "small", "large",
      10.0, queries)
    assert(!ok, "a -1 reading must fail the run")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val fields = scala.collection.mutable.Set.empty[String]
    root.fieldNames().forEachRemaining(f => fields += f)
    assert(fields == Set("action", "data_ratio", "n_queries", "n_flagged",
      "queries", "commit", "ts"), fields)
    assert(root.path("n_queries").asInt(-1) == 2)
    assert(root.path("n_flagged").asInt(-1) == 0)
    assert(root.path("data_ratio").asDouble == 10.0)
    val q = root.path("queries")
    Seq("small", "large", "ratio").foreach { k =>
      assert(q.path("throws").path(k).asDouble == -1.0, q)
      assert(q.path("linear").path(k).asDouble >= 0, q)
    }
    // the same loop without the failing query passes
    assert(graft.tools.Scaling.run(spark, "probe", "small", "large", 10.0,
      Seq("linear" -> linear))._2)
  }

  test("HugeExec.corrupt inflates the advertised columns, deterministically") {
    val s = spark
    import s.implicits._
    val emb = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(j => (i + j).toFloat), i.toInt % 3))
      .toDF("vec_id", "embedding", "label")
    val c1 = graft.tools.Sweep.corruptHuge(emb, "embeddings").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).length)).sortBy(_._1)
    val c2 = graft.tools.Sweep.corruptHuge(emb, "embeddings").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).length)).sortBy(_._1)
    assert(c1.toList == c2.toList, "corruption mask must be deterministic")
    val padded = c1.filter(_._2 == 4096)
    assert(padded.nonEmpty, "no embedding padded to 4096 in 64 rows")
    assert(c1.count(_._2 == 8) > padded.length, "most rows must stay nominal")
    // documents: text inflated to >= target on masked rows only
    val docs = (0L until 64L).map(i => (i, s"doc body $i", "en"))
      .toDF("doc_id", "text", "lang")
    val lens = graft.tools.Sweep.corruptHuge(docs, "documents").collect()
      .map(r => r.getString(1).length)
    assert(lens.exists(_ >= 500000), "no 500KB doc in 64 rows")
    assert(lens.count(_ < 100) > lens.count(_ >= 500000), "most docs nominal")
    // events: deep-nested props still parse as JSON (depth 800 is
    // under Jackson's nesting cap) and the original key reads null
    val ev = (0L until 64L).map(i => (i, i % 7, s"""{"k":$i}"""))
      .toDF("event_id", "user_id", "props")
    val deep = graft.tools.Sweep.corruptHuge(ev, "events")
      .filter(length(col("props")) > 1000)
    assert(deep.count() > 0, "no deep-nested props in 64 rows")
    val parsed = deep.select(
      get_json_object(col("props"), "$.d").isNotNull.as("hasD"),
      get_json_object(col("props"), "$.k").isNull.as("noK")).collect()
    assert(parsed.forall(r => r.getBoolean(0) && r.getBoolean(1)),
      "800-deep JSON must parse with $.d present and $.k absent")
  }
}
