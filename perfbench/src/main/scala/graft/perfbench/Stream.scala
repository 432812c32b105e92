package graft.perfbench

import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import graft.streaming.{KeyedEvent, SeqPattern, StatefulOps, StreamPipelines}

/** `stream-keyed`: one seed-derived event stream, offered open-loop at
  * `Rate` events/s over `Keys` keys, fed to three reference apps one
  * after another, each from a fresh checkpoint on the RocksDB state
  * store. Latency runs from the due time of the last event a result
  * depends on to the moment the sink holds the result. */
object Stream {
  val Rate = 100000L
  val Keys = 20000L
  val Provider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  // fraud: a value under SmallMax immediately followed (same key) by one
  // over LargeMin within GapMs of event time
  val SmallMax = 5.0
  val LargeMin = 80.0
  val GapMs = 60000L
  // CEP: A then B then C on one key, strictly contiguous, within WithinMs
  val CepSteps = Seq(SeqPattern.Step("a", Set("A")), SeqPattern.Step("b", Set("B")),
    SeqPattern.Step("c", Set("C")))
  val WithinMs = 30000L
  val CepDelay = "1 second"
  /** Fixed trigger interval. Back-to-back triggers near capacity feed
    * back (a slower trigger reads a bigger batch, which is slower
    * again) and turn small cost changes into large latency swings; a
    * fixed interval above every app's trigger time keeps batch size at
    * rate x interval, so latency is the wait for the next trigger plus
    * a trigger time that moves in proportion to the engine's costs. */
  val TriggerMs = 1000L
  /** Warm-up ends once `WarmTriggers` triggers have run and the last one
    * read no more than the events that fell due while it and the gap
    * before it ran (plus `WarmSlackS`): the start-up backlog is gone. */
  val WarmTriggers = 2
  val WarmSlackS = 0.2
  val WarmMaxMs = 20000L

  val apps: Seq[String] = Seq("clicks", "fraud", "cep")

  final case class Sunk(batch: Long, recvMs: Double, rows: Array[Row])

  final case class Phase(app: String, p: Gen.Params, warmMs: Double, warmEndMs: Double,
                         endMs: Double, progress: Seq[StreamingQueryProgress],
                         sunk: Seq[Sunk], backlogS: Double, genLateMs: Double,
                         processed: Long)

  def run(cfg: Main.Config): Outcome = {
    val notes = ArrayBuffer.empty[String]
    val spans = new Spans
    val s0 = Clock.ms
    val spark = Main.session()
    val s1 = Clock.ms
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", Provider)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism
    val phaseMs = cfg.seconds * 1000.0 / apps.size

    val jobs = if (cfg.trace) Some(new JobListener(spans, Nil)) else None
    val progressListener = jobs.map(new ProgressSpans(spans, _))
    jobs.foreach(sc.addSparkListener)
    progressListener.foreach(spark.streams.addListener)

    val phases = apps.map { app =>
      runPhase(spark, cfg, app, phaseMs, progressListener, notes)
    }
    jobs.foreach(_.drain(sc))
    jobs.foreach(sc.removeSparkListener)
    progressListener.foreach(spark.streams.removeListener)
    val held = Batch.heldBytes(spark)
    spark.stop()

    // ---- correctness and latency per app
    var attempted = 0L
    var failed = 0L
    val lat = ArrayBuffer.empty[Seq[Double]]
    val layers = ArrayBuffer.empty[Metric]
    var rowsSum = 0.0
    var trigMsSum = 0.0
    var measuredMs = 0.0
    var triggers = 0
    phases.foreach { ph =>
      val c = check(ph)
      attempted += c.attempted
      failed += c.failed
      lat += c.latMs
      c.problems.take(5).foreach(pr => System.err.println(s"[perfbench] ${ph.app}: $pr"))
      val measured = ph.progress.filter(pr => startMs(pr) >= ph.warmEndMs && startMs(pr) < ph.endMs)
      rowsSum += measured.map(_.numInputRows.toDouble).sum
      trigMsSum += measured.map(d(_, "triggerExecution")).sum
      measuredMs += ph.endMs - ph.warmEndMs
      triggers += measured.size
      notes += f"${ph.app}: warm-up ${ph.warmMs / 1000}%.3f s, measured ${(ph.endMs - ph.warmEndMs) / 1000}%.3f s, ${measured.size} triggers, ${c.latMs.size} results timed, ${c.attempted} checked, ${c.failed} wrong, backlog ${ph.backlogS}%.3f s"
      layers ++= appLayers(ph, measured, c.latMs)
    }
    // set-up: JVM start to a ready session, plus each app's warm-up
    val setupS = (s1 - Main.jvmStartMs + phases.map(_.warmMs).sum) / 1000
    notes += s"provenance ${Main.provenance(cfg, Seq("cores" -> cores.toString, "state_store" -> Provider,
      "offered_rate_eps" -> Rate.toString, "keys" -> Keys.toString, "event_time_speedup" -> Gen.Speedup.toString))
      .map { case (k, v) => s"$k=$v" }.mkString(" ")}"
    notes += f"set-up: jvm start to main ${(s0 - Main.jvmStartMs) / 1000}%.3f s, session ${(s1 - s0) / 1000}%.3f s, warm-ups ${phases.map(p => f"${p.warmMs / 1000}%.3f").mkString(",")} s"

    val endToEnd = Seq(
      Metric("setup_s", setupS, "s", 1),
      // each app weighs the same, whatever its result count: a pooled
      // quantile would jump between the apps' distributions as their
      // shares move with the seed
      Metric("latency_ms", lat.map(Stats.quantile(_, 0.5)).sum / lat.size, "ms", lat.map(_.size).sum),
      Metric("latency_p95_ms", lat.map(Stats.quantile(_, 0.95)).sum / lat.size, "ms", lat.map(_.size).sum))
    layers += Metric("throughput", rowsSum / (trigMsSum / 1000), "1/s", triggers)

    layers += Metric("core.session_s", (s1 - s0) / 1000, "s", 1)
    layers += Metric("core.tables_s", 0.0, "s", 0)
    layers += Metric("core.warm_s", phases.map(_.warmMs).sum / 1000, "s", phases.size)
    layers += Metric("storage.held_bytes", held.toDouble, "bytes", 1)
    jobs.foreach { l =>
      // the jobs of exactly the measured triggers
      val measured = phases.flatMap(ph => ph.progress.filter(pr =>
        startMs(pr) >= ph.warmEndMs && startMs(pr) < ph.endMs))
      val ts = measured.flatMap(pr => l.tallyOf(l.batchSpan(pr.id.toString, pr.batchId)))
      def s(g: Tally => Double) = ts.map(g).sum
      val addBatchS = measured.map(d(_, "addBatch")).sum / 1000
      layers += Metric("exec.action_s", addBatchS, "s", 1)
      layers += Metric("exec.task_run_s", s(_.runMs) / 1000, "s", 1)
      layers += Metric("exec.task_cpu_s", s(_.cpuNs) / 1e9, "s", 1)
      layers += Metric("exec.gc_s", s(_.gcMs) / 1000, "s", 1)
      layers += Metric("exec.busy_ratio", s(_.runMs) / 1000 / (addBatchS * cores), "ratio", 1)
      layers += Metric("scheduler.jobs", s(_.jobs.toDouble), "count", 1)
      layers += Metric("scheduler.stages", s(_.stages.toDouble), "count", 1)
      layers += Metric("scheduler.tasks", s(_.tasks.toDouble), "count", 1)
      layers += Metric("scheduler.tasks_per_stage", s(_.tasks.toDouble) / math.max(1.0, s(_.stages.toDouble)), "ratio", 1)
      layers += Metric("scheduler.nontask_s", (addBatchS * 1000 - ts.map(t => Spans.unionMs(t.taskIntervals.toSeq)).sum) / 1000, "s", 1)
      layers += Metric("io.input_bytes", s(_.inBytes.toDouble), "bytes", 1)
      layers += Metric("io.input_rows", s(_.inRows.toDouble), "count", 1)
      layers += Metric("io.corpus_passes", 0.0, "count", 1)
      layers += Metric("shuffle.read_bytes", s(_.shuffleRead.toDouble), "bytes", 1)
      layers += Metric("shuffle.write_bytes", s(_.shuffleWrite.toDouble), "bytes", 1)
      layers += Metric("shuffle.spill_bytes", s(_.spill.toDouble), "bytes", 1)
      val cbMs = (l.callbackNs + progressListener.map(_.callbackNs).getOrElse(0L)) / 1e6
      layers += Metric("trace.callback_ms", cbMs, "ms", 1)
      layers += Metric("trace.overhead_pct", cbMs / measuredMs * 100, "%", 1)
      notes += Main.writeTrace(cfg, spans, Seq("cores" -> cores.toString))
    }
    Outcome(attempted, failed, endToEnd, layers.toSeq, notes.toSeq)
  }

  private def startMs(pr: StreamingQueryProgress): Double =
    java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble
  private def d(pr: StreamingQueryProgress, k: String): Double =
    Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  private def endOffset(pr: StreamingQueryProgress): Long =
    if (pr.sources.isEmpty || pr.sources(0).endOffset == null) 0L
    else pr.sources(0).endOffset.trim.toLong
  private def watermarkUs(pr: StreamingQueryProgress): Option[Long] =
    Option(pr.eventTime.get("watermark")).map { w =>
      val i = java.time.Instant.parse(w)
      i.getEpochSecond * 1000000L + i.getNano / 1000
    }

  private def build(app: String, in: DataFrame): DataFrame = app match {
    case "clicks" => StreamPipelines.clickCount(in, "ts", "kind")
    case "fraud" => StatefulOps.fraudDetector(KeyedEvent.ingest(in), SmallMax, LargeMin, GapMs).toDF()
    case "cep" => SeqPattern.detectOrdered(KeyedEvent.ingest(in.withWatermark("ts", CepDelay)),
      CepSteps, WithinMs, strict = true).toDF()
  }

  private def runPhase(spark: SparkSession, cfg: Main.Config, app: String, phaseMs: Double,
                       progress: Option[ProgressSpans], notes: ArrayBuffer[String]): Phase = {
    val id = s"$app-${cfg.seed}-${System.nanoTime()}"
    val st = new ClockState
    ClockSource.states.put(id, st)
    val ckpt = java.nio.file.Paths.get(cfg.workDir, "checkpoints", id).toString
    val sunk = new java.util.concurrent.ConcurrentLinkedQueue[Sunk]()
    val t0 = Clock.ms
    val p = Gen.Params(Rate, Keys, cfg.seed, System.currentTimeMillis())
    val in = spark.readStream.format(classOf[ClockSource].getName)
      .option("rate", Rate).option("keys", Keys).option("seed", cfg.seed)
      .option("originMs", p.originMs).option("id", id)
      .option("partitions", spark.sparkContext.defaultParallelism).load()
    val q: StreamingQuery = build(app, in).writeStream
      .queryName(id).outputMode("append").option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch { (b: Dataset[Row], batch: Long) =>
        val rows = b.collect()
        sunk.add(Sunk(batch, Clock.ms, rows))
        ()
      }.start()
    progress.foreach(_.app.put(q.id, app))
    def lastEnd: Long = Option(q.lastProgress).map(endOffset).getOrElse(0L)
    // warm-up: until codegen has settled and the start-up backlog is gone
    var warmEnd = Double.NaN
    while (warmEnd.isNaN) {
      Thread.sleep(5)
      val recent = q.recentProgress
      val steady = recent.length >= WarmTriggers && {
        val Array(prev, last) = recent.takeRight(2)
        val spanS = (startMs(last) + d(last, "triggerExecution") - startMs(prev) - d(prev, "triggerExecution")) / 1000
        last.numInputRows <= Rate * (spanS + WarmSlackS)
      }
      if (steady || Clock.ms - t0 > WarmMaxMs) {
        if (!steady) notes += s"$app: warm-up hit its ${WarmMaxMs / 1000} s limit"
        warmEnd = Clock.ms
      }
      if (q.exception.isDefined) throw q.exception.get
    }
    while (Clock.ms < warmEnd + phaseMs) {
      Thread.sleep(5)
      if (q.exception.isDefined) throw q.exception.get
    }
    val endMs = Clock.ms
    st.cap = p.dueCount(System.currentTimeMillis())
    val backlogS = (st.cap - lastEnd).toDouble / Rate
    q.processAllAvailable()
    q.stop()
    val prog = q.recentProgress.toSeq
    Phase(app, p, warmEnd - t0, warmEnd, endMs, prog,
      scala.jdk.CollectionConverters.CollectionHasAsScala(sunk).asScala.toSeq.sortBy(_.batch),
      backlogS, st.maxLateMs, prog.map(endOffset).foldLeft(0L)(math.max))
  }

  final case class Check(attempted: Long, failed: Long, latMs: Seq[Double], problems: Seq[String])

  /** Compares an app's sink output with a recomputation over exactly the
    * events the engine processed, and collects the latencies of results
    * whose last event fell due inside the measured window. */
  def check(ph: Phase): Check = {
    val p = ph.p
    val n = ph.processed
    val problems = ArrayBuffer.empty[String]
    val wmUs = ph.progress.flatMap(watermarkUs).foldLeft(Long.MinValue)(math.max)
    def inWindow(dueMs: Double) = dueMs >= ph.warmEndMs && dueMs < ph.endMs
    val lat = ArrayBuffer.empty[Double]
    def micros(t: Timestamp) = SeqPattern.micros(t)
    ph.app match {
      case "clicks" =>
        val windowUs = 15000000L
        // (window start, page) -> (count, index of the last event)
        val exp = scala.collection.mutable.HashMap.empty[(Long, String), (Long, Long)]
        var i = 0L
        while (i < n) {
          val ts = p.tsUs(i)
          val k = (ts - Math.floorMod(ts, windowUs), p.kind(i))
          val (c, _) = exp.getOrElse(k, (0L, -1L))
          exp(k) = (c + 1, i)
          i += 1
        }
        val got = ph.sunk.flatMap(s => s.rows.map(r => ((micros(r.getTimestamp(0)), r.getString(1)), (r.getLong(2), s.recvMs))))
        val dup = got.groupBy(_._1).count(_._2.size > 1)
        if (dup > 0) problems += s"$dup windows emitted twice"
        var bad = dup.toLong
        got.foreach { case (k, (cnt, recv)) =>
          exp.get(k) match {
            case Some((c, last)) if c == cnt =>
              if (inWindow(p.dueMs(last))) lat += recv - p.dueMs(last)
            case other => bad += 1; problems += s"window $k emitted $cnt, expected $other"
          }
        }
        val gotKeys = got.map(_._1).toSet
        val missing = exp.keys.filter(k => k._1 + windowUs <= wmUs && !gotKeys.contains(k))
        missing.take(3).foreach(k => problems += s"closed window $k not emitted")
        Check(gotKeys.size + missing.size, bad + missing.size, lat.toSeq, problems.toSeq)

      case "fraud" =>
        val pending = new Array[Long](Keys.toInt).map(_ => -1L)
        val exp = ArrayBuffer.empty[(Long, Long, Long, Double)]
        var i = 0L
        while (i < n) {
          val k = p.key(i).toInt
          val tsUs = p.tsUs(i)
          val tsMs = Math.floorDiv(tsUs, 1000L)
          val v = p.value(i)
          if (pending(k) >= 0) {
            if (v > LargeMin && tsMs - pending(k) <= GapMs) exp += ((k.toLong, pending(k) * 1000, tsUs, v))
            pending(k) = -1L
          }
          if (v < SmallMax) pending(k) = tsMs
          i += 1
        }
        val got = ph.sunk.flatMap(s => s.rows.map(r =>
          ((r.getLong(0), micros(r.getTimestamp(2)), micros(r.getTimestamp(3)), r.getDouble(4)), s.recvMs)))
        compare(exp.toSeq, got)(_ => true, t => p.dueOfTs(t._3), inWindow, lat, problems)

      case "cep" =>
        val byKey = Array.fill(Keys.toInt)(List.empty[KeyedEvent])
        var i = n - 1
        while (i >= 0) {
          val k = p.key(i).toInt
          byKey(k) = KeyedEvent(k, SeqPattern.toTimestamp(p.tsUs(i)), p.kind(i), p.value(i)) :: byKey(k)
          i -= 1
        }
        val exp = byKey.indices.flatMap { k =>
          SeqPattern.runPure(byKey(k), CepSteps, WithinMs, strict = true)
            .map(m => (k.toLong, micros(m.startTs), micros(m.endTs), m.values.sum))
        }
        val got = ph.sunk.flatMap(s => s.rows.map(r =>
          ((r.getLong(0), micros(r.getTimestamp(1)), micros(r.getTimestamp(2)),
            r.getSeq[Double](3).sum), s.recvMs)))
        // a match completes once the watermark passes its last event;
        // keep a margin for the event-time timer's one-ms offsets
        compare(exp, got)(t => t._3 <= wmUs - 100000L, t => p.dueOfTs(t._3), inWindow, lat, problems)
    }
  }

  /** Exact multiset comparison: every emitted result must be expected,
    * and every expected result that `required` says must have been
    * emitted by now was. */
  private def compare[T](exp: Seq[T], got: Seq[(T, Double)])(required: T => Boolean,
                         due: T => Double, inWindow: Double => Boolean,
                         lat: ArrayBuffer[Double], problems: ArrayBuffer[String]): Check = {
    val expCount = exp.groupBy(identity).map { case (k, v) => k -> v.size }
    val gotCount = got.groupBy(_._1).map { case (k, v) => k -> v.size }
    var bad = 0L
    gotCount.foreach { case (k, c) =>
      if (expCount.getOrElse(k, 0) < c) {
        bad += c - expCount.getOrElse(k, 0); problems += s"unexpected result $k (x$c)"
      }
    }
    val missing = expCount.toSeq.filter { case (k, c) => required(k) && gotCount.getOrElse(k, 0) < c }
    missing.take(3).foreach(m => problems += s"missing result ${m._1}")
    bad += missing.map { case (k, c) => c - gotCount.getOrElse(k, 0) }.sum
    got.foreach { case (t, recv) => val du = due(t); if (inWindow(du)) lat += recv - du }
    val attempted = (gotCount.keySet ++ expCount.keySet.filter(required)).size.toLong
    Check(math.max(attempted, 1L), bad, lat.toSeq, problems.toSeq)
  }

  private def appLayers(ph: Phase, measured: Seq[StreamingQueryProgress], lat: Seq[Double]): Seq[Metric] = {
    val a = ph.app
    val n = measured.size
    def p50(k: String) = Stats.median(measured.map(d(_, k)))
    def ops = measured.flatMap(_.stateOperators.headOption)
    val commit = ops.map(o => scala.jdk.CollectionConverters.MapHasAsScala(o.customMetrics).asScala
      .collect { case (k, v) if k.startsWith("rocksdbCommit") && k.contains("Latency") => v.doubleValue }.sum)
    val wmLag = measured.flatMap(pr => watermarkUs(pr).filter(_ > 0).map(w => startMs(pr) - ph.p.dueOfTs(w)))
    Seq(
      Metric(s"streaming.$a.latency_p50_ms", Stats.quantile(lat, 0.5), "ms", lat.size),
      Metric(s"streaming.$a.latency_p99_ms", Stats.quantile(lat, 0.99), "ms", lat.size),
      Metric(s"streaming.$a.trigger_p50_ms", p50("triggerExecution"), "ms", n),
      Metric(s"streaming.$a.trigger_p99_ms", Stats.quantile(measured.map(d(_, "triggerExecution")), 0.99), "ms", n),
      Metric(s"streaming.$a.addBatch_ms", p50("addBatch"), "ms", n),
      Metric(s"streaming.$a.queryPlanning_ms", p50("queryPlanning"), "ms", n),
      Metric(s"streaming.$a.walCommit_ms", p50("walCommit"), "ms", n),
      Metric(s"streaming.$a.commitOffsets_ms", p50("commitOffsets"), "ms", n),
      Metric(s"streaming.$a.empty_triggers", measured.count(_.numInputRows == 0).toDouble, "count", n),
      Metric(s"streaming.$a.watermark_lag_ms", if (wmLag.isEmpty) 0.0 else Stats.median(wmLag), "ms", wmLag.size),
      Metric(s"state.$a.commit_ms", if (commit.isEmpty) 0.0 else Stats.median(commit), "ms", commit.size),
      Metric(s"state.$a.rows", ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count", 1),
      Metric(s"state.$a.memory_bytes", ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes", 1),
      Metric(s"state.$a.dropped_by_watermark", ops.map(_.numRowsDroppedByWatermark.toDouble).sum, "count", n),
      Metric(s"sources.$a.latestOffset_ms", p50("latestOffset"), "ms", n),
      Metric(s"sources.$a.backlog_s", ph.backlogS, "s", 1),
      Metric(s"sources.$a.gen_late_ms", ph.genLateMs, "ms", 1))
  }
}

/** Traced stream runs: one span per trigger with its duration parts as
  * children, laid end to end in the order Spark runs them. The trigger
  * span is its batch's span, so the batch's Spark jobs are its children
  * too. */
final class ProgressSpans(spans: Spans, jobs: JobListener) extends StreamingQueryListener {
  val app = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
  @volatile var callbackNs = 0L
  private val parts = Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val t0 = System.nanoTime()
    val pr = e.progress
    val start = java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble
    val total = Option(pr.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
    val id = jobs.batchSpan(pr.id.toString, pr.batchId)
    spans.add(Span(id, -1, id, "trigger", start, start + total,
      Map("app" -> Option(app.get(pr.id)).getOrElse("?"), "batch" -> pr.batchId.toString,
        "rows" -> pr.numInputRows.toString)))
    var at = start
    parts.foreach { k =>
      Option(pr.durationMs.get(k)).map(_.doubleValue).foreach { v =>
        spans.add(Span(spans.newId(), id, id, s"trigger.$k", at, at + v)); at += v
      }
    }
    callbackNs += System.nanoTime() - t0
  }
}
