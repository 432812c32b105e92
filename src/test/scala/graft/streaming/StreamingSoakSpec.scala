package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{count, lit, sum}
import org.apache.spark.sql.streaming.OutputMode
import scala.jdk.CollectionConverters._

/** Streaming soak (round-11 verdict #8): the CEP NFA and the
  * allowedLateness re-fire machine under the RocksDB state store with
  * kill/restart mid-stream — CheckpointSpec proves each operator
  * recovers once under the default (HDFS-backed in-memory) provider;
  * this suite composes RESTART × ROCKSDB × MULTI-CYCLE, the
  * production configuration a long-lived 100 TB streaming job
  * actually runs in (executor loss and redeploys are routine; state
  * larger than heap forces RocksDB).
  */
class StreamingSoakSpec extends SparkSpec {

  private def withRocksDB(f: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key, "")
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f
    finally if (prev.nonEmpty) spark.conf.set(key, prev)
    else spark.conf.unset(key)
  }

  test("NFA emits each match EXACTLY ONCE across two kill/restart cycles (RocksDB)") {
    withRocksDB {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      import SeqPattern._
      val ckpt = graft.TestSpark.tempDir("graft-soak-ckpt")
      val steps = Seq(Step("a", Set("A")), Step("b", Set("B")),
        Step("c", Set("C")))
      val input = MemoryStream[KeyedEvent]
      def stream = SeqPattern.detectOrdered(
        input.toDS().withWatermark("ts", "5 seconds").as[KeyedEvent],
        steps, withinMs = 600000L, strict = false)
      val out = StreamingSoakSpec.matches
      out.clear()
      def start() = stream.writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[MatchOut], _: Long) =>
          b.collect().foreach(m => out.add((m.key, m.values.toList)))
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      def feed(q: org.apache.spark.sql.streaming.StreamingQuery,
               es: KeyedEvent*): Unit =
        es.foreach { e => input.addData(e); q.processAllAvailable() }

      // cycle 1: key 7 completes and matures BEFORE the first kill;
      // key 8 has only its A consumed (a live partial in RocksDB)
      val q1 = start()
      try feed(q1,
        KeyedEvent(7L, ts(1000L), "A", 1.0),
        KeyedEvent(8L, ts(2000L), "A", 10.0),
        KeyedEvent(7L, ts(3000L), "B", 2.0),
        KeyedEvent(7L, ts(4000L), "C", 3.0),
        KeyedEvent(7L, ts(30000L), "N", 0.0),
        KeyedEvent(8L, ts(30000L), "N", 0.0),
        KeyedEvent(7L, ts(31000L), "N", 0.0))
      finally q1.stop()
      assert(out.toArray.toList == List((7L, List(1.0, 2.0, 3.0))),
        s"pre-kill match wrong: ${out.toArray.toList}")

      // cycle 2: key 8's B arrives, still no match — then kill again.
      // Key 7's completed match must NOT re-emit on recovery.
      val q2 = start()
      try feed(q2,
        KeyedEvent(8L, ts(32000L), "B", 20.0),
        KeyedEvent(8L, ts(40000L), "N", 0.0))
      finally q2.stop()
      assert(out.toArray.toList == List((7L, List(1.0, 2.0, 3.0))),
        s"restart re-emitted or fabricated a match: ${out.toArray.toList}")

      // cycle 3: the C completing a partial that SPANS BOTH restarts
      val q3 = start()
      try feed(q3,
        KeyedEvent(8L, ts(41000L), "C", 30.0),
        KeyedEvent(8L, ts(90000L), "N", 0.0),
        KeyedEvent(8L, ts(91000L), "N", 0.0))
      finally q3.stop()
      assert(out.toArray.toList ==
        List((7L, List(1.0, 2.0, 3.0)), (8L, List(10.0, 20.0, 30.0))),
        s"match spanning two restarts must emit exactly once: ${out.toArray.toList}")
    }
  }

  test("changelog retraction stream survives kill/restart without re-baselining (RocksDB)") {
    // The rel_retract_log reconstruction (Changelog.attach) as a
    // LONG-LIVED stream: the snapshot diff must roll forward across
    // restarts — a lost/ignored snapshot would re-emit +I for every
    // key after recovery (re-baselining), poisoning every downstream
    // retract-aware consumer. Three query incarnations over one
    // checkpoint + snapshot; op sequences asserted per key.
    withRocksDB {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val ckpt = graft.TestSpark.tempDir("graft-soak-cl-ckpt")
      val snap = graft.TestSpark.tempDir("graft-soak-cl") + "/snap"
      val clog = graft.TestSpark.tempDir("graft-soak-cl") + "/clog"
      val input = MemoryStream[KeyedEvent]
      def start() = Changelog.attach(
          input.toDS().groupBy("key")
            .agg(count(lit(1)).as("cnt"), sum("value").as("sv")),
          Seq("key"), snap, clog)
        .option("checkpointLocation", ckpt).start()
      def feed(q: org.apache.spark.sql.streaming.StreamingQuery,
               es: KeyedEvent*): Unit =
        es.foreach { e => input.addData(e); q.processAllAvailable() }

      // cycle 1: two inserts, then an update of key 1
      val q1 = start()
      try feed(q1,
        KeyedEvent(1L, ts(1000L), "e", 1.0),
        KeyedEvent(2L, ts(2000L), "e", 10.0),
        KeyedEvent(1L, ts(3000L), "e", 2.0))
      finally q1.stop()

      // cycle 2: key 2 updates (must be -U/+U, NOT a re-baselined +I)
      // and a brand-new key 3 inserts
      val q2 = start()
      try feed(q2,
        KeyedEvent(2L, ts(4000L), "e", 20.0),
        KeyedEvent(3L, ts(5000L), "e", 100.0))
      finally q2.stop()

      // cycle 3: key 1 updates again after a second restart
      val q3 = start()
      try feed(q3, KeyedEvent(1L, ts(6000L), "e", 3.0))
      finally q3.stop()

      // order within a batch is retract-before-upsert by CONVENTION
      // (the reference prints -U before +U); the parquet rows carry no
      // intra-batch order, so impose it by op rank when reading back
      val log = s.read.parquet(clog)
        .select("batch_id", "op", "key", "cnt", "sv")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getDouble(4)))
        .sortBy(t => (t._1, if (t._2 == "-U") 0 else 1))
        .map(t => (t._2, t._3, t._4, t._5)).toList
      def opsOf(k: Long) = log.filter(_._2 == k).map(_._1)
      assert(opsOf(1L) == List("+I", "-U", "+U", "-U", "+U"),
        s"key 1 op sequence across two restarts: $log")
      assert(opsOf(2L) == List("+I", "-U", "+U"),
        s"key 2 must update (not re-insert) after restart: $log")
      assert(opsOf(3L) == List("+I"), s"key 3 single insert: $log")
      // retract pairs carry the right values: key 2's -U retracts
      // (1, 10.0), its +U asserts (2, 30.0)
      assert(log.contains(("-U", 2L, 1L, 10.0)) &&
        log.contains(("+U", 2L, 2L, 30.0)), s"key 2 retract pair: $log")
      assert(log.contains(("-U", 1L, 2L, 3.0)) &&
        log.contains(("+U", 1L, 3L, 6.0)), s"key 1 final retract pair: $log")
      // the rolled-forward snapshot IS the true aggregate
      val snapRows = s.read.parquet(snap).orderBy("key")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
      assert(snapRows == List((1L, 3L, 6.0), (2L, 2L, 30.0), (3L, 1L, 100.0)),
        s"snapshot after three cycles: $snapRows")
    }
  }

  test("complete-mode changelog emits -D drop-outs across kill/restart (RocksDB)") {
    // attachComplete (the top-N flavor) got processBatch's persist fix
    // in r12 but not its soak (r12 verdict #3): a key falling out of a
    // complete-mode top-2 must emit -D with its LAST KNOWN values, a
    // deleted key re-entering later must +I (not +U against a stale
    // snapshot), and both must hold when the query is killed and
    // restarted between the transitions — three incarnations over one
    // checkpoint + snapshot.
    withRocksDB {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val ckpt = graft.TestSpark.tempDir("graft-soak-cm-ckpt")
      val base = graft.TestSpark.tempDir("graft-soak-cm")
      val snap = base + "/snap"
      val clog = base + "/clog"
      val input = MemoryStream[KeyedEvent]
      def start() = Changelog.attachComplete(
          input.toDS().groupBy("key")
            .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
            .orderBy(org.apache.spark.sql.functions.col("sv").desc)
            .limit(2),
          Seq("key"), snap, clog)
        .option("checkpointLocation", ckpt).start()
      def feed(q: org.apache.spark.sql.streaming.StreamingQuery,
               es: KeyedEvent*): Unit =
        es.foreach { e => input.addData(e); q.processAllAvailable() }

      // cycle 1: keys 1,2 fill the top-2; key 3 then knocks key 1 out
      val q1 = start()
      try {
        feed(q1, KeyedEvent(1L, ts(1000L), "e", 10.0))
        feed(q1, KeyedEvent(2L, ts(2000L), "e", 20.0))
        feed(q1, KeyedEvent(3L, ts(3000L), "e", 30.0))
      } finally q1.stop()

      // cycle 2 (restart): key 1 re-enters at 35 — must be +I (it was
      // deleted), and key 2 drops out — must be -D with (1, 20.0)
      val q2 = start()
      try feed(q2, KeyedEvent(1L, ts(4000L), "e", 25.0))
      finally q2.stop()

      // cycle 3 (second restart): key 3 grows 30 -> 40 in place — a
      // plain -U/+U retract pair, no spurious -D for untouched key 1
      val q3 = start()
      try feed(q3, KeyedEvent(3L, ts(5000L), "e", 10.0))
      finally q3.stop()

      val log = s.read.parquet(clog)
        .select("batch_id", "op", "key", "cnt", "sv")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getDouble(4)))
        .sortBy(t => (t._1, if (t._2 == "-U") 0 else 1))
        .map(t => (t._2, t._3, t._4, t._5)).toList
      def opsOf(k: Long) = log.filter(_._2 == k).map(_._1)
      assert(opsOf(1L) == List("+I", "-D", "+I"),
        s"key 1 must delete on drop-out and RE-INSERT on re-entry: $log")
      assert(opsOf(2L) == List("+I", "-D"),
        s"key 2 must -D across the restart, not re-baseline: $log")
      assert(opsOf(3L) == List("+I", "-U", "+U"),
        s"key 3 in-place growth is a retract pair, never -D: $log")
      // -D rows carry the LAST KNOWN values at deletion time
      assert(log.contains(("-D", 1L, 1L, 10.0)),
        s"key 1 drop-out must retract (1, 10.0): $log")
      assert(log.contains(("-D", 2L, 1L, 20.0)),
        s"key 2 drop-out must retract (1, 20.0): $log")
      assert(log.contains(("-U", 3L, 1L, 30.0)) &&
        log.contains(("+U", 3L, 2L, 40.0)), s"key 3 retract pair: $log")
      // the snapshot IS the final top-2 (deleted keys truly gone)
      val snapRows = s.read.parquet(snap).orderBy("key")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
      assert(snapRows == List((1L, 2L, 35.0), (3L, 2L, 40.0)),
        s"snapshot after three cycles must be the live top-2: $snapRows")
    }
  }

  test("allowedLateness re-fire machine recovers firings + watermark (RocksDB)") {
    withRocksDB {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val B = 86400000L // epoch-adjacent windows distort the initial WM
      val ckpt = graft.TestSpark.tempDir("graft-soak-late-ckpt")
      val input = MemoryStream[KeyedEvent]
      def stream = LateWindow.tumbling(input.toDS(),
        windowMs = 10000L, delayMs = 5000L, latenessMs = 10000L)
      val out = StreamingSoakSpec.lateRows
      out.clear()
      def start() = stream.writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[LateWindowOut], _: Long) =>
          b.collect().foreach(o =>
            out.add((o.key, o.windowStart.getTime - B, o.cnt, o.sum,
              o.firing, o.late)))
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update()).start()

      // pre-kill: two accumulations + the on-time firing of [0,10s)
      val q1 = start()
      try {
        input.addData(KeyedEvent(1L, ts(B + 1000L), "e", 10),
          KeyedEvent(1L, ts(B + 2000L), "e", 20))
        q1.processAllAvailable()
        input.addData(KeyedEvent(1L, ts(B + 16000L), "e", 1))
        q1.processAllAvailable()
        assert(out.toArray.toList == List((1L, 0L, 2L, 30.0, 1, false)),
          s"on-time firing before the kill: ${out.toArray.toList}")
      } finally q1.stop()

      // post-restart: an allowed-late element must RE-FIRE with the
      // recovered aggregate (cnt=2, sum=30, firings=1) — and the
      // recovered watermark must still admit it (sparkWM = 1s < 3s)
      val q2 = start()
      try {
        input.addData(KeyedEvent(1L, ts(B + 3000L), "e", 5))
        q2.processAllAvailable()
        assert(out.toArray.toList == List(
          (1L, 0L, 2L, 30.0, 1, false), (1L, 0L, 3L, 35.0, 2, true)),
          s"late re-fire lost recovered state: ${out.toArray.toList}")
        // advance past end + L: [0,10s) purges silently; [10,20s)
        // hits its on-time point with the 16s event
        input.addData(KeyedEvent(1L, ts(B + 26000L), "e", 2))
        q2.processAllAvailable()
        val got = out.asScala.toList
        assert(got.count(_._2 == 0L) == 2, s"purge must not re-fire: $got")
        assert(got.contains((1L, 10000L, 1L, 1.0, 1, false)),
          s"window [10,20s) on-time firing after restart: $got")
        // too-late row against the recovered+advanced watermark: dropped
        input.addData(KeyedEvent(1L, ts(B + 4000L), "e", 99))
        q2.processAllAvailable()
        assert(out.asScala.toList == got,
          s"too-late row revived a purged window: ${out.toArray.toList}")
      } finally q2.stop()
    }
  }

  test("NFA state rows plateau under key churn (RocksDB numRowsTotal)") {
    // r13 verdict #2, streaming half: the flood tests bound the
    // per-key partial SET; this reads the state-store row count off
    // stateOperators across batches while fresh keys keep arriving.
    // Every batch brings a NEW key (12 total) whose partials expire
    // one horizon later — detectOrdered's EventTimeTimeout timer must
    // fire for the now-quiet key and state.remove() it, so the store
    // holds only the keys whose horizon the watermark has not passed,
    // never all keys ever seen. A removal bug shows rows ~= batch
    // number; the gate allows <= 3 (current key + removal lagging one
    // watermark update behind).
    withRocksDB {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      import SeqPattern._
      val ckpt = graft.TestSpark.tempDir("graft-soak-churn")
      val steps = Seq(Step("a", Set("A")), Step("b", Set("B")).any,
        Step("c", Set("C")))
      val input = MemoryStream[KeyedEvent]
      val out = StreamingSoakSpec.matches
      out.clear()
      val q = SeqPattern.detectOrdered(
        input.toDS().withWatermark("ts", "5 seconds").as[KeyedEvent],
        steps, withinMs = 30000L, strict = false)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[MatchOut], _: Long) =>
          b.collect().foreach(m => out.add((m.key, m.values.toList)))
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .start()
      def ts(ms: Long) = new java.sql.Timestamp(ms)
      val rowsSeen = scala.collection.mutable.ArrayBuffer.empty[Long]
      try {
        (0 until 12).foreach { k =>
          // (k+1): never anchor at epoch 0 — Spark's late filter drops
          // rows at-or-before the watermark and the INITIAL watermark
          // is 0, so a ts=0 row silently vanishes (SeqPattern scaladoc)
          val base = (k + 1) * 100000L
          val es = KeyedEvent(k.toLong, ts(base), "A", k * 1000.0) +:
            (1 to 20).map(i =>
              KeyedEvent(k.toLong, ts(base + i * 1000L), "B", k * 1000.0 + i)) :+
            KeyedEvent(k.toLong, ts(base + 25000L), "C", k * 1000.0 + 25)
          input.addData(es)
          q.processAllAvailable()
          val p = q.lastProgress
          if (p != null && p.stateOperators.nonEmpty)
            rowsSeen += p.stateOperators.map(_.numRowsTotal).sum
        }
        // quiet advance: push the watermark far past every horizon so
        // the last key's timer fires too
        input.addData(KeyedEvent(99L, ts(2000000L), "N", 0.0))
        q.processAllAvailable()
        input.addData(KeyedEvent(99L, ts(2010000L), "N", 0.0))
        q.processAllAvailable()
        val fin = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        assert(rowsSeen.nonEmpty, "no state-operator progress recorded")
        assert(rowsSeen.max <= 3,
          s"state rows grew with key churn (12 keys fed): $rowsSeen")
        assert(fin <= 1, s"quiet keys left state behind: $fin rows ($rowsSeen)")
        // liveness: the (A, b_i, C) matches emitted — one per branch,
        // the followedByAny subsequence law — so the plateau is not an
        // artifact of a dead pipeline
        assert(out.asScala.count(_._1 == 0L) == 20,
          s"key 0 should emit 20 branch matches: " +
            s"${out.asScala.toList.groupBy(_._1).view.mapValues(_.size).toMap}")
      } finally q.stop()
    }
  }
}

object StreamingSoakSpec {
  /** Driver-side collectors (local mode: executor == driver JVM). */
  val matches =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, List[Double])]()
  val lateRows =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Double, Int, Boolean)]()
}
