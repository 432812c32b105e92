package graft.streaming

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Checkpoint/recovery (§2.11: checkpointing + exactly-once state) and
  * stream-static join (broadcast-state pattern,
  * BroadcastProcessFuncApp.scala:8-38): the engine-side guarantees the
  * reference gets from Flink checkpoints + broadcast state. */
class CheckpointSpec extends SparkSpec {

  test("stateful agg recovers its state from the checkpoint across restarts") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    // (confs for both runs, confs for the run that writes the checkpoint);
    // the restart always runs under the engine's own confs
    val inputs = Seq(
      (Nil, Nil),
      // upgrade: RocksDB state written by Spark's default file manager
      // without changelog checkpointing
      (Seq(provider -> Some(
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")),
        Seq(LocalCheckpointFileManager.ConfKey -> None, changelog -> Some("false"))))
    for (((both, firstOnly), i) <- inputs.zipWithIndex) withConfs(both) {
      val ckpt = java.nio.file.Paths.get(graft.TestSpark.tempDir("graft-ckpt"))
      val input = MemoryStream[KeyedEvent]
      val agg = input.toDS().groupBy("key")
        .agg(count(lit(1)).as("cnt"), sum("value").as("sum_v"))
      def start(name: String) = agg.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt.toString)
        .outputMode(OutputMode.Complete()).start()

      input.addData(KeyedEvent(1L, ts(1000L), "a", 1.0),
        KeyedEvent(1L, ts(2000L), "a", 2.0))
      withConfs(firstOnly) {
        val q1 = start(s"ck1_$i")
        try { q1.processAllAvailable() } finally q1.stop()
      }

      // restart from the same checkpoint: prior state must survive
      input.addData(KeyedEvent(1L, ts(3000L), "a", 4.0))
      val q2 = start(s"ck2_$i")
      try {
        q2.processAllAvailable()
        val row = spark.table(s"ck2_$i").filter(col("key") === 1L).collect().head
        assert(row.getLong(1) == 3L, s"count lost across restart: $row")
        assert(row.getDouble(2) == 7.0)
      } finally q2.stop()
      if (firstOnly.nonEmpty) {
        // the runs really differ: Hadoop's writer leaves .crc files,
        // the engine's manager does not, and only changelog
        // checkpointing writes .changelog files
        val offsets = ckpt.resolve("offsets")
        assert(Files.exists(offsets.resolve(".0.crc")))
        assert(Files.exists(offsets.resolve("1")) && !Files.exists(offsets.resolve(".1.crc")))
        val state = Files.walk(ckpt.resolve("state"))
        try assert(state.iterator().asScala.exists(_.getFileName.toString.endsWith(".changelog")))
        finally state.close()
      }
    }
  }

  /** Set (Some) or unset (None) session confs around `body`. */
  private def withConfs(confs: Seq[(String, Option[String])])(body: => Unit): Unit = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    def set(kvs: Seq[(String, Option[String])]): Unit = kvs.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    set(confs)
    try body finally set(prev)
  }

  test("CEP partial-match state survives a query restart (checkpointed NFA)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import SeqPattern._
    val ckpt = graft.TestSpark.tempDir("graft-cep-ckpt")
    val steps = Seq(Step("a", Set("A")), Step("b", Set("B")))
    val input = MemoryStream[KeyedEvent]
    def stream = SeqPattern.detectOrdered(
      input.toDS().withWatermark("ts", "5 seconds").as[KeyedEvent],
      steps, withinMs = 60000L, strict = false)

    // memory sink can't recover an Append query from a checkpoint;
    // collect through foreachBatch instead (the production restart
    // path — same one StreamPipelines' sinks use)
    val out = CheckpointSpec.cepMatches
    out.clear()
    def start() = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[MatchOut], _: Long) =>
        b.collect().foreach(m => out.add((m.key, m.values.toList)))
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    // half a match before the stop: A consumed, partial in state.
    // The flush event matures it past the watermark so the NFA has
    // actually SEEN the A (not just buffered it) when the query stops.
    input.addData(KeyedEvent(3L, ts(1000L), "A", 1.0))
    input.addData(KeyedEvent(3L, ts(20000L), "N", 0.0))
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(out.isEmpty, "no match should exist yet")

    // restart from the checkpoint; the B completing the pre-restart A
    // arrives only now — the match spans the restart. Each event goes
    // in its own micro-batch: a batch only sees the watermark computed
    // at the END of the previous batch, and a no-data watermark
    // advance does not re-invoke the group function, so the B needs
    // two later batches to mature and drain.
    val q2 = start()
    try {
      Seq(KeyedEvent(3L, ts(21000L), "B", 2.0),
        KeyedEvent(3L, ts(90000L), "N", 0.0),
        KeyedEvent(3L, ts(91000L), "N", 0.0)).foreach { e =>
        input.addData(e); q2.processAllAvailable()
      }
      val got = out.toArray.toList
      assert(got == List((3L, List(1.0, 2.0))),
        s"A-before-restart + B-after-restart must match: $got")
    } finally q2.stop()
  }

  test("funnel stage marks and pending buffer survive a query restart") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val ckpt = graft.TestSpark.tempDir("graft-fun-ckpt")
    val input = MemoryStream[KeyedEvent]
    def stream = StatefulOps.funnelTrack(
      input.toDS().withWatermark("ts", "5 seconds").as[KeyedEvent],
      "signup", "click", "purchase")
    val out = CheckpointSpec.funnelRows
    out.clear()
    def start() = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[FunnelOut], _: Long) =>
        b.collect().foreach(m => out.add((m.key, m.stage)))
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    // stage 1 completes before the stop (matured by the 20s event);
    // the click at 21s is still PENDING (above the watermark) when
    // the query stops — both the t1 mark and the buffered click must
    // come back from the checkpoint.
    input.addData(KeyedEvent(5L, ts(1000L), "signup", 1.0))
    input.addData(KeyedEvent(5L, ts(20000L), "noise", 0.0))
    input.addData(KeyedEvent(5L, ts(21000L), "click", 2.0))
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(out.toArray.toList == List((5L, 1)), s"pre-restart: $out")

    val q2 = start()
    try {
      Seq(KeyedEvent(5L, ts(60000L), "purchase", 3.0),
        KeyedEvent(5L, ts(120000L), "noise", 0.0),
        KeyedEvent(5L, ts(121000L), "noise", 0.0)).foreach { e =>
        input.addData(e); q2.processAllAvailable()
      }
      val got = out.toArray.toList
      assert(got == List((5L, 1), (5L, 2), (5L, 3)),
        s"click buffered pre-restart + purchase post-restart: $got")
    } finally q2.stop()
  }

  test("punctuated-window accumulators and per-key watermark survive a restart") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val ckpt = graft.TestSpark.tempDir("graft-punct-ckpt")
    val T0 = 1585015920000L
    val input = MemoryStream[KeyedEvent]
    def stream = PunctuatedWindows.tumbling(input.toDS(),
      windowMs = 10000L, delayMs = 0L)
    val out = CheckpointSpec.punctRows
    out.clear()
    def start() = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[PunctWindowOut], _: Long) =>
        b.collect().foreach(o => out.add((o.key, o.windowStart.getTime,
          o.cnt, o.sum)))
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update()).start()

    // two accumulations into [0,10s) and a watermark at 8s — window
    // still open when the query stops
    input.addData(KeyedEvent(1L, ts(T0 + 3000L), "e", 3.0),
      KeyedEvent(1L, ts(T0 + 8000L), "e", 8.0))
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(out.isEmpty, "window fired before its end crossed the watermark")

    // restart: the pre-restart (cnt=2, sum=11, wm=8s) state must be
    // live — a 12s element (late vs NOTHING) closes [0,10s) with the
    // pre-restart members, and a pre-restart-late 7s element must be
    // dropped against the RECOVERED 12s watermark afterwards
    val q2 = start()
    try {
      input.addData(KeyedEvent(1L, ts(T0 + 12000L), "e", 12.0))
      q2.processAllAvailable()
      assert(out.toArray.toList == List((1L, T0, 2L, 11.0)),
        s"pre-restart accumulations lost: ${out.toArray.toList}")
      input.addData(KeyedEvent(1L, ts(T0 + 7000L), "e", 7.0),
        KeyedEvent(1L, ts(T0 + 22000L), "e", 22.0))
      q2.processAllAvailable()
      val fired = out.toArray.toList
      assert(fired == List((1L, T0, 2L, 11.0), (1L, T0 + 10000L, 1L, 12.0)),
        s"recovered watermark must drop the 7s late row: $fired")
    } finally q2.stop()
  }

  test("stream-static join enriches a stream against a table (broadcast state)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("key", "tier")
    val input = MemoryStream[KeyedEvent]
    input.addData(KeyedEvent(1L, ts(1000L), "a", 1.0),
      KeyedEvent(2L, ts(2000L), "b", 2.0),
      KeyedEvent(3L, ts(3000L), "c", 3.0))
    val q = input.toDS().join(broadcast(dim), Seq("key"), "left")
      .select("key", "tier")
      .writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val got = spark.table("ssj").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(got == Map(1L -> Some("gold"), 2L -> Some("silver"), 3L -> None))
    } finally q.stop()
  }
}

object CheckpointSpec {
  /** Driver-side collector for the CEP restart test (local mode:
    * executor == driver JVM). */
  val cepMatches =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, List[Double])]()

  /** Driver-side collector for the funnel restart test. */
  val funnelRows =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()

  /** Driver-side collector for the punctuated-window restart test. */
  val punctRows =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Double)]()
}
