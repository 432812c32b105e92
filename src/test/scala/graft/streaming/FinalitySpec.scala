package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The per-key finality horizon (`Finality`) of the watermark-buffered
  * operators: when it is on, what it releases early, and the late rows
  * it must drop because Spark does not. */
class FinalitySpec extends SparkSpec {
  import SeqPattern._

  private val abc = Seq(Step("a", Set("A")), Step("b", Set("B")), Step("c", Set("C")))
  private def ev(key: Long, ms: Long, kind: String, v: Double = 0.0) =
    KeyedEvent(key, ts(ms), kind, v)
  private def evUs(key: Long, us: Long, kind: String) =
    KeyedEvent(key, toTimestamp(us), kind, 0.0)

  /** Feeds `batches` one trigger each and returns the rows each trigger
    * emitted, by batch id. With `noDataBatches = false` no trigger runs
    * between two data triggers, as under steady input, so a data
    * trigger's late filter is the previous data trigger's watermark. */
  private def triggers[T](batches: Seq[Seq[KeyedEvent]], noDataBatches: Boolean = true)(
      build: Dataset[KeyedEvent] => Dataset[T]): Seq[(Long, Seq[T])] = {
    val sess = spark.newSession()
    sess.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", noDataBatches.toString)
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val in = MemoryStream[KeyedEvent]
    val got = new ConcurrentLinkedQueue[(Long, Seq[T])]()
    val q = build(in.toDS().withWatermark("ts", "5 seconds").as[KeyedEvent])
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: Dataset[T], id: Long) => got.add((id, b.collect().toSeq)); () }
      .start()
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    got.asScala.toSeq.filter(_._2.nonEmpty)
  }

  private def cep(ds: Dataset[KeyedEvent]): Dataset[(Long, Long)] = {
    import ds.sparkSession.implicits._
    detectOrdered(ds, abc, withinMs = 30000L, strict = true)
      .map(m => (m.startTs.getTime, m.endTs.getTime))
  }
  private def funnel(ds: Dataset[KeyedEvent]): Dataset[(Int, Long)] = {
    import ds.sparkSession.implicits._
    StatefulOps.funnelTrack(ds, "A", "B", "C").map(f => (f.stage, f.ts.getTime))
  }

  test("the horizon is on only for one watermark on the ts column itself") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def src = MemoryStream[KeyedEvent].toDS()
    def delay(ds: Dataset[_]) = Finality.of(ds).delayMs
    assert(delay(src.withWatermark("ts", "5 seconds")) == Some(5000L))
    assert(delay(KeyedEvent.ingest(src.toDF().withWatermark("ts", "1 second"))) == Some(1000L))
    // two watermarks: the global one is their minimum, not this stream's
    assert(delay(src.withWatermark("ts", "5 seconds")
      .union(src.withWatermark("ts", "5 seconds"))) == None)
    // a second stream without a watermark moves no watermark at all
    assert(delay(src.withWatermark("ts", "5 seconds").union(src)) == None)
    // the watermark on another column, or ts recomputed after it
    assert(delay(src.withColumn("other", col("ts")).withWatermark("other", "5 seconds")) == None)
    assert(delay(src.withWatermark("ts", "5 seconds").withColumn("ts", col("ts"))) == None)
    // no delay, or no watermark
    assert(delay(src.withWatermark("ts", "0 seconds")) == None)
    assert(delay(src) == None)
  }

  test("the horizon reads the named event-time column") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def src = MemoryStream[KeyedEvent].toDF().withColumnRenamed("ts", "at")
    assert(Finality.of(src.withWatermark("at", "200 milliseconds"), "at").delayMs == Some(200L))
    // the default column is ts, which this input does not have
    assert(Finality.of(src.withWatermark("at", "200 milliseconds")).delayMs == None)
    // a second watermark on the input
    assert(Finality.of(src.withWatermark("at", "1 second")
      .withWatermark("at", "200 milliseconds"), "at").delayMs == None)
  }

  test("detectOrdered: a match emits in the trigger that completes it when " +
    "the key has an event past the delay") {
    // one batch: A-B-C, then an event 7 s later (delay 5 s). The
    // watermark is still 0 in this trigger; the key's horizon (10 s - 5 s)
    // passes the match, so it emits now, not in the next trigger.
    val out = triggers(Seq(
      Seq(ev(1L, 1000L, "A"), ev(1L, 2000L, "B"), ev(1L, 3000L, "C"), ev(1L, 10000L, "N"))))(cep)
    assert(out == Seq((0L, Seq((1000L, 3000L)))), s"$out")
    // no event past the delay: the match waits for the watermark (the
    // no-data trigger after it)
    val held = triggers(Seq(
      Seq(ev(1L, 1000L, "A"), ev(1L, 2000L, "B"), ev(1L, 3000L, "C"), ev(2L, 10000L, "N"))))(cep)
    assert(held == Seq((1L, Seq((1000L, 3000L)))), s"$held")
  }

  test("detectOrdered: a row at or before its key's horizon in the next " +
    "trigger is dropped, though Spark's late filter lets it through") {
    // trigger 0 sets the key's horizon to 10 s - 5 s. Trigger 1 follows
    // with no trigger between, so Spark filters it by trigger 0's
    // watermark (0) and passes A at exactly 5 s; the operator drops it,
    // so the B and C after it match nothing. A at 5.001 s is kept. The
    // last trigger runs with the watermark at 55 s and releases the key.
    val dropped = triggers(Seq(
      Seq(ev(1L, 10000L, "N")),
      Seq(ev(1L, 5000L, "A"), ev(1L, 5500L, "B"), ev(1L, 6000L, "C")),
      Seq(ev(9L, 60000L, "N")), Seq(ev(9L, 61000L, "N"))), noDataBatches = false)(cep)
    assert(dropped.isEmpty, s"$dropped")
    val kept = triggers(Seq(
      Seq(ev(1L, 10000L, "N")),
      Seq(ev(1L, 5001L, "A"), ev(1L, 5500L, "B"), ev(1L, 6000L, "C")),
      Seq(ev(9L, 60000L, "N")), Seq(ev(9L, 61000L, "N"))), noDataBatches = false)(cep)
    assert(kept.flatMap(_._2) == Seq((5001L, 6000L)), s"$kept")
    // A at 3 s is final and fed in trigger 0; B at 2 s, fed after it,
    // would make A-B-C out of event-time order
    val behind = triggers(Seq(
      Seq(ev(1L, 3000L, "A"), ev(1L, 10000L, "N")),
      Seq(ev(1L, 2000L, "B"), ev(1L, 6000L, "C")),
      Seq(ev(9L, 60000L, "N")), Seq(ev(9L, 61000L, "N"))), noDataBatches = false)(cep)
    assert(behind.isEmpty, s"$behind")
  }

  test("Spark drops late rows by the previous trigger's watermark, at-or-before") {
    // what the horizon relies on: each trigger drops rows at or before
    // the watermark the trigger BEFORE it ran with, so a row behind the
    // current watermark still arrives in the first trigger after it moves
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[KeyedEvent]
    val seen = in.toDS().withWatermark("ts", "5 seconds").as[KeyedEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState[Long, (Long, Long)](OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        case (_, evs, st: GroupState[Long]) =>
          val wm = st.getCurrentWatermarkMs()
          st.update(0L)
          st.setTimeoutTimestamp(wm + 1000000L)
          evs.map(e => (wm, e.ts.getTime)).toList.iterator
      }
    val got = new ConcurrentLinkedQueue[(Long, Long)]()
    val q = seen.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: Dataset[(Long, Long)], _: Long) => b.collect().foreach(got.add); () }
      .start()
    try Seq(
      Seq(ev(1L, 10000L, "x"), ev(1L, 20000L, "x")),   // watermark -> 15 s
      Seq(ev(1L, 9000L, "x"), ev(1L, 15000L, "x")),    // filtered by 0
      Seq(ev(1L, 15000L, "x"), ev(1L, 15001L, "x"))    // filtered by 15 s
    ).foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    assert(got.asScala.toSeq.sorted == Seq((0L, 10000L), (0L, 20000L),
      (15000L, 9000L), (15000L, 15000L), (15000L, 15001L)), s"$got")
  }

  test("detectOrdered: maturity compares microseconds, not the floored millisecond") {
    // the watermark holds at 10 s (key 9); key 1 gets B at 10.0005 s, then
    // A at 10.0002 s a trigger later. Flooring B to 10 ms counted it as
    // mature and fed it alone, so A arrived after it: no match.
    val ab = Seq(Step("a", Set("A")), Step("b", Set("B")))
    val out = triggers(Seq(
      Seq(ev(9L, 15000L, "N")),
      Seq(evUs(1L, 10000500L, "B")),
      Seq(evUs(1L, 10000200L, "A")),
      Seq(ev(9L, 60000L, "N"))))(ds => {
        import ds.sparkSession.implicits._
        detectOrdered(ds, ab, withinMs = 30000L, strict = true).map(m => micros(m.startTs))
      })
    assert(out.flatMap(_._2) == Seq(10000200L), s"$out")
  }

  test("funnelTrack: stages complete in the trigger that brings an event " +
    "past the delay; a row at its key's horizon is dropped") {
    val early = triggers(Seq(
      Seq(ev(1L, 1000L, "A"), ev(1L, 2000L, "B"), ev(1L, 3000L, "C"), ev(1L, 10000L, "N"))))(funnel)
    assert(early == Seq((0L, Seq((1, 1000L), (2, 2000L), (3, 3000L)))), s"$early")
    val dropped = triggers(Seq(
      Seq(ev(1L, 10000L, "N")),
      Seq(ev(1L, 5000L, "A"), ev(1L, 5500L, "B")),
      Seq(ev(9L, 60000L, "N")), Seq(ev(9L, 61000L, "N"))), noDataBatches = false)(funnel)
    assert(dropped.flatMap(_._2) == Nil, s"$dropped")
  }

  test("no early release behind two watermarks") {
    // the same events as the early-release tests, through a union of
    // two watermarked streams: results wait for the global watermark
    def unionTriggers[T](build: Dataset[KeyedEvent] => Dataset[T]): Seq[(Long, Int)] = {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val in = MemoryStream[KeyedEvent]
      val other = MemoryStream[KeyedEvent]
      val got = new ConcurrentLinkedQueue[(Long, Int)]()
      val q = build(in.toDS().withWatermark("ts", "5 seconds")
          .union(other.toDS().withWatermark("ts", "5 seconds")).as[KeyedEvent])
        .writeStream.outputMode(OutputMode.Append())
        .foreachBatch { (b: Dataset[T], id: Long) => got.add((id, b.collect().length)); () }
        .start()
      try {
        in.addData(ev(1L, 1000L, "A"), ev(1L, 2000L, "B"), ev(1L, 3000L, "C"), ev(1L, 10000L, "N"))
        other.addData(ev(2L, 10000L, "N"))
        q.processAllAvailable()
      } finally q.stop()
      got.asScala.toSeq.filter(_._2 > 0)
    }
    for ((name, emitted, n) <- Seq(("cep", unionTriggers(cep), 1), ("funnel", unionTriggers(funnel), 3)))
      assert(emitted.map(_._2).sum == n && emitted.forall(_._1 > 0L), s"$name: $emitted")
  }

  test("funnelTrack: sub-millisecond order is event-time order") {
    // A 0.3 ms after B in the same millisecond: B precedes A, so stage 2
    // is not reached (the batch funnel compares full timestamps)
    val out = triggers(Seq(
      Seq(evUs(1L, 1000300L, "A"), evUs(1L, 1000000L, "B"), ev(9L, 60000L, "N")),
      Seq(ev(9L, 61000L, "N"))))(funnel)
    assert(out.flatMap(_._2).map(_._1) == Seq(1), s"$out")
  }

  test("eventTimeAsOfJoin: releases at the key's horizon, a millisecond at a time") {
    def asOf(ds: Dataset[KeyedEvent]): Dataset[(Long, Double)] = {
      import ds.sparkSession.implicits._
      StatefulOps.eventTimeAsOfJoin(ds, "rate").map(a => (micros(a.firstTs), a.detail))
    }
    // the order at 2 s is final in the trigger that brings the 10 s event
    val early = triggers(Seq(
      Seq(ev(1L, 1000L, "rate", 1.1), ev(1L, 2000L, "order"), ev(1L, 10000L, "rate", 9.9))))(asOf)
    assert(early == Seq((0L, Seq((2000000L, 1.1)))), s"$early")
    // the watermark holds at 10 s; the order at 10.0005 s shares its
    // millisecond with a rate at 10.0002 s that arrives a trigger later,
    // and the buffer orders within a millisecond by kind, not by µs
    val sameMs = triggers(Seq(
      Seq(ev(1L, 1000L, "rate", 1.1), ev(9L, 15000L, "N")),
      Seq(evUs(1L, 10000500L, "order")),
      Seq(KeyedEvent(1L, toTimestamp(10000200L), "rate", 2.2)),
      Seq(ev(9L, 60000L, "N"))))(asOf)
    assert(sameMs.flatMap(_._2).filter(_._1 == 10000000L) == Seq((10000000L, 2.2)), s"$sameMs")
  }
}
