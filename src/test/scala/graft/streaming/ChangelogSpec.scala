package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Changelog reconstruction must reproduce the reference's retract
  * stream semantics (toRetractStream, TableSQLFunc.scala:846-855):
  * first value per key is +I; every later change is a -U of the old
  * value followed by a +U of the new. */
class ChangelogSpec extends SparkSpec {

  test("update-mode agg emits +I then -U/+U pairs across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val base = graft.TestSpark.tempDir("graft-cl")
    val input = MemoryStream[KeyedEvent]
    val agg = input.toDS().groupBy("key")
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_v"))
    val q = Changelog.attach(agg, Seq("key"), s"$base/snap", s"$base/log").start()
    try {
      input.addData(KeyedEvent(1L, ts(1000L), "a", 10.0))
      q.processAllAvailable()
      input.addData(KeyedEvent(1L, ts(2000L), "a", 5.0),
        KeyedEvent(2L, ts(2000L), "b", 7.0))
      q.processAllAvailable()
      val logRows = spark.read.parquet(s"$base/log")
        .select("key", "cnt", "sum_v", "op", "batch_id").collect()
      val log = logRows
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
        .toSet
      assert(log == Set(
        (1L, 1L, 10.0, "+I"),   // batch 0
        (1L, 1L, 10.0, "-U"),   // batch 1: key 1 changed
        (1L, 2L, 15.0, "+U"),
        (2L, 1L, 7.0, "+I")),   // batch 1: key 2 new
        s"got $log")
      // snapshot holds the latest values
      val snap = spark.read.parquet(s"$base/snap").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(snap == Map(1L -> (2L, 15.0), 2L -> (1L, 7.0)))
    } finally q.stop()
  }

  test("a key whose first value column is legitimately NULL still emits -U/+U") {
    // key existence in the snapshot is tracked by an explicit marker,
    // not by valueCols.head being NULL after the left join — a
    // nullable first value column previously re-classified the key as
    // a fresh insert forever and its updates never retracted
    val s = spark
    import s.implicits._
    val base = graft.TestSpark.tempDir("graft-cln")
    val b1 = Seq((1L, Option.empty[Double])).toDF("key", "mx")
    Changelog.processBatch(b1, Seq("key"), 0L, s"$base/snap", s"$base/log")
    val b2 = Seq((1L, Option(5.0))).toDF("key", "mx")
    Changelog.processBatch(b2, Seq("key"), 1L, s"$base/snap", s"$base/log")
    val log = spark.read.parquet(s"$base/log")
      .collect().map(r => (r.getString(r.fieldIndex("op")),
        if (r.isNullAt(r.fieldIndex("mx"))) None else Some(r.getDouble(r.fieldIndex("mx")))))
      .toSet
    assert(log === Set(("+I", None), ("-U", None), ("+U", Some(5.0))),
      s"got $log")
  }

  test("complete-mode top-N emits -D when a key falls out of the result") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val base = graft.TestSpark.tempDir("graft-cld")
    val input = MemoryStream[KeyedEvent]
    // top-2 keys by event count: a key dropping to rank 3 disappears
    // from the complete result -> must surface as a -D RowKind
    val top2 = input.toDS().groupBy("key")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("key")).limit(2)
    val q = Changelog.attachComplete(top2, Seq("key"),
      s"$base/snap", s"$base/log").start()
    try {
      input.addData(
        KeyedEvent(1L, ts(1000L), "a", 1), KeyedEvent(1L, ts(1100L), "a", 1),
        KeyedEvent(2L, ts(1200L), "a", 1))          // top2 = {1:2, 2:1}
      q.processAllAvailable()
      input.addData(
        KeyedEvent(3L, ts(2000L), "a", 1), KeyedEvent(3L, ts(2100L), "a", 1),
        KeyedEvent(3L, ts(2200L), "a", 1))          // top2 = {3:3, 1:2} — 2 out
      q.processAllAvailable()
      val log = spark.read.parquet(s"$base/log")
        .select("key", "cnt", "op", "batch_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .toSet
      assert(log == Set(
        (1L, 2L, "+I", 0L), (2L, 1L, "+I", 0L), // batch 0 result
        (3L, 3L, "+I", 1L),                     // new entrant
        (2L, 1L, "-D", 1L)),                    // dropped out of top-2
        s"got $log")
      // snapshot is exactly the current complete result
      val snap = spark.read.parquet(s"$base/snap").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(snap == Map(3L -> 3L, 1L -> 2L))
      // the consumer half: Changelog.retractStream subscribes to the
      // same directory as a STREAM and sees every RowKind, -D included
      val schema = spark.read.parquet(s"$base/log").schema
      val consumed = Changelog.retractStream(spark, s"$base/log", schema)
        .writeStream.format("memory").queryName("retract_consumer").start()
      try {
        consumed.processAllAvailable()
        val seen = spark.table("retract_consumer")
          .select("key", "cnt", "op", "batch_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
          .toSet
        assert(seen == log, s"retractStream consumer saw $seen")
      } finally consumed.stop()
    } finally q.stop()
  }

  test("processBatch frees its localCheckpoint blocks per batch (no pile-up)") {
    // round-14 review finding: localCheckpoint blocks are otherwise
    // only reclaimed at the ContextCleaner's periodic GC (~30 min) —
    // a fast-trigger stream would pile up every batch's materialized
    // rows in the block manager. freeCheckpoint must release them
    // deterministically, so the persistent-RDD census stays flat
    // across many batches.
    val s = spark
    import s.implicits._
    val base = graft.TestSpark.tempDir("graft-cl-free")
    val before = s.sparkContext.getPersistentRDDs.size
    (0 until 6).foreach { b =>
      val batch = Seq((1L, b.toDouble), (2L, b + 0.5)).toDF("key", "v")
      Changelog.processBatch(batch, Seq("key"), b.toLong,
        s"$base/snap", s"$base/log")
    }
    val after = s.sparkContext.getPersistentRDDs.size
    assert(after <= before,
      s"persistent RDDs grew $before -> $after across 6 batches — " +
        "localCheckpoint blocks are not being freed")
    // and the changelog itself is intact: 2 inserts + 5x2 update pairs
    val ops = s.read.parquet(s"$base/log").groupBy("op").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ops == Map("+I" -> 2L, "-U" -> 10L, "+U" -> 10L), ops.toString)
  }
}
