package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.functions._

/** End-to-end streaming curation journey — the composition a user
  * actually deploys, not the operators in isolation: ingest documents
  * as a stream, quality-gate, exact-dedup within the watermark,
  * aggregate per-language stats over event-time windows, and upsert
  * finalized windows into a keyed parquet sink. Two stateful
  * operators chained in one query (dedup -> windowed agg, both
  * watermark-bounded state) + the idempotent upsert sink.
  */
class CurationJourneySpec extends SparkSpec {

  private def t(sec: Long) = ts(sec * 1000L)

  test("stream: quality gate -> watermark dedup -> windowed stats -> upsert sink") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val sink = graft.TestSpark.tempDir("graft-curation") + "/stats"
    val in = MemoryStream[(Long, String, String, Timestamp)]
    val stats = in.toDF().toDF("doc_id", "text", "lang", "ts")
      .withWatermark("ts", "5 seconds")
      .withColumn("tk", graft.functions.TextOps.tokens(col("text")))
      .filter(size(col("tk")) >= 3) // quality gate
      .withColumn("h", md5(col("text")))
      .dropDuplicatesWithinWatermark("h") // exact dedup, state bounded by wm
      .groupBy(window(col("ts"), "10 seconds"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(size(col("tk"))).as("n_tokens"))
      .select(col("window.start").as("wstart"), col("lang"),
        col("n_docs"), col("n_tokens"))
    val q = stats.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!b.isEmpty)
          graft.sources.Writers.upsertParquet(b, sink, Seq("wstart", "lang"))
      }
      .outputMode(OutputMode.Append()) // finalized windows only
      .start()
    try {
      in.addData(
        (1L, "good text here", "en", t(1)),
        (2L, "good text here", "en", t(2)),    // exact dup of doc 1
        (3L, "x", "en", t(3)),                 // fails the quality gate
        (4L, "autre bon texte la", "fr", t(4)))
      q.processAllAvailable()
      in.addData((5L, "later window text", "en", t(12)))
      q.processAllAvailable()
      in.addData((6L, "flush flush flush", "en", t(60)))
      q.processAllAvailable()
      in.addData((7L, "flush flush again", "en", t(90)))
      q.processAllAvailable()

      val got = spark.read.parquet(sink)
        .collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1),
          r.getLong(2), r.getLong(3))).toSet
      // window [0,10): en keeps doc 1 (dup dropped, short doc gated),
      // fr keeps doc 4; window [10,20): doc 5
      assert(got.contains((0L, "en", 1L, 3L)), s"en window 0: $got")
      assert(got.contains((0L, "fr", 1L, 4L)), s"fr window 0: $got")
      assert(got.contains((10L, "en", 1L, 3L)), s"en window 10: $got")
    } finally q.stop()
  }
}
