package graft.streaming

import graft.SparkSpec

/** End-to-end through the custom DataSourceV2 source: the ops-playground
  * invariant (exactly eventsPerWindow per page per 15 s window,
  * ReadMe.md:122-145) holds when the data comes from our own
  * MicroBatchStream instead of MemoryStream. */
class ClickGenSourceSpec extends SparkSpec {

  test("custom DSv2 source feeds the click-count pipeline; invariant holds") {
    // append output: a window emits once it is closed, so the third
    // window, which no later event closes, stays open
    val df = spark.readStream.format("graft.sources.ClickGenSource")
      .option("pages", "/a,/b")
      .option("eventsPerWindow", "200")
      .option("windows", "3")
      .load()
    val counts = StreamPipelines.clickCount(df, "ts", "page")
    val q = counts.writeStream.format("memory").queryName("cgen")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("cgen").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
      assert(rows.length == 4, s"got ${rows.toSeq}") // 2 closed windows × 2 pages
      assert(rows.map(r => (r._1, r._2)).distinct.length == 4, s"emitted twice: ${rows.toSeq}")
      assert(rows.forall(_._3 == 200L), s"got ${rows.toSeq}")
    } finally q.stop()
  }
}
