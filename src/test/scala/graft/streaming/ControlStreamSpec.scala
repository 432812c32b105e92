package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Broadcast-state / control-stream port: rule updates from the
  * control side take effect on the data side's next micro-batch. */
class ControlStreamSpec extends SparkSpec {

  test("rule update changes filtering for subsequent batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val rulesDir = graft.TestSpark.tempDir("graft-rules") + "/rules"
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val input = MemoryStream[KeyedEvent]
    val q = StreamPipelines.controlledFilter(
      input.toDF(), rulesDir, "kind",
      batch => results ++= batch.collect().map(r =>
        (r.getAs[Long]("key"), r.getAs[Double]("value")))).start()
    try {
      // rule v1: only clicks with value >= 5 pass
      StreamPipelines.updateRules(spark, rulesDir, Seq(("click", 5.0)))
      input.addData(KeyedEvent(1L, ts(1000L), "click", 3.0),
        KeyedEvent(2L, ts(2000L), "click", 7.0),
        KeyedEvent(3L, ts(3000L), "view", 9.0)) // no rule for view -> dropped
      q.processAllAvailable()
      assert(results.toSet == Set((2L, 7.0)), s"got $results")

      // control stream lowers the threshold: next batch sees it
      StreamPipelines.updateRules(spark, rulesDir, Seq(("click", 0.0)))
      input.addData(KeyedEvent(4L, ts(4000L), "click", 1.0))
      q.processAllAvailable()
      assert(results.toSet == Set((2L, 7.0), (4L, 1.0)), s"got $results")
    } finally q.stop()
  }
}
