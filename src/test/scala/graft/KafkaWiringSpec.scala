package graft

import graft.sources.{Readers, Writers}

/** The two §2 rows that cannot be tested end-to-end here: the offline
  * image ships no spark-sql-kafka connector jar (checked every round).
  * This spec pins what IS checkable — the builders' wiring executes
  * all the way into Spark's data-source resolution, failing with the
  * MISSING-CONNECTOR error and nothing else (a typo'd format string
  * or broken option plumbing would fail earlier or differently).
  *
  * Deliberate tripwire: if the image ever grows the connector jar,
  * resolution SUCCEEDS past this point and both tests fail with an
  * explicit instruction to wire the real end-to-end test — the
  * round-8 verdict's "re-check each round" made executable. */
class KafkaWiringSpec extends SparkSpec {

  private def assertMissingConnector(thunk: => Any, what: String): Unit = {
    val e = intercept[Exception](thunk)
    val msg = String.valueOf(e.getMessage).toLowerCase
    assert(msg.contains("kafka"),
      s"$what failed before reaching kafka source resolution: $e")
    assert(msg.contains("failed to find") || msg.contains("data_source_not_found") ||
      msg.contains("not found"),
      s"$what: connector resolution no longer reports missing-source — " +
        s"if the kafka jar is now on the classpath, wire the e2e " +
        s"ClickCount test (SURVEY §2.1/§2.2). Error was: $e")
  }

  test("kafka consumer builder reaches connector resolution (jar absent)") {
    assertMissingConnector(
      Readers.kafka(spark, "localhost:9092", "clicks"), "Readers.kafka")
  }

  test("kafka producer builder reaches connector resolution (jar absent)") {
    val stream = Readers.rate(spark, 1)
      .selectExpr("CAST(value AS STRING) AS value")
    val tmp = TestSpark.tempDir("kafkaw")
    // If the jar ever appears, start() SUCCEEDS and the tripwire
    // assertion fires — capture the live query so the failure doesn't
    // leave a rate-source stream running for the rest of the suite.
    var started: Option[org.apache.spark.sql.streaming.StreamingQuery] = None
    try
      assertMissingConnector({
        val q = Writers.kafkaStream(stream, "localhost:9092", "clicks")
          .option("checkpointLocation", tmp).start()
        started = Some(q)
        q
      }, "Writers.kafkaStream")
    finally started.foreach(q => try q.stop() catch { case _: Throwable => () })
  }
}
