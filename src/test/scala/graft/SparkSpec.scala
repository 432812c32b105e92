package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared session for the whole forked test JVM (suites must not
  * stop it — SparkContext is process-global). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-test")
      .withExtensions(new graft.functions.GraftExtensions()(_))
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      // UI on (random port) so MetricsExportSpec can scrape the
      // PrometheusServlet sink end-to-end — the metrics system starts
      // with the process-global SparkContext, so the confs must be here
      .config("spark.ui.enabled", "true")
      .config("spark.ui.port", "0")
    val sess = (graft.core.Sessions.streamingConfs ++ graft.core.Sessions.prometheusConfs)
      .foldLeft(s) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    sess.sparkContext.setLogLevel("WARN")
    sess
  }
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def ts(millis: Long): java.sql.Timestamp = new java.sql.Timestamp(millis)
}
