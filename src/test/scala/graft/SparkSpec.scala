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
      .config("spark.sql.warehouse.dir", tempDir("graft-wh"))
      // UI on (random port) so MetricsExportSpec can scrape the
      // PrometheusServlet sink end-to-end — the metrics system starts
      // with the process-global SparkContext, so the confs must be here
      .config("spark.ui.enabled", "true")
      .config("spark.ui.port", "0")
    val sess = (graft.core.Sessions.streamingConfs ++ graft.core.Sessions.prometheusConfs)
      .foldLeft(s) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    sess.sparkContext.setLogLevel("WARN")
    // every run of a window without PARTITION BY logs this warning;
    // PlanAudit's GLOBALWIN audit already fails on any such window it
    // has not whitelisted as bounded, so here it only buries real WARNs
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // every streaming query start logs that AQE is off (it always is in
    // streaming) and every query without a checkpointLocation that a
    // temporary one was made; the other WARNs of these loggers stay
    quiet("org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
      "spark\\.sql\\.adaptive\\.enabled is not supported in streaming .*|" +
        "Temporary checkpoint location created .*")
    quiet("org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
      "Disabling AQE since AQE is not supported .*")
    sess
  }

  /** Drops `logger`'s events whose whole message matches `messages`. */
  private def quiet(logger: String, messages: String): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, LoggerContext}
    import org.apache.logging.log4j.core.config.Configurator
    import org.apache.logging.log4j.core.filter.RegexFilter
    // a logger config of its own at its current level, to carry the filter
    Configurator.setLevel(logger, LogManager.getLogger(logger).getLevel)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getLoggerConfig(logger).addFilter(RegexFilter.createFilter(
      s"(?s)(?:$messages)", null, false, Filter.Result.DENY, Filter.Result.NEUTRAL))
    ctx.updateLoggers()
  }

  /** A fresh directory under the system temp dir, deleted with its
    * contents when the test JVM exits. */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    sys.addShutdownHook(graft.core.Resources.deleteRecursively(dir))
    dir
  }

  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def ts(millis: Long): java.sql.Timestamp = new java.sql.Timestamp(millis)
}
