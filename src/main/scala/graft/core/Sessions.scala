package graft.core

import org.apache.spark.sql.SparkSession

/** Single place that builds the engine's SparkSession.
  *
  * Every conf here is scale-motivated, not test-motivated:
  *   - `shuffle.partitions` sized to the core count (local runs); on a
  *     real cluster AQE coalesces post-shuffle partitions anyway.
  *   - AQE on: runtime re-planning (skew-join splitting, dynamic
  *     coalescing, broadcast demotion/promotion) is the 100 TB safety net.
  *   - UTC session TZ: cross-engine timestamp determinism.
  *   - `nanosAsLong`: the driver's `events` table is TIMESTAMP(NANOS)
  *     parquet which Spark's vectorized reader otherwise rejects; set
  *     once here instead of as a hidden side effect per read
  *     (see Tables.load for the ns->us truncation).
  */
object Sessions {
  def cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)

  /** Prometheus metrics-export confs (the reference wires Flink metrics
    * to Prometheus via a PushGateway reporter in flink-conf.yaml —
    * flink-prometheus/src/main/resources/flink-conf.yaml:1-11; Spark's
    * idiomatic equivalent is the built-in PULL-based PrometheusServlet
    * sink on the driver UI plus the executor-metrics Prometheus
    * resource). Opt-in via SPARK_GRAFT_PROMETHEUS=1 because the servlet
    * hangs off the web UI, which stays disabled for benchmark runs.
    * Scrape endpoints once enabled:
    *   <uiWebUrl>/metrics/prometheus            (driver DropWizard metrics)
    *   <uiWebUrl>/metrics/executors/prometheus  (per-executor metrics)
    */
  val prometheusConfs: Map[String, String] = Map(
    "spark.metrics.conf.*.sink.prometheusServlet.class" ->
      "org.apache.spark.metrics.sink.PrometheusServlet",
    "spark.metrics.conf.*.sink.prometheusServlet.path" ->
      "/metrics/prometheus",
    "spark.ui.prometheus.enabled" -> "true")

  /** Streaming checkpoint confs, applied to every session. Neither
    * adds a user-facing option; checkpoint file names and directories
    * stay as they were. Measured on 4 cores with the `stream-keyed`
    * benchmark (ten 16 s runs per side):
    *   - the checkpoint file manager: Spark's default manager writes
    *     through Hadoop's local file system, which without libhadoop
    *     starts a `chmod` process per created file and `readlink`
    *     processes per rename (3,895 processes in one run). Each
    *     trigger's offset-log write and again its commit-log write took
    *     31-91 ms; `LocalCheckpointFileManager` starts no process and
    *     takes 1-3.5 ms.
    *   - RocksDB changelog checkpointing: without it every RocksDB
    *     commit zips and uploads a full snapshot before its trigger can
    *     finish, 550-2,038 ms per trigger summed over 4 partitions, even
    *     for clickCount's 16 state rows; with it a commit writes a small
    *     changelog (1-19 ms) and the snapshot upload moves to the
    *     maintenance thread. No effect on the default (HDFS-backed)
    *     state store.
    */
  val streamingConfs: Map[String, String] = Map(
    graft.streaming.LocalCheckpointFileManager.ConfKey ->
      classOf[graft.streaming.LocalCheckpointFileManager].getName,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  private def prometheusOn: Boolean =
    sys.env.get("SPARK_GRAFT_PROMETHEUS").exists(v => v == "1" || v == "true")

  def build(appName: String): SparkSession = {
    val s = SparkSession.builder()
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions()(_))
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // rank-filter -> WindowGroupLimit conversion caps the per-task
      // heap at the rank bound; the default threshold (1000) refuses
      // budget-sized bounds like pipe_budget's 4001, silently falling
      // back to a full per-key window sort. A 100k-row heap per key
      // per task is far cheaper than that sort at any scale.
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "100000")
      // the generated-class cache defaults to 100 entries — an engine
      // serving a 200+-query catalog thrashes it and silently re-pays
      // whole-stage codegen + JIT per query (measured: ~1.3 s/query at
      // the catalog's size, surfacing as 3-9x "regressions" on
      // whichever queries lost the LRU race). Static conf, so it must
      // be set before the first session builds.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // UI off for bench/verify runs; flipped on (random port) when the
      // Prometheus servlet is requested, since the sink serves from it
      .config("spark.ui.enabled", prometheusOn.toString)
      .config("spark.ui.port", "0")
    val confs = streamingConfs ++ (if (prometheusOn) prometheusConfs else Map.empty)
    val sess = confs.foldLeft(s) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    sess.sparkContext.setLogLevel("WARN")
    sess
  }
}
