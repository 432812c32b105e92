package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. `run.py` builds this package and launches it;
  * see perfbench/NOTES.md for the workloads and metrics.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --data <sf dir> --refs <digest file> --work <scratch dir>
  *        --traces <dir for span files>
  *   Main --profile <profile file> --refs <digest file> --data <sf dir>
  *        --work <scratch dir>
  *
  * Prints a human summary, then one JSON line with every metric the
  * mode produces; `run.py` selects the ones BENCHMARK.json declares. */
object Main {
  final case class Config(workload: String, seed: Long, seconds: Int,
                          trace: Boolean, dataDir: String, refs: String, workDir: String,
                          tracesDir: String) {
    def traceFile: java.nio.file.Path =
      java.nio.file.Paths.get(tracesDir, s"$workload-seed$seed.json")
  }

  /** JVM start in epoch ms: setup_s counts from here, so class loading
    * and static initialisation are part of set-up. */
  val jvmStartMs: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val dataDir = need("data")
    val workDir = need("work")
    kv.get("profile") match {
      case Some(out) =>
        Batch.profile(out, need("refs"), dataDir)
        return
      case None =>
    }
    val cfg = Config(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", dataDir, need("refs"), workDir, need("traces"))
    val outcome = cfg.workload match {
      case w if Batch.workloads.contains(w) => Batch.run(cfg)
      case "stream-keyed" => Stream.run(cfg)
      case w => sys.error(s"unknown workload $w")
    }
    report(cfg, outcome)
  }

  /** Builds the engine's session the way every engine caller does. */
  def session(): SparkSession = graft.core.Sessions.build("perfbench")

  def provenance(cfg: Config, extra: Seq[(String, String)]): Seq[(String, String)] = Seq(
    "commit" -> graft.core.Provenance.commit,
    "workload" -> cfg.workload,
    "seed" -> cfg.seed.toString,
    "seconds" -> cfg.seconds.toString,
    "trace" -> (if (cfg.trace) "1" else "0"),
    "nproc" -> Runtime.getRuntime.availableProcessors().toString,
    "SPARK_GRAFT_CPUS" -> graft.core.Sessions.cpus,
    "max_heap_bytes" -> Runtime.getRuntime.maxMemory().toString,
    "gc" -> scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans).asScala.map(_.getName).mkString("+"),
    "data" -> cfg.dataDir) ++ extra

  /** Writes the run's spans, headed by its provenance; returns a note. */
  def writeTrace(cfg: Config, spans: Spans, extra: Seq[(String, String)]): String = {
    spans.writeJson(cfg.traceFile, provenance(cfg, extra)
      .map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString(","))
    s"spans written to ${cfg.traceFile}"
  }

  private def report(cfg: Config, o: Outcome): Unit = {
    val metrics = if (cfg.trace) o.layers else o.endToEnd
    o.notes.foreach(n => println(s"# $n"))
    println(f"# ${"metric"}%-40s ${"value"}%16s ${"unit"}%-8s samples")
    (o.endToEnd ++ o.layers).foreach { m =>
      println(f"# ${m.name}%-40s ${m.value}%16.6f ${m.unit}%-8s ${m.samples}")
    }
    val errRate = if (o.attempted > 0) o.failed.toDouble / o.attempted else 0.0
    println(f"# error_rate ${errRate}%.6f (${o.failed} failed / ${o.attempted} attempted)")
    val body = metrics.map(m =>
      s"${Json.str(m.name)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)}}")
      .mkString(",")
    println(s"""{"correct":${o.failed == 0},"attempted":${o.attempted},"failed":${o.failed},"metrics":{$body}}""")
  }
}
