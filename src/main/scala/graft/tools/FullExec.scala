package graft.tools

import graft.SparkEntry
import graft.core.Sessions
import org.apache.spark.sql.SparkSession

/** Full-projection execution gate — closes the `count()` blind spot.
  *
  * Bench and Scaling drive every query with `count()`, which lets
  * Catalyst PRUNE the final projection: an expression that only
  * overflows/NPEs/diverges when its output column is actually computed
  * never executes. That is exactly how the round-9
  * `graph_assortativity` BIGINT overflow stayed invisible to every
  * gate until an off-gate manual sweep (VERDICT r9 "What's wrong" #1).
  *
  * This main materializes EVERY output column of EVERY catalog query
  * with `df.write.format("noop")` — the noop DSv2 sink evaluates the
  * complete row (all projections, all casts, ANSI overflow checks)
  * and discards it, so full-projection failures trip here without
  * paying result IO. Run at sf0.1 (bigger than the sf0.01 oracle gate,
  * where the overflow class actually bites):
  *
  *   sbt "runMain graft.tools.FullExec [sfDir] [outJson]"
  *     (defaults /root/testdata/sf0.1, FULLEXEC.json)
  *
  * Output: per-query ok/error JSON + provenance; exit code 1 if any
  * query failed, so this can sit in a gate script next to check.py.
  */
object FullExec {
  /** Noop-writes every catalog query at `sfDir`, logging each failure
    * under `tag`. Returns the artifact's `n_queries`, `n_failed` and
    * `queries` fields, and the failure count. */
  private[tools] def run(spark: SparkSession, sfDir: String,
                         tag: String): (String, Int) = {
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val err =
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable =>
          val m = (e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage)).replaceAll("\\s+", " ").take(200)
          System.err.println(s"[$tag] $name FAILED: $m")
          Some(m)
        }
      name -> err
    }
    val failed = results.count(_._2.isDefined)
    val entries = results.map { case (n, err) =>
      s""""$n":${err.fold("\"ok\"")(m => s""""error: ${SweepJson.esc(m)}"""")}"""
    }.mkString("{", ",", "}")
    (s""""n_queries":${results.size},"n_failed":$failed,"queries":$entries""", failed)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outJson = if (args.length > 1) args(1) else "FULLEXEC.json"
    val spark = Sessions.build("graft-fullexec")
    graft.Bench.warmJvm(spark)

    val (fields, failed) = run(spark, sfDir, "fullexec")
    val json =
      s"""{"action":"noop-write-full-projection","sf_dir":"${SweepJson.esc(sfDir)}",$fields,${graft.core.Provenance.jsonFields}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson), json.getBytes("UTF-8"))
    val n = SparkEntry.queries.size
    println(s"[fullexec] ${n - failed}/$n full-projection ok at $sfDir -> $outJson")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
