package graft.tools

import graft.SparkEntry
import graft.core.Sessions

/** Bounded-memory execution gate: the full catalog, full projection,
  * inside a deliberately SMALL driver heap.
  *
  * Why this matters at 100 TB: on a real cluster the driver is the
  * scarce resource — it holds broadcast builds, collected aggregates,
  * plan state, and accumulator traffic for a thousand executors. Any
  * operator that secretly materializes corpus-scale state driver-side
  * (an unbounded `collect`, a broadcast that grows with the fact
  * table, a sketch whose size tracks cardinality) works fine in a fat
  * test JVM and OOMs the production driver. The repo's design claims
  * — zero hot-path collects, broadcasts bounded by K rows / vocab /
  * codebook sizes — have so far been argued by grep and plan audit;
  * this gate makes them an EMPIRICAL invariant: every query must
  * complete (noop full-projection write, same blind-spot-free sink as
  * FullExec) in a heap ~50x smaller than the bench JVM's.
  *
  * The tool REFUSES to run in a roomy heap (maxMemory above `capMb`),
  * so the artifact can only ever attest a genuinely capped run:
  *
  *   SPARK_DRIVER_MEM=2g SPARK_GRAFT_CPUS=8 \
  *     sbt "runMain graft.tools.MemExec [sfDir] [outJson] [capMb]"
  *       (defaults /root/testdata/sf0.1, MEM_EXEC.json, 2600 —
  *        sf0.1 deliberately: the BENCH scale factor, 50x less heap)
  *
  * local[8] rather than local[32]: 8 concurrent tasks inside 2 GB is
  * ~256 MB/task — the same order as a production executor core's
  * share, which is exactly the regime the operators must survive.
  */
object MemExec {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outJson = if (args.length > 1) args(1) else "MEM_EXEC.json"
    val capMb = if (args.length > 2) args(2).toInt else 2600
    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    if (heapMb > capMb) {
      System.err.println(
        s"[memexec] REFUSING: max heap ${heapMb} MB exceeds the ${capMb} MB cap — " +
          "run with SPARK_DRIVER_MEM=2g so the artifact attests a capped JVM")
      sys.exit(2)
    }
    val spark = Sessions.build("graft-memexec")
    graft.Bench.warmJvm(spark)

    val (fields, failed) = FullExec.run(spark, sfDir, "memexec")
    val json =
      s"""{"action":"bounded-memory-full-projection","sf_dir":"${SweepJson.esc(sfDir)}","heap_mb":$heapMb,"cpus":${Sessions.cpus},$fields,${graft.core.Provenance.jsonFields}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson), json.getBytes("UTF-8"))
    val n = SparkEntry.queries.size
    println(s"[memexec] ${n - failed}/$n ok in a ${heapMb} MB heap at $sfDir -> $outJson")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
