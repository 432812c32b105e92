package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counter gate for the iterative queries whose per-round cost is
  * coordination, not task work: the Spark jobs one run starts
  * (constructor plus a `collect()`), and for the propagation loops the
  * parquet leaves of the optimized plan, at sf0.001. Both are
  * deterministic where wall time is not, so a new per-round barrier, an
  * extra round job or a plan that doubles per round fails here on any
  * host. A reference is a ceiling: lower it when a change removes
  * jobs, never raise it to make a regression pass.
  */
class JobCountSpec extends SparkSpec {

  /** query -> (jobs per run, parquet leaves in the optimized plan). */
  private val refs = Map(
    "emb_mmr" -> (5, 0),      // query-vector collect + 4 top-1 rounds
    "emb_kcenter" -> (4, 0),  // seed collect + 3 top-1 rounds
    "graph_cc" -> (13, 23),   // linear plan: spine + 3 rounds x 7 + spine
    "graph_bfs" -> (12, 11))  // linear plan: spine + 3 rounds x 3 + spine

  private val SpanProp = "graft.jobcount.span"

  /** Jobs started per span id, read from the local property the
    * caller's thread carried when the job started. */
  private final class Counter extends SparkListener {
    val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .foreach(jobs.computeIfAbsent(_, _ => new AtomicInteger()).incrementAndGet())
  }

  /** Runs `body` under a fresh span and returns the jobs it started.
    * A one-task fence job under its own span follows; the listener bus
    * delivers in order, so once the fence's start event arrives (a
    * bounded wait), every job of the body has been counted. */
  private def jobsOf(c: Counter)(body: => Unit): Int = {
    val sc = spark.sparkContext
    def span(): String = java.util.UUID.randomUUID().toString
    val id = span()
    sc.setLocalProperty(SpanProp, id)
    try body finally sc.setLocalProperty(SpanProp, null)
    val fence = span()
    sc.setLocalProperty(SpanProp, fence)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(SpanProp, null)
    val deadline = System.currentTimeMillis() + 30000
    while (!c.jobs.containsKey(fence) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    assert(c.jobs.containsKey(fence), "listener bus did not deliver the fence job")
    Option(c.jobs.get(id)).map(_.get).getOrElse(0)
  }

  test("iterative queries stay within their committed job and plan-leaf counts") {
    val c = new Counter
    spark.sparkContext.addSparkListener(c)
    val readings =
      try refs.toSeq.sortBy(_._1).map { case (q, ref) =>
        def run(): Int = jobsOf(c)(SparkEntry.queries(q)(spark, TestSpark.sf0001).collect())
        run() // warm: first-run codegen and table-touch jobs are not the query's
        val jobs = (run(), run())
        val leaves = SparkEntry.queries(q)(spark, TestSpark.sf0001)
          .queryExecution.optimizedPlan.collectLeaves()
          .count(_.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation])
        (q, ref, jobs, leaves)
      } finally spark.sparkContext.removeSparkListener(c)
    val report = readings.map { case (q, (maxJobs, maxLeaves), (a, b), leaves) =>
      s"$q: jobs $a then $b (ref $maxJobs), parquet leaves $leaves (ref $maxLeaves)"
    }.mkString("; ")
    readings.foreach { case (q, (maxJobs, maxLeaves), (a, b), leaves) =>
      assert(a == b, s"$q: job count not repeatable. $report")
      assert(a <= maxJobs && leaves <= maxLeaves, s"$q over its reference. $report")
    }
    info(report)
  }
}
