package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Counters of the jobs one span caused. */
final class Tally {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0.0
  var cpuNs = 0.0
  var gcMs = 0.0
  var inBytes = 0L
  var inRows = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val taskIntervals = ArrayBuffer.empty[(Double, Double)]
  val executions = scala.collection.mutable.Set.empty[Long]
}

/** Public-listener view of the scheduler. A job is attributed to the
  * span whose id the caller put in the `perfbench.span` local property
  * before the call that ran it; the listener reads it at job start. A
  * stream micro-batch's jobs go to the span of their batch.
  * Job spans are added to `spans` as children of that span. */
final class JobListener(spans: Spans, corpusFiles: Seq[String]) extends SparkListener {
  import JobListener._
  private val tallies = new ConcurrentHashMap[Long, Tally]()
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long, Double)]() // job -> (span, trace, start)
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val plans = new ConcurrentHashMap[Long, SparkPlanInfo]()
  private val fences = ConcurrentHashMap.newKeySet[String]()
  @volatile var callbackNs = 0L
  private val batchSpans = new ConcurrentHashMap[String, Long]()

  def tally(span: Long): Tally = tallies.computeIfAbsent(span, _ => new Tally)
  def tallyOf(span: Long): Option[Tally] = Option(tallies.get(span))

  /** The span of one stream micro-batch. Its jobs run on Spark's own
    * thread, which carries no span property but the query id and the
    * batch id. */
  def batchSpan(queryId: String, batchId: Long): Long =
    batchSpans.computeIfAbsent(s"$queryId/$batchId", _ => spans.newId())

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally { callbackNs += System.nanoTime() - t0 }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(FenceProp))).foreach(fences.add)
    val tagged = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).orElse(
      for (p <- props; q <- Option(p.getProperty(QueryIdProp)); b <- Option(p.getProperty(BatchIdProp)))
        yield batchSpan(q, b.toLong))
    for (span <- tagged) {
      val trace = props.flatMap(p => Option(p.getProperty(TraceProp))).map(_.toLong).getOrElse(span)
      jobSpan.put(e.jobId, (span, trace, e.time.toDouble))
      e.stageIds.foreach(st => stageJob.put(st, e.jobId))
      val t = tally(span)
      t.synchronized {
        t.jobs += 1
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(x => t.executions += x.toLong)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobSpan.get(e.jobId)).foreach { case (span, trace, start) =>
      spans.add(Span(spans.newId(), span, trace, "job", start, e.time.toDouble,
        Map("job" -> e.jobId.toString)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    spanOfStage(e.stageInfo.stageId).foreach { s =>
      val t = tally(s); t.synchronized { t.stages += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    for (s <- spanOfStage(e.stageId); m <- Option(e.taskMetrics)) {
      val t = tally(s)
      t.synchronized {
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.inBytes += m.inputMetrics.bytesRead
        t.inRows += m.inputMetrics.recordsRead
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.taskIntervals += ((e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble))
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
    e match {
      case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.put(u.executionId, u.sparkPlanInfo)
      case _ =>
    }
  }

  private def spanOfStage(stage: Int): Option[Long] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobSpan.get(j))).map(_._1)

  /** Scans of a corpus table (documents, embeddings) in the last plan
    * Spark reported for each SQL execution `t` ran. A reused exchange
    * re-reads nothing, so its subtree is not counted. */
  def corpusScans(t: Tally): Long = {
    def count(p: SparkPlanInfo): Long =
      if (p.nodeName.startsWith("ReusedExchange")) 0L
      else {
        val here =
          if (p.nodeName.startsWith("Scan") &&
              p.metadata.get("Location").exists(l => corpusFiles.exists(l.contains))) 1L
          else 0L
        here + p.children.map(count).sum
      }
    t.synchronized(t.executions.toList).flatMap(x => Option(plans.get(x))).map(count).sum
  }

  /** Bounded wait until every event posted before now has reached this
    * listener: runs a one-task fence job and waits for its start event,
    * which the bus delivers after all earlier events of this queue. */
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Boolean = {
    val id = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(FenceProp, id)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(FenceProp, null)
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!fences.contains(id) && System.currentTimeMillis() < deadline) Thread.sleep(1)
    fences.remove(id)
  }
}

object JobListener {
  val SpanProp = "perfbench.span"
  val TraceProp = "perfbench.trace"
  val FenceProp = "perfbench.fence"
  // set by Spark's micro-batch execution on the jobs of each batch
  val QueryIdProp = "sql.streaming.queryId"
  val BatchIdProp = "streaming.sql.batchId"

  def tag(sc: SparkContext, span: Long, trace: Long): Unit = {
    sc.setLocalProperty(SpanProp, span.toString)
    sc.setLocalProperty(TraceProp, trace.toString)
  }
  def untag(sc: SparkContext): Unit = {
    sc.setLocalProperty(SpanProp, null)
    sc.setLocalProperty(TraceProp, null)
  }
}
