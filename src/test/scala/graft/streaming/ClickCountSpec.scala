package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, window}
import org.apache.spark.sql.streaming.OutputMode

case class Click(ts: Timestamp, page: String)

/** Port of the reference's click-count invariant
  * (ClickEventCount.java:65-104 + ReadMe.md:122-145): with the
  * deterministic generator (N events per 15 s window per page), every
  * closed window must count exactly N — the correctness contract the
  * reference verifies across failures/rescaling. The later tests pin
  * when a window emits: in the trigger that brings an event of its page
  * at or after its end + 200 ms, or, for a quiet page, once the
  * watermark passes its end. */
class ClickCountSpec extends SparkSpec {

  private val base = 1700000000000L - (1700000000000L % 15000)
  private def at(ms: Long, page: String) = Click(ts(base + ms), page)

  /** Feeds `batches` one trigger each, with no trigger between two data
    * triggers (as under steady input; `processAllAvailable` would
    * otherwise run a no-data trigger that hides a one-trigger wait).
    * Returns every emitted (batch, window start - base, page, count). */
  private def triggers(batches: Seq[Seq[Click]]): Seq[(Long, Long, String, Long)] = {
    val sess = spark.newSession()
    sess.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val in = MemoryStream[Click]
    val got = new ConcurrentLinkedQueue[(Long, Long, String, Long)]()
    val q = StreamPipelines.clickCount(in.toDF(), "ts", "page")
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: DataFrame, id: Long) =>
        b.collect().foreach(r =>
          got.add((id, r.getTimestamp(0).getTime - base, r.getString(1), r.getLong(2))))
        ()
      }.start()
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    got.asScala.toSeq
  }

  test("each closed 15s window counts exactly N events per page") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val n = 100
    val pages = Seq("/index", "/shop", "/news")
    val input = MemoryStream[Click]
    // two full windows, events spread evenly, out of order within ±150ms
    val base = 1700000000000L - (1700000000000L % 15000)
    val events = for {
      w <- 0 until 2
      p <- pages
      i <- 0 until n
    } yield Click(ts(base + w * 15000L + (i * 14999L / n)), p)
    input.addData(scala.util.Random.shuffle(events))
    // watermark flush: one event far past both windows
    input.addData(Click(ts(base + 60000L), "/flush"))

    val q = StreamPipelines.clickCount(input.toDF(), "ts", "page")
      .writeStream.format("memory").queryName("clicks")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val rows = s.sql(
        s"SELECT page, cnt FROM clicks WHERE w_start >= timestamp_millis(${base}L) " +
        s"AND w_start < timestamp_millis(${base + 30000L}L)").collect()
      assert(rows.length == pages.size * 2, s"got ${rows.toSeq}")
      assert(rows.forall(_.getLong(1) == n),
        s"windows not exactly $n: ${rows.toSeq}")
    } finally q.stop()
  }

  test("a window emits in the trigger that brings its page's event at its end + 200 ms") {
    // watermark 14.9 s in trigger 2: Spark's windowed count would close
    // [0, 15 s) of /a a trigger later, and /b's stays open
    val out = triggers(Seq(
      Seq(at(1000, "/a"), at(14000, "/a"), at(2000, "/b")),
      Seq(at(15100, "/a")),   // 15.1 s - 200 ms: before the window end
      Seq(at(15200, "/a"))))  // 15.2 s - 200 ms: at it
    assert(out == Seq((2L, 0L, "/a", 2L)), s"$out")
  }

  test("a quiet page's window emits once the watermark passes its end") {
    // /a has no later event; its timer fires in trigger 2, the first
    // that runs with a watermark (29.8 s) past the window end
    val out = triggers(Seq(
      Seq(at(1000, "/a"), at(2000, "/b")),
      Seq(at(30000, "/b")),
      Seq(at(31000, "/b"))))
    assert(out == Seq((1L, 0L, "/b", 1L), (2L, 0L, "/a", 1L)), s"$out")
  }

  test("a row for an already-emitted window is dropped, never emitted twice") {
    val out = triggers(Seq(
      Seq(at(1000, "/a"), at(16000, "/a")),  // [0, 15 s) emits: cut 15.8 s
      Seq(at(14000, "/a"), at(17000, "/a")), // at or before /a's last cut
      Seq(at(60000, "/b")),
      Seq(at(61000, "/b")),                  // /a's timer: [15 s, 30 s) emits, state goes
      Seq(at(2000, "/a"), at(62000, "/b")),  // at or before the watermark
      Seq(at(90000, "/b")),
      Seq(at(91000, "/b"))))
    assert(out.filter(_._3 == "/a") == Seq((0L, 0L, "/a", 1L), (3L, 15000L, "/a", 2L)), s"$out")
  }

  test("random in-order input over several triggers equals the batch count on closed windows") {
    val rnd = new scala.util.Random(7)
    val pages = Seq("/a", "/b", "/c")
    val events = Iterator.iterate(0L)(_ + rnd.nextInt(120)).take(3000)
      .map(ms => at(ms, pages(rnd.nextInt(pages.size)))).toVector
    val cuts = (0 +: Seq.fill(9)(rnd.nextInt(events.size)).sorted :+ events.size).distinct
    val batches = cuts.sliding(2).map { case Seq(a, b) => events.slice(a, b) }.toSeq
    val out = triggers(batches)
    val s = spark
    import s.implicits._
    val batch = events.toDF().groupBy(window(col("ts"), "15 seconds"), col("page")).count()
      .collect().map(r => ((r.getStruct(0).getTimestamp(0).getTime - base, r.getString(1)), r.getLong(2)))
      .toMap
    // closed: the window ends at or before the last trigger's watermark
    // (200 ms behind every earlier trigger's events) or its page's cut
    // (200 ms behind the page's newest event)
    val lastWm = batches.init.flatten.map(_.ts.getTime - base).max - 200
    val pageCut = events.groupBy(_.page).map { case (p, es) => p -> (es.map(_.ts.getTime - base).max - 200) }
    val closed = batch.filter { case ((start, page), _) =>
      start + 15000 <= math.max(lastWm, pageCut(page)) }
    val emitted = out.map(o => ((o._2, o._3), o._4))
    assert(emitted.size == emitted.map(_._1).distinct.size, s"a window emitted twice: $out")
    assert(emitted.toMap == closed, s"emitted $out, expected $closed")
    assert(closed.size >= 10, s"$closed")
  }

  /** Shuffle records written per stage of each job group. */
  private final class ShuffleWrites extends SparkListener {
    val stagesOf = new ConcurrentHashMap[String, Set[Int]]()
    val written = new ConcurrentHashMap[Int, (Int, Long)]() // stage -> (tasks, records)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
        stagesOf.merge(g, e.stageIds.toSet, (a, b) => a ++ b)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      written.put(info.stageId, (info.numTasks, info.taskMetrics.shuffleWriteMetrics.recordsWritten))
    }
  }

  test("skew guard: the shuffle into the per-page operator does not grow with the events") {
    // one trigger over 2 pages and 2 windows, from 4 input partitions.
    // Raw events would put every event of a page on one task.
    def shuffled(n: Int): (Int, Long) = {
      val sess = spark.newSession()
      sess.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      val in = MemoryStream[Click](4)
      in.addData((0 until n).map(i => at(i * 30000L / n, if (i % 2 == 0) "/a" else "/b")))
      val l = new ShuffleWrites
      val sc = sess.sparkContext
      sc.addSparkListener(l)
      val q = StreamPipelines.clickCount(in.toDF(), "ts", "page")
        .writeStream.outputMode(OutputMode.Append())
        .foreachBatch { (b: DataFrame, _: Long) => b.collect(); () }.start()
      try {
        q.processAllAvailable()
        q.stop()
        // the bus delivers in order: once a later job's stage completes,
        // every stage of the query has been seen
        sc.setJobGroup("fence", "fence")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        val deadline = System.currentTimeMillis() + 30000
        def fenced = Option(l.stagesOf.get("fence")).exists(_.forall(l.written.containsKey))
        while (!fenced && System.currentTimeMillis() < deadline) Thread.sleep(5)
        assert(fenced, "listener bus did not deliver the fence stage")
        val writes = l.stagesOf.get(q.runId.toString).toSeq.map(l.written.get).filter(_._2 > 0)
        assert(writes.size == 1, s"$writes")
        writes.head
      } finally { q.stop(); sc.removeSparkListener(l) }
    }
    val (tasks, big) = shuffled(200000)
    assert(tasks == 4, s"$tasks input partitions")
    assert(big <= tasks * 2 * 2, s"$big shuffle records from $tasks partitions")
    assert(shuffled(20000) == (tasks, big))
    info(s"$big shuffle records from $tasks input partitions, at 200k and at 20k events")
  }
}
