package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.MetadataBuilder

/** Canonical Structured-Streaming pipelines (SURVEY §7.2 step 3).
  * Each takes an input DataFrame/Dataset so the same topology runs on
  * a MemoryStream (tests), a file stream, or Kafka (production) —
  * mirroring how the reference parameterizes sources
  * (ExerciseBase.rides swap, TaxiRideTestBase.java:25-99).
  */
object StreamPipelines {

  /** ClickEventCount (flink-prometheus ClickEventCount.java:65-104):
    * 15s tumbling count per page, bounded out-of-orderness 200 ms.
    * Invariant under the deterministic generator: every closed window
    * holds exactly EVENTS_PER_WINDOW per page.
    *
    * Two steps. A stateless `mapPartitions` folds each input partition
    * of a micro-batch into one `ClickPartial` per (window, page), so
    * the shuffle carries at most partitions x windows x pages rows per
    * trigger, as Spark's partial aggregation would. A per-page
    * `flatMapGroupsWithState` then adds them to the page's open windows
    * and emits, once, each window whose end is at or before the page's
    * cut: `Finality.cutUs` of the watermark and the page's newest
    * event. A window thus closes in the trigger that brings an event of
    * its page at or after its end + 200 ms, where Spark's windowed
    * aggregation closes it a trigger after the watermark passes; a
    * quiet page's windows close at the watermark through an event-time
    * timer. With a second watermark on the input the horizon is off and
    * windows close at the watermark alone.
    *
    * Late rule, per window: a partial row is dropped when its window
    * ends at or before the current watermark or the page's last cut,
    * so a counted row is whole and no window emits twice (Spark's own
    * late filter, by the previous trigger's watermark, drops a subset
    * of these). Rows with a null event time are dropped, and the page
    * column is read as a string. The result supports append output
    * only. */
  def clickCount(events: DataFrame, tsCol: String = "ts",
                 pageCol: String = "page"): DataFrame = {
    val timed = events.withWatermark(tsCol, s"$ClickDelayMs milliseconds")
    val fin = Finality.of(timed, tsCol)
    val spark = events.sparkSession
    import spark.implicits._
    timed.where(col(tsCol).isNotNull)
      .select(unix_micros(col(tsCol)), col(pageCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val acc = scala.collection.mutable.HashMap.empty[(Long, String), ClickPartial]
        rows.foreach { case (us, page) =>
          val k = (us - Math.floorMod(us, ClickWindowUs), page)
          acc(k) = acc.get(k) match {
            case Some(p) => p.copy(cnt = p.cnt + 1, maxUs = math.max(p.maxUs, us))
            case None => ClickPartial(k._1, page, 1L, us)
          }
        }
        acc.valuesIterator
      }
      // flatMapGroupsWithState takes an event-time timeout only over an
      // input column that carries the watermark. The window end does:
      // Spark then drops a row whose window ends at or before the
      // previous trigger's watermark, which the rule below drops too.
      .withColumn("wEnd", timestamp_micros(col("wStartUs") + ClickWindowUs)
        .as("wEnd", new MetadataBuilder().putLong(EventTimeWatermark.delayKey, ClickDelayMs).build()))
      .as[ClickPartial]
      .groupByKey(_.page)
      .flatMapGroupsWithState[ClickWindows, ClickOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (page, partials, state: GroupState[ClickWindows]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val st = state.getOption.getOrElse(ClickWindows(Map.empty, Long.MinValue))
          val lateUs = math.max(wmMs * 1000L, st.cutUs)
          var open = st.open
          var newest = Option.empty[Long]
          partials.foreach { p =>
            newest = Some(newest.fold(p.maxUs)(math.max(_, p.maxUs)))
            if (p.wStartUs + ClickWindowUs > lateUs)
              open = open.updated(p.wStartUs, open.getOrElse(p.wStartUs, 0L) + p.cnt)
          }
          val cutUs = math.max(st.cutUs, fin.cutUs(wmMs, newest))
          val (closed, still) = open.partition(_._1 + ClickWindowUs <= cutUs)
          // once the watermark reaches the cut it drops every row the
          // cut would, and the page's state can go
          if (still.isEmpty && wmMs * 1000L >= cutUs) state.remove()
          else {
            state.update(ClickWindows(still, cutUs))
            // the timer fires once the watermark is past its timestamp:
            // at the earliest open window's end, or with none open, at
            // the cut
            val wakeUs = if (still.isEmpty) cutUs else still.keys.min + ClickWindowUs
            state.setTimeoutTimestamp(Math.floorDiv(wakeUs - 1, 1000L))
          }
          closed.toSeq.sortBy(_._1).iterator.map { case (start, cnt) =>
            ClickOut(SeqPattern.toTimestamp(start), page, cnt)
          }
      }
      .toDF("w_start", pageCol, "cnt")
  }

  private val ClickWindowUs = 15000000L
  private val ClickDelayMs = 200L
  /** One input partition's events of one (15 s window, page): their
    * count and the newest event time, in µs. */
  private[streaming] final case class ClickPartial(wStartUs: Long, page: String, cnt: Long, maxUs: Long)
  /** A page's open windows (start µs -> count) and the cut it last
    * closed windows at. */
  private[streaming] final case class ClickWindows(open: Map[Long, Long], cutUs: Long)
  private[streaming] final case class ClickOut(wStart: java.sql.Timestamp, page: String, cnt: Long)

  /** Streaming dedup within the watermark horizon
    * (dropDuplicatesWithinWatermark — the engine analogue of
    * row_number()=1 dedup, QueryTest.scala:1219-1248, with state
    * eviction bounded by the watermark). */
  def dedupWithinWatermark(events: DataFrame, tsCol: String,
                           keyCols: Seq[String], delay: String): DataFrame =
    events.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream interval join (DataStreamFunc.scala:1640-1685):
    * a-side joined to b-side events of the same key within
    * (a.ts, a.ts + window]; watermarks bound the join state. */
  def intervalJoin(a: DataFrame, b: DataFrame, key: String,
                   window: String): DataFrame = {
    val l = a.withWatermark("ts", "1 second").alias("l")
    val r = b.withWatermark("ts", "1 second").alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col("r.ts") > col("l.ts") &&
        col("r.ts") <= col("l.ts") + expr(s"INTERVAL $window"))
  }

  /** Streaming hot-items top-N (HotItems.scala:176-201 +
    * TopNHotItems.scala:15-52): watermarked sliding-window counts in
    * APPEND mode (a window emits once, when the watermark closes it —
    * the analogue of the reference's windowEnd+1 timer), then a
    * per-window rank in foreachBatch. Each closed window's top-N is
    * appended to the sink exactly once. */
  def hotItemsTopN(events: DataFrame, tsCol: String, keyCol: String,
                   size: String, slide: String, n: Int, delay: String)(
      sink: Dataset[org.apache.spark.sql.Row] => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.expressions.Window
    events
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), size, slide), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.end").as("w_end"), col(keyCol), col("cnt"))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val ranked = batch.withColumn("rn",
            row_number().over(Window.partitionBy("w_end")
              .orderBy(col("cnt").desc, col(keyCol))))
          .filter(col("rn") <= n)
        sink(ranked)
        ()
      }
  }

  /** Dynamic control-stream pattern (BroadcastProcessFuncApp.scala:8-38:
    * a control stream updates rules that a data stream applies to every
    * element). Spark port: the control stream UPSERTS a rules table
    * (key-ed parquet); the data stream's foreachBatch re-reads and
    * broadcast-joins the CURRENT rules each micro-batch — rule updates
    * take effect on the next trigger, matching broadcast-state
    * propagation semantics. Returns the data-side writer. */
  def controlledFilter(data: DataFrame, rulesDir: String, key: String,
                       sink: Dataset[org.apache.spark.sql.Row] => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    data.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val rules =
          try Some(spark.read.parquet(rulesDir)) catch { case _: Throwable => None }
        rules match {
          case Some(r) =>
            sink(batch.join(broadcast(r), Seq(key), "inner")
              .filter(col("value") >= col("min_value")))
          case None => () // no rules yet: drop everything (closed-by-default)
        }
        ()
    }

  /** Control-side: upsert rules (key, min_value) into the rules table. */
  def updateRules(spark: org.apache.spark.sql.SparkSession, rulesDir: String,
                  rules: Seq[(String, Double)]): Unit = {
    import spark.implicits._
    graft.sources.Writers.upsertParquet(
      rules.toDF("kind", "min_value"), rulesDir, Seq("kind"))
  }

  /** Side-output / multi-sink fanout via foreachBatch
    * (SideOutputApp1.scala:13-26; StatementSet multi-sink
    * TableSQLFunc.scala:532-590): one pass over each micro-batch,
    * split by predicate, two parquet sinks. The batch is cached so
    * the fanout reads the source once per trigger. The split is a
    * PARTITION — every row reaches exactly one sink: a NULL-valued
    * predicate routes to the B side (filter(pred) and filter(!pred)
    * would BOTH drop it, silently losing the row, which the side-
    * output contract forbids). */
  def splitToSinks(events: DataFrame, pred: org.apache.spark.sql.Column,
                   pathA: String, pathB: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.persist()
        batch.filter(coalesce(pred, lit(false))).write.mode("append").parquet(pathA)
        batch.filter(!coalesce(pred, lit(false))).write.mode("append").parquet(pathB)
        batch.unpersist()
        ()
    }
}
