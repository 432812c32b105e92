package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import graft.streaming.SeqPattern.micros

/** Per-key finality horizon of the watermark-buffered operators
  * (`SeqPattern.detectOrdered`, `StatefulOps.funnelTrack`,
  * `StatefulOps.eventTimeAsOfJoin`). Each buffers a key's events and
  * consumes them in event-time order once no earlier event of the key
  * can still reach it. `StreamPipelines.clickCount` closes a page's
  * windows by the same cut.
  *
  * The watermark alone proves that one trigger late. Trigger N ends by
  * computing W = (max event time seen) - D. Trigger N+1 runs with W as
  * its watermark, but drops late rows by the watermark trigger N ran
  * with; only trigger N+2 drops rows at or before W. (This is Spark's
  * rule while `spark.sql.streaming.statefulOperator.allowMultiple` is
  * on, the default.) So trigger N+1 may release up to W and no
  * further, and an event waits a trigger for the watermark to pass it.
  *
  * The horizon closes that gap per key. Once a key has seen an event at
  * `m`, its rows at or before `m - D` are final: the operator drops a
  * later row at or before that horizon as late itself, where Spark
  * would let it through for one more trigger. In return the key
  * releases up to max(watermark, horizon of its newest event) in the
  * trigger that brought that event. Released rows are at or before
  * that cut, and every row of a later trigger is above it: above the
  * previous watermark (Spark's filter) and above the horizon (this one).
  *
  * The horizon needs no state of its own. While a key buffers events,
  * its newest event is among them: nothing above the cut is released.
  * Once nothing is buffered, the watermark has passed every event of
  * the key (D >= 1 ms keeps each event above its own horizon), so
  * Spark's filter is the bound. Like Spark's watermark
  * (`microsToMillis` floors), the horizon floors the newest event to
  * its millisecond.
  *
  * D must bound every input row, so the horizon is on only when all
  * rows pass through exactly one `withWatermark` whose event-time
  * column is the event-time column itself (same attribute; `ts` unless
  * the operator names another) and whose delay is at least 1 ms.
  * Otherwise `delayMs` is None and the operators keep the global rule:
  * release at the watermark, no extra late drop. */
private[streaming] final case class Finality(delayMs: Option[Long]) {
  /** Rows of the key at or before this µs instant are final: with the
    * key's newest buffered event at `maxUs` (None: nothing buffered),
    * a later row at or before it is late. Long.MinValue when off. */
  def lateUs(maxUs: Option[Long]): Long =
    (for (d <- delayMs; m <- maxUs) yield (Math.floorDiv(m, 1000L) - d) * 1000L)
      .getOrElse(Long.MinValue)

  /** Release cut in µs: every buffered row at or before it is final.
    * `maxUs` is the key's newest event, buffered or new. */
  def cutUs(wmMs: Long, maxUs: Option[Long]): Long =
    math.max(wmMs * 1000L, lateUs(maxUs))

  /** One key's call: drops the new events that are late, then splits
    * buffered and new events into the final ones (at or before the cut)
    * and the ones still buffered. Returns (final, buffered, cut). */
  def release(buffered: List[KeyedEvent], events: Iterator[KeyedEvent],
              wmMs: Long): (List[KeyedEvent], List[KeyedEvent], Long) = {
    val late = lateUs(buffered.map(e => micros(e.ts)).maxOption)
    val all = buffered ++ events.filter(e => micros(e.ts) > late)
    val cut = cutUs(wmMs, all.map(e => micros(e.ts)).maxOption)
    val (mature, pending) = all.partition(e => micros(e.ts) <= cut)
    (mature, pending, cut)
  }
}

private[streaming] object Finality {
  def of(ds: Dataset[_], tsCol: String = "ts"): Finality = {
    val plan = ds.queryExecution.analyzed
    val ts = plan.output.filter(_.name.equalsIgnoreCase(tsCol))
    val delay = plan.collect { case w: EventTimeWatermark => w } match {
      case Seq(w) if ts.size == 1 && ts.head.exprId == w.eventTime.exprId &&
          w.child.collectLeaves().size == plan.collectLeaves().size =>
        Some(EventTimeWatermark.getDelayMs(w.delay)).filter(_ > 0)
      case _ => None
    }
    Finality(delay)
  }
}
