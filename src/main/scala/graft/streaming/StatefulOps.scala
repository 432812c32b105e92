package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.streaming.SeqPattern.micros

/** Keyed event shape shared by the stateful operators (mirrors the
  * reference's keyed DataStream element: key + event time + tag +
  * measure). */
case class KeyedEvent(key: Long, ts: Timestamp, kind: String, value: Double)

object KeyedEvent {
  /** Typed ingestion boundary for the CEP / MATCH_RECOGNIZE family.
    *
    * An event row with a NULL key, timestamp, kind, or measure cannot
    * participate in keyed sequence detection (no partition to route it
    * to, no position in event time, no symbol, no measure), and the
    * primitive-field Encoder would throw NOT_NULL_ASSERT_VIOLATION on
    * it. These pipelines already define contiguity over a pre-filtered
    * stream (`isin` on the kind column drops NULL kinds by SQL
    * three-valued logic), so excluding malformed rows here keeps one
    * consistent contract: nulls never match, never break, never crash —
    * the same skip-null semantics SQL gives equi-joins and aggregates.
    *
    * NULL only: a NaN measure is a present value and must keep flowing
    * (it still occupies its slot in the sequence, so strict contiguity
    * sees it) — `na.drop` would silently drop NaN doubles too, which
    * under strict contiguity could fabricate matches the reference
    * engine rejects. Hence explicit IS NOT NULL conjuncts, not na.drop.
    */
  def ingest(df: org.apache.spark.sql.DataFrame): Dataset[KeyedEvent] = {
    import org.apache.spark.sql.functions.col
    df.filter(col("key").isNotNull && col("ts").isNotNull &&
        col("kind").isNotNull && col("value").isNotNull)
      .as[KeyedEvent](Encoders.product[KeyedEvent])
  }
}

case class CountWindowOut(key: Long, windowSeq: Long, cnt: Long, sum: Double)

/** Streaming UV output: distinct-visitor count for one tumbling
  * window, updated per micro-batch. */
case class UvCount(windowStart: Timestamp, uv: Long)

/** Bounded per-window UV state: a fixed bloom bitset + running count
  * (never grows with visitor cardinality). */
case class BloomUvState(bits: Array[Long], count: Long)
case class AlertOut(key: Long, kind: String, firstTs: Timestamp,
                    lastTs: Timestamp, detail: Double)

/** One LSH band collision: `docId` shares band `band` with the earlier
  * `firstDocId` (streaming near-dup evidence). */
case class BandHit(docId: Long, band: Int, firstDocId: Long)

/** Funnel progression state: watermark buffer + the three stage marks
  * (epoch ms, -1 = not reached). Permanent part is O(1) per user. */
case class FunnelState(pending: List[KeyedEvent], t1: Long, t2: Long, t3: Long)

/** Running one-sided CUSUM statistic + sample count (O(1) per key). */
case class CusumState(s: Double, n: Long)

/** Streaming stratified-sample state: emission version + the kept
  * (priority, key) pairs, bounded at k per stratum. */
case class KSampleState(ver: Long, kept: List[(Long, Long)])
case class KSampleOut(kind: String, ver: Long, rank: Int, key: Long,
                      priority: Long)

/** First completion of funnel `stage` (1-based) for user `key`. */
case class FunnelOut(key: Long, stage: Int, ts: Timestamp)

/** Stateful streaming operators (SURVEY §2.11 / §7.2 step 4), each a
  * `flatMapGroupsWithState` over a keyed stream — Spark's analogue of
  * the reference's KeyedProcessFunction + ValueState + timers.
  *
  * State per key is O(1) (counters / a single pending event), so at
  * 1000 executors the state store scales with #keys, never with
  * #events — the property that keeps these safe at 100 TB/day.
  *
  * Reference semantics ported:
  *   - count windows: Window.scala:201-256 (countWindow tumbling)
  *   - fraud small-then-large: FraudDetector.scala:17-60
  *   - A-not-followed-by-B timeout: TimeoutMatchByCep.scala /
  *     OrderPaymentCheckByCEPApp.scala:36-50, LongRidesSolution.scala
  *   - dedup-by-key state flag: DuplicatorApp.scala:11-40
  */
object StatefulOps {
  implicit val keyedEventEnc: Encoder[KeyedEvent] = Encoders.product[KeyedEvent]
  implicit val countOutEnc: Encoder[CountWindowOut] = Encoders.product[CountWindowOut]
  implicit val alertEnc: Encoder[AlertOut] = Encoders.product[AlertOut]
  implicit val uvEnc: Encoder[UvCount] = Encoders.product[UvCount]
  implicit val bloomUvEnc: Encoder[BloomUvState] = Encoders.product[BloomUvState]

  /** Tumbling COUNT window (fires every `n` events per key) — the
    * operator Spark lacks natively (no count-based triggers). */
  def countTumblingWindow(ds: Dataset[KeyedEvent], n: Int): Dataset[CountWindowOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[(Long, Long, Double), CountWindowOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, events, state: GroupState[(Long, Long, Double)]) =>
          var (seq, cnt, sum) = state.getOption.getOrElse((0L, 0L, 0.0))
          val out = scala.collection.mutable.ArrayBuffer.empty[CountWindowOut]
          events.foreach { e =>
            cnt += 1; sum += e.value
            if (cnt == n) {
              out += CountWindowOut(key, seq, cnt, sum)
              seq += 1; cnt = 0; sum = 0.0
            }
          }
          state.update((seq, cnt, sum))
          out.iterator
      }
  }

  /** Fraud pattern: a small (< smallMax) event immediately followed by
    * a large (> largeMin) event within `gapMs` — FraudDetector
    * semantics (ValueState flag + timer ≈ stored small-event ts).
    * State is the pending small-event ts in millis, -1 = none
    * (sentinel instead of Option: O(1) state, product-encodable). */
  def fraudDetector(ds: Dataset[KeyedEvent], smallMax: Double, largeMin: Double,
                    gapMs: Long): Dataset[AlertOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[Long, AlertOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, events, state: GroupState[Long]) =>
          var pendingSmall: Long = state.getOption.getOrElse(-1L)
          val out = scala.collection.mutable.ArrayBuffer.empty[AlertOut]
          // per-key arrival order = event-time order within a batch
          events.toSeq.sortBy(e => (e.ts.getTime, e.value)).foreach { e =>
            // "immediately followed": the pending-small flag is
            // evaluated against the NEXT transaction and then cleared
            // whatever that transaction was (FraudDetector2.scala:
            // 37-47 clears flagState after every flagged check) — a
            // middle-valued event breaks the pattern; without the
            // unconditional clear, small→mid→large would false-alarm.
            if (pendingSmall >= 0) {
              if (e.value > largeMin && e.ts.getTime - pendingSmall <= gapMs)
                out += AlertOut(key, "fraud", new Timestamp(pendingSmall), e.ts, e.value)
              pendingSmall = -1L
            }
            if (e.value < smallMax) pendingSmall = e.ts.getTime
          }
          state.update(pendingSmall)
          out.iterator
      }
  }

  /** A (kind==startKind) not followed by B (kind==endKind) within
    * `timeoutMs` → timeout alert, using an EVENT-TIME timer driven by
    * the stream's watermark (order-timeout / long-rides semantics).
    * Matched pairs emit a "matched" row; expired starts emit "timeout".
    */
  def matchWithTimeout(ds: Dataset[KeyedEvent], startKind: String,
                       endKind: String, timeoutMs: Long): Dataset[AlertOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[Long, AlertOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, events, state: GroupState[Long]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[AlertOut]
          if (state.hasTimedOut) {
            val ts = state.getOption.getOrElse(-1L)
            if (ts >= 0)
              out += AlertOut(key, "timeout", new Timestamp(ts), new Timestamp(ts), 0.0)
            state.remove()
          } else {
            var pending: Long = state.getOption.getOrElse(-1L)
            events.toSeq.sortBy(_.ts.getTime).foreach { e =>
              e.kind match {
                case k if k == startKind =>
                  pending = e.ts.getTime
                case k if k == endKind =>
                  if (pending >= 0) {
                    if (e.ts.getTime - pending <= timeoutMs)
                      out += AlertOut(key, "matched", new Timestamp(pending), e.ts, e.value)
                    else
                      // the end arrived, but past the horizon: the
                      // start had ALREADY expired — the event-time
                      // timer just hasn't fired yet because the
                      // watermark lags arrivals. Emit the timeout the
                      // timer would have emitted; clearing silently
                      // would lose the alert (the timer later finds
                      // pending == -1 and stays quiet).
                      out += AlertOut(key, "timeout", new Timestamp(pending),
                        new Timestamp(pending), 0.0)
                  }
                  pending = -1L
                case _ => ()
              }
            }
            state.update(pending)
            if (pending >= 0) state.setTimeoutTimestamp(pending + timeoutMs)
          }
          out.iterator
      }
  }

  /** Processing-time temporal join (the reference's
    * `FOR SYSTEM_TIME AS OF o.proctime` lookup-join flavor,
    * TableSQLFunc.scala:1462-1530 / QueryTest.scala:778-846): a
    * union-tagged pair of streams sharing a key; "dim" rows update
    * per-key state, "fact" rows emit enriched with the latest dim
    * value seen so far. State is one value per key — the streaming
    * as-of with O(keys) state. (The event-time flavor needs
    * watermark-ordered buffering; batch event-time as-of is
    * operators/AsOfJoin.)
    *
    * Input convention: kind == dimKind rows carry the dim value in
    * `value`; all other rows are facts. */
  def procTimeTemporalJoin(ds: Dataset[KeyedEvent], dimKind: String)
      : Dataset[AlertOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[Double, AlertOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, events, state: GroupState[Double]) =>
          var dim: Double = state.getOption.getOrElse(Double.NaN)
          val out = scala.collection.mutable.ArrayBuffer.empty[AlertOut]
          events.toSeq.sortBy(e => (e.ts.getTime, e.kind, e.value)).foreach { e =>
            if (e.kind == dimKind) dim = e.value
            else out += AlertOut(key, e.kind, e.ts, e.ts, dim)
          }
          state.update(dim)
          out.iterator
      }
  }

  /** Buffered event + running state for the event-time as-of join. */
  case class AsOfBuf(ts: Long, isDim: Boolean, value: Double, kind: String)
  case class AsOfState(buf: List[AsOfBuf], rate: Double, hasRate: Boolean)

  /** EVENT-time temporal/as-of join, streaming flavor
    * (TableSQLFunc.scala:1223-1341 temporal table function join): facts
    * match the dim value valid AT THEIR EVENT TIME, not the latest
    * seen. Both sides buffer per key until their timestamp is final
    * (the watermark or the key's `Finality` horizon passes it), then
    * flush in event-time order — dim rows update the rate, fact rows
    * emit with the rate in force. The buffer keeps millisecond
    * timestamps, so a millisecond flushes only once all of it is at
    * or before the release cut: a row in the same millisecond can
    * still arrive until then. Buffer size is
    * bounded by the watermark delay (state ∝ in-flight horizon, the
    * same bound Flink's temporal join keeps); an event-time timer
    * flushes the tail when one side goes quiet.
    *
    * Requires `withWatermark("ts", delay)` on the input. */
  def eventTimeAsOfJoin(ds: Dataset[KeyedEvent], dimKind: String)
      : Dataset[AlertOut] = {
    import ds.sparkSession.implicits._
    val fin = Finality.of(ds)
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[AsOfState, AlertOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, events, state: GroupState[AsOfState]) =>
          val st = state.getOption.getOrElse(AsOfState(Nil, Double.NaN, false))
          // the buffer keeps milliseconds, which is all the horizon
          // reads of the newest event: it floors it to its millisecond
          val lateUs = fin.lateUs(st.buf.map(_.ts * 1000L).maxOption)
          val incoming = events.filter(e => micros(e.ts) > lateUs).map(e =>
            AsOfBuf(e.ts.getTime, e.kind == dimKind, e.value, e.kind)).toList
          val wm = state.getCurrentWatermarkMs()
          val all = (st.buf ++ incoming).sortBy(b => (b.ts, !b.isDim, b.value))
          val cutUs = fin.cutUs(wm, all.map(_.ts * 1000L).maxOption)
          // a millisecond is final once its last microsecond is
          val (ripe, young) = all.partition(_.ts * 1000L + 999L <= cutUs)
          var rate = st.rate
          var hasRate = st.hasRate
          val out = scala.collection.mutable.ArrayBuffer.empty[AlertOut]
          ripe.foreach { b =>
            if (b.isDim) { rate = b.value; hasRate = true }
            else out += AlertOut(key, b.kind, new Timestamp(b.ts),
              new Timestamp(b.ts), if (hasRate) rate else Double.NaN)
          }
          if (young.isEmpty && out.isEmpty && incoming.isEmpty && state.hasTimedOut) {
            state.remove() // quiet key, nothing buffered
          } else {
            state.update(AsOfState(young, rate, hasRate))
            if (young.nonEmpty)
              state.setTimeoutTimestamp(young.map(_.ts).max + 1)
          }
          out.iterator
      }
  }

  /** First-seen dedup by key (DuplicatorApp state-flag semantics):
    * emits only the first event per key. */
  def firstSeen(ds: Dataset[KeyedEvent]): Dataset[KeyedEvent] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[Boolean, KeyedEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, events, state: GroupState[Boolean]) =>
          if (state.getOption.contains(true)) Iterator.empty
          else {
            state.update(true)
            events.toSeq.sortBy(e => (e.ts.getTime, e.value)).headOption.iterator
          }
      }
  }

  /** Streaming STRATIFIED exactly-k sample — the incremental twin of
    * batch `pipe_ksample`: per stratum (the event kind), keep the k
    * keys with the LOWEST salted-hash priority
    * h32("ksample:" + key). Because min-k under a content-derived
    * priority is a semilattice (commutative, associative,
    * idempotent), the final kept set is ARRIVAL-ORDER-INDEPENDENT and
    * equals what the batch window computes over the same rows — the
    * property that makes the sample reproducible across replays,
    * repartitions, and late data. State is the <= k-pair list per
    * stratum (bounded); each micro-batch that changes a stratum's
    * set re-emits it under a bumped version (consumers keep the max
    * version per stratum). */
  def stratifiedKSample(ds: Dataset[KeyedEvent], k: Int): Dataset[KSampleOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.kind)
      .flatMapGroupsWithState[KSampleState, KSampleOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (kind, events, state: GroupState[KSampleState]) =>
          val st = state.getOption.getOrElse(KSampleState(0L, Nil))
          val merged = (st.kept ++ events.map(e =>
              (graft.functions.HashKernels.h32("ksample:" + e.key), e.key)))
            .distinct.sorted.take(k)
          if (merged == st.kept) Iterator.empty
          else {
            val next = KSampleState(st.ver + 1, merged)
            state.update(next)
            merged.zipWithIndex.iterator.map { case ((p, key), i) =>
              KSampleOut(kind, next.ver, i + 1, key, p)
            }
          }
      }
  }

  /** Streaming one-sided CUSUM alarm (Page's test, the streaming twin
    * of the batch `tw_cpd` scan): per key,
    *   S_t = max(0, S_{t-1} + (x_t − μ − slack))
    * and an alert fires when S_t crosses `h`, after which the
    * statistic resets (the standard restart-after-alarm protocol).
    * Detects a sustained mean SHIFT that no single-point threshold
    * sees — each sample may be individually unremarkable. State per
    * key is two scalars (the running statistic + sample count), so
    * the store scales with #keys, never stream length. Events within
    * a micro-batch process in (event-time, value) order, making
    * replays deterministic; cross-batch ordering relies on the
    * upstream watermark as with the other stateful ops. */
  def cusumAlerts(ds: Dataset[KeyedEvent], mu: Double, slack: Double,
                  h: Double): Dataset[AlertOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[CusumState, AlertOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, events, state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(CusumState(0.0, 0L))
          val out = scala.collection.mutable.ListBuffer[AlertOut]()
          events.toSeq.sortBy(e => (e.ts.getTime, e.value)).foreach { e =>
            val s1 = math.max(0.0, st.s + (e.value - mu - slack))
            if (s1 > h) {
              out += AlertOut(key, "cusum", e.ts, e.ts, s1)
              st = CusumState(0.0, st.n + 1)
            } else st = CusumState(s1, st.n + 1)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming NEAR-dup detection — the incremental form of
    * `dd_minhash`: each arriving doc's MinHash signature is split into
    * LSH bands; state is keyed by (band, band-key) and holds only the
    * FIRST doc_id that claimed the bucket, so a doc similar to any
    * previously-seen doc collides in >=1 bucket and is emitted as a
    * `BandHit` against that original. State is O(1) per distinct band
    * bucket — at 100 TB/day the store scales with content diversity,
    * not stream length — and `ttlMs > 0` adds EVENT-time eviction (the
    * dedup horizon): a bucket unseen for `ttlMs` of event time is
    * dropped once the watermark passes, so the store is bounded in
    * time as well. (Event-time, not processing-time: horizons replay
    * deterministically from history, and no-data micro-batches aren't
    * hot-looped just to poll wall-clock timers.) Eviction is
    * batch-granular: a collision arriving in the same micro-batch
    * that would expire its bucket still matches.
    * In-batch ties resolve to the lowest doc_id (deterministic).
    * Consumers wanting a per-doc verdict aggregate hits downstream
    * (any hit -> near-dup of `firstDocId`). */
  /** Daily click-cap blacklist (hot-item/.../black/
    * FilterBlackListUser.scala:19-50): per key, clicks pass through
    * until the daily cap; the first click beyond it emits ONE
    * blacklist warning for that day, further ones are swallowed, and
    * the counter resets at the (event-time) day boundary — the
    * reference registers a midnight timer, here the day is derived
    * from event time so a replay produces identical output. Emits the
    * surviving clicks (kind unchanged) interleaved with the warnings
    * (kind = "blacklist", detail = cap); the caller splits them to
    * main/side sinks (StreamPipelines.splitToSinks). State per key is
    * three scalars; an EventTimeTimeout at the day boundary reclaims
    * idle keys. */
  def dailyCapBlacklist(clicks: Dataset[KeyedEvent], cap: Int,
                        dayMs: Long = 86400000L): Dataset[KeyedEvent] = {
    val spark = clicks.sparkSession
    import spark.implicits._
    // state: (dayStart, countToday, warnedToday)
    clicks.groupByKey(_.key)
      .flatMapGroupsWithState[(Long, Long, Boolean), KeyedEvent](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, events, state: GroupState[(Long, Long, Boolean)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[KeyedEvent]
            var (day, n, warned) =
              state.getOption.getOrElse((Long.MinValue, 0L, false))
            events.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val eDay = Math.floorDiv(e.ts.getTime, dayMs) * dayMs
              // Only a FORWARD day change opens a new day. A bounded-late
              // event from an already-closed earlier day (newer than the
              // watermark, so not dropped upstream) must not wipe the
              // current day's count — that would let clicks past the cap
              // and re-emit a second warning. Its own day's count state
              // is gone, so the conservative cap-enforcing choice is to
              // drop it rather than risk exceeding that day's cap.
              if (eDay > day) { day = eDay; n = 0L; warned = false }
              if (eDay == day) {
                if (n < cap) { n += 1; out += e }
                else if (!warned) {
                  warned = true
                  out += KeyedEvent(key, e.ts, "blacklist", cap.toDouble)
                }
              }
            }
            state.update((day, n, warned))
            // reclaim state once the watermark passes the day boundary
            state.setTimeoutTimestamp(
              math.max(day + dayMs, state.getCurrentWatermarkMs + 1))
            out.iterator
          }
      }
  }

  /** Streaming unique-visitor count per tumbling window with BOUNDED
    * state: a fixed-size bloom bitset + running count per window in
    * GroupState — the reference's bloom UV
    * (hot-item/.../uv/UvCountWithBloomByElement.scala:23-39 +
    * Bloom.scala, UvTriggerByElement FIRE_AND_PURGE) with redis
    * replaced by keyed state and element-level firing becoming
    * per-micro-batch update emission. The count increments only when
    * every probed bit was unset, so state is O(bloom bits) per window
    * regardless of cardinality; collisions undercount, exactly like
    * the reference's bloom (two probes here vs its one). The event
    * `key` is the visitor id. Window state is reclaimed by an
    * EventTimeTimeout once the watermark (event time minus
    * `lateness`) passes the window end, so total state is O(live
    * windows), not O(stream lifetime); the window key uses floorDiv
    * so pre-epoch timestamps bucket consistently with
    * dailyCapBlacklist. */
  def uvWithBloom(ds: Dataset[KeyedEvent], windowMs: Long,
                  bits: Int = 1 << 16,
                  lateness: String = "10 minutes"): Dataset[UvCount] = {
    val spark = ds.sparkSession
    import spark.implicits._
    require(Integer.bitCount(bits) == 1, "bloom size must be a power of two")
    val mask = bits - 1
    ds.withWatermark("ts", lateness)
      .groupByKey(e => Math.floorDiv(e.ts.getTime, windowMs) * windowMs)
      .flatMapGroupsWithState[BloomUvState, UvCount](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        case (wstart, events, state: GroupState[BloomUvState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
          var st = state.getOption.getOrElse(
            BloomUvState(new Array[Long](bits / 64), 0L))
          events.foreach { e =>
            // two independent probes off one avalanched hash
            val h = scala.util.hashing.byteswap64(e.key)
            val p1 = (h & mask).toInt
            val p2 = ((h >>> 32) & mask).toInt
            def isSet(p: Int) = (st.bits(p >> 6) & (1L << (p & 63))) != 0
            if (!isSet(p1) || !isSet(p2)) {
              st.bits(p1 >> 6) |= 1L << (p1 & 63)
              st.bits(p2 >> 6) |= 1L << (p2 & 63)
              st = BloomUvState(st.bits, st.count + 1)
            }
          }
          state.update(st)
          // reclaim the bloom once the watermark passes the window end
          state.setTimeoutTimestamp(
            math.max(wstart + windowMs, state.getCurrentWatermarkMs + 1))
          Iterator(UvCount(new Timestamp(wstart), st.count))
          }
      }
  }

  /** Event-driven funnel progression — the streaming twin of the batch
    * `agg_funnel` query (per-user earliest s1 → earliest s2 at/after
    * it → earliest s3 at/after that), as a KeyedProcessFunction-style
    * stateful op: one FunnelOut(stage, ts) row the first time each
    * stage completes for a user.
    *
    * Correct under bounded out-of-order delivery: events are BUFFERED
    * per user until they are final (the watermark passes them, or the
    * user's `Finality` horizon does, as in `SeqPattern.detectOrdered`),
    * then folded in µs event-time order (stage priority breaks exact
    * ts ties so an s2 at exactly t1 still counts, matching the batch
    * `>=`). Updating the
    * stage marks incrementally WITHOUT the buffer would be wrong — a
    * late s1 arriving below an already-recorded t1 could enable an
    * earlier s2 that was already discarded. Permanent state is 3
    * longs per user (the reference's ValueState shape); the pending
    * buffer drains to the release cut every batch, and the event-time
    * timer matures a quiet user's buffer without further traffic. */
  def funnelTrack(ds: Dataset[KeyedEvent], s1: String, s2: String,
                  s3: String): Dataset[FunnelOut] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val prio = Map(s1 -> 0, s2 -> 1, s3 -> 2).withDefaultValue(3)
    val fin = Finality.of(ds)
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, events, state: GroupState[FunnelState]) =>
          val st = state.getOption.getOrElse(FunnelState(Nil, -1L, -1L, -1L))
          val wm = state.getCurrentWatermarkMs()
          val (mature, pending, _) = fin.release(st.pending, events, wm)
          var (t1, t2, t3) = (st.t1, st.t2, st.t3)
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelOut]
          mature.sortBy(e => (micros(e.ts), prio(e.kind), e.value))
            .foreach { e =>
              if (t1 < 0 && e.kind == s1) {
                t1 = e.ts.getTime; out += FunnelOut(key, 1, e.ts)
              } else if (t1 >= 0 && t2 < 0 && e.kind == s2) {
                t2 = e.ts.getTime; out += FunnelOut(key, 2, e.ts)
              } else if (t2 >= 0 && t3 < 0 && e.kind == s3) {
                t3 = e.ts.getTime; out += FunnelOut(key, 3, e.ts)
              }
            }
          state.update(FunnelState(pending, t1, t2, t3))
          if (pending.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(pending.map(_.ts.getTime).min + 1, wm + 1))
          out.iterator
      }
  }

  def nearDupStream(docs: Dataset[(Long, String, Timestamp)],
                    ttlMs: Long = 0L,
                    watermarkDelay: String = "0 seconds"): Dataset[BandHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val B = 4; val R = 4
    val bandArr = array((0 until B).map(b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until R).map(r =>
          element_at(col("ms"), b * R + r + 1)): _*).as("bkey"))): _*)
    val bands0 = docs.toDF("docId", "text", "ts")
      .withColumn("tk", graft.functions.TextOps.tokens(col("text")))
      .withColumn("ms", graft.functions.VectorFunctions.shingleMinhash(col("tk"), 3))
      .filter(col("ms").isNotNull)
      .withColumn("bb", explode(bandArr))
      .select(col("docId"), col("ts"), col("bb.band").as("band"),
        col("bb.bkey").as("bkey"))
    val bands =
      (if (ttlMs > 0) bands0.withWatermark("ts", watermarkDelay) else bands0)
        .as[(Long, Timestamp, Int, String)]
    val timeout =
      if (ttlMs > 0) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    bands.groupByKey(r => s"${r._3}:${r._4}")
      .flatMapGroupsWithState[Long, BandHit](OutputMode.Append(), timeout) {
        case (_, rows, state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(_._1)
            val first = state.getOption.getOrElse(sorted.head._1)
            if (!state.exists) state.update(first)
            if (ttlMs > 0) {
              // re-arm on every sighting: the horizon slides from the
              // bucket's latest event, and must stay above the watermark
              val maxTs = sorted.map(_._2.getTime).max
              state.setTimeoutTimestamp(
                math.max(maxTs + ttlMs, state.getCurrentWatermarkMs + 1))
            }
            sorted.collect { case (id, _, band, _) if id != first =>
              BandHit(id, band, first)
            }.iterator
          }
      }
  }
}
