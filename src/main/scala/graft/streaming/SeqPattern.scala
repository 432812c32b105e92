package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** CEP-lite: per-key sequence-pattern detection as an NFA interpreted
  * inside `flatMapGroupsWithState` — the Spark-native port of the
  * reference's CEP library core (CEPDemo.scala:32-949) and
  * MATCH_RECOGNIZE skeleton (TableSQLFunc.scala:1569-2240).
  *
  * Scope (covers every concrete reference scenario): ordered steps
  * with per-step predicates including AGGREGATE conditions over the
  * accumulated match (MATCH_RECOGNIZE `AVG(A.value)` in DEFINE,
  * TableSQLFunc.scala:1845-1851), contiguity `strict` (CEP `next`)
  * or `relaxed` (`followedBy`), non-deterministic `followedByAny` /
  * `allowCombinations` (Step.any / combinationsUpTo), condition
  * disjuncts (Step.or, CEP `.where(c1).or(c2)`), loop stop conditions
  * (Step.until, CEP `oneOrMore().until`), pattern groups (`group`,
  * CEPDemo patternGroup), `WITHIN` horizon, quantifiers
  * `times(n)`/`optional`, and AFTER MATCH skip strategies
  * SKIP_PAST_LAST_ROW / SKIP_TO_NEXT / NO_SKIP / SKIP_TO_FIRST /
  * SKIP_TO_LAST (CEPDemo.scala:808-949).
  *
  * State is the set of live partial matches per key, pruned by the
  * `within` horizon on every element — for deterministic steps
  * bounded by (pattern length × events inside the horizon), so the
  * state store stays O(keys × horizon density) at any scale. Each
  * `anyMatch` step (followedByAny / allowCombinations) multiplies the
  * bound by one more horizon-density factor: those combinators'
  * MATCH SETS are combinatorial by definition (every subsequence is a
  * distinct match — CepPropertySpec pins that semantics), so any
  * engine must carry one partial per live combination. Either way the
  * bound is independent of STREAM LENGTH — partials older than the
  * horizon expire on every element — which is the production
  * invariant; CepPropertySpec's flood tests assert both ceilings
  * empirically and StreamingSoakSpec reads the plateau off the state
  * store metrics.
  */
object SeqPattern {
  /** One NFA step: name + predicate over (kind, value), with CEP
    * quantifiers — `times(n)` repeats the step (CEPDemo times(n)),
    * `optional` lets it be skipped (CEPDemo optional). `oneOrMore`
    * with an upper bound maxRepeat expands to one required + maxRepeat-1
    * optional repetitions (bounded expansion keeps state finite). */
  case class Step(name: String, kinds: Set[String],
                  minValue: Double = Double.MinValue,
                  repeat: Int = 1, optional: Boolean = false,
                  // iterative/aggregate condition: (event value, values
                  // matched so far) => accept — the DEFINE-with-AVG class
                  relPred: Option[(Double, Seq[Double]) => Boolean] = None,
                  // negative guard (CEP notFollowedBy/notNext): never
                  // consumes a row; an event matching it while the
                  // partial's frontier is at or before the guard KILLS
                  // the partial. Must not lead or end a pattern.
                  negated: Boolean = false,
                  // CEP followedByAny / allowCombinations: on a hit the
                  // un-advanced partial ALSO survives, so EVERY later
                  // event matching this step forms its own branch
                  // (followedBy keeps only the first). CEPDemo.scala:
                  // 685-714 (followedByAny), :211-247 (allowCombinations).
                  anyMatch: Boolean = false,
                  // condition disjunct (CEP .where(c1).or(c2)): the step
                  // matches when EITHER the base (kinds/minValue/relPred)
                  // condition OR this predicate holds.
                  orPred: Option[KeyedEvent => Boolean] = None,
                  // loop stop condition (CEP oneOrMore().until(cond)):
                  // an event matching it stops the loop — branches that
                  // consume the event (e.g. the step after the loop)
                  // survive; the non-consuming loop partial dies, so no
                  // later event can extend or complete it.
                  untilPred: Option[KeyedEvent => Boolean] = None,
                  // navigation condition over the SYMBOL-TAGGED prefix
                  // (MATCH_RECOGNIZE FIRST/LAST(VAR.field, n) in DEFINE,
                  // TableSQLFunc.scala:1622-1712): receives the candidate
                  // event and (symbol, value) pairs of the rows matched
                  // so far. ANDs with the base condition.
                  navPred: Option[(KeyedEvent, Seq[(String, Double)]) => Boolean] = None) {
    def matches(e: KeyedEvent, prefix: Seq[Double],
                symPrefix: () => Seq[(String, Double)] = () => Nil): Boolean =
      (((kinds.isEmpty || kinds.contains(e.kind)) && e.value >= minValue &&
        relPred.forall(_(e.value, prefix))) || orPred.exists(_(e))) &&
        navPred.forall(_(e, symPrefix()))
    def times(n: Int): Step = copy(repeat = n)
    def opt: Step = copy(optional = true)
    /** CEP notFollowedBy guard form of this step. */
    def not: Step = copy(negated = true)
    /** CEP followedByAny form: all later hits branch, not just the first. */
    def any: Step = copy(anyMatch = true)
    /** CEP .or(...): condition disjunct. */
    def or(p: KeyedEvent => Boolean): Step = copy(orPred = Some(p))
    /** CEP oneOrMore().until(...): loop stop condition (applies to each
      * expanded repetition — set before upTo). */
    def until(p: KeyedEvent => Boolean): Step = copy(untilPred = Some(p))
    /** MATCH_RECOGNIZE navigation condition (see navPred). */
    def nav(p: (KeyedEvent, Seq[(String, Double)]) => Boolean): Step =
      copy(navPred = Some(navPred match {
        case Some(q) => (e, sp) => q(e, sp) && p(e, sp)
        case None    => p
      }))
    /** Bounded oneOrMore: 1..n repetitions (1 required + n-1 optional;
      * bounded expansion keeps NFA state finite — CEP oneOrMore with
      * an explicit cap, CEPDemo timesOrMore). */
    def upTo(n: Int): Seq[Step] =
      copy(repeat = 1) +: Seq.fill(n - 1)(copy(repeat = 1, optional = true))
    /** Bounded zero-or-more (MATCH_RECOGNIZE `B*` / reluctant `B*?`):
      * n optional repetitions — zero matched rows is a valid extent. */
    def zeroUpTo(n: Int): Seq[Step] =
      Seq.fill(n)(copy(repeat = 1, optional = true))
    /** Bounded oneOrMore().allowCombinations(): every repetition may
      * match ANY later event, so non-contiguous combinations form
      * (CEPDemo.scala:211-247). */
    def combinationsUpTo(n: Int): Seq[Step] = copy(anyMatch = true).upTo(n)
    def where(p: (Double, Seq[Double]) => Boolean): Step =
      copy(relPred = Some(p))
  }

  /** Pattern group (CEPDemo.scala:715-755 patternGroup): a sub-pattern
    * repeated n times, flattened into the NFA step list — the bounded
    * analogue of `Pattern.begin(subPattern).times(n)`. */
  def group(steps: Seq[Step], n: Int): Seq[Step] =
    Seq.fill(n)(steps).flatten

  /** AFTER MATCH skip strategy (CEPDemo.scala:808-949). */
  sealed trait Skip
  /** Clear all partials on a match (default; SKIP PAST LAST ROW). */
  case object SkipPastLastRow extends Skip
  /** Keep partials that started after the match's first row. */
  case object SkipToNext extends Skip
  /** Keep every live partial (noSkip — overlapping matches allowed). */
  case object NoSkip extends Skip
  /** Drop partials starting before the match's FIRST row matched to
    * step `v` (CEPDemo.scala:872-911 skipToFirst — anchors runs at the
    * named variable's first occurrence). */
  final case class SkipToFirst(v: String) extends Skip
  /** Drop partials starting before the match's LAST row matched to
    * step `v` (CEPDemo.scala:913-948 skipToLast — slides the window
    * forward past the variable's last occurrence). */
  final case class SkipToLast(v: String) extends Skip

  /** Expand quantified steps into the flat NFA step list. */
  private[graft] def expand(steps: Seq[Step]): IndexedSeq[Step] =
    steps.flatMap(s => Seq.fill(s.repeat)(s.copy(repeat = 1))).toIndexedSeq

  /** A live partial match: NFA position, consumed-row event times,
    * consumed-row values, and the step index each row matched
    * (parallel to tss/vals; drives SkipToFirst/SkipToLast). */
  case class Partial(stepIdx: Int, tss: List[Long], vals: List[Double],
                     idxs: List[Int] = Nil)

  /** Event-time at MICROsecond precision. `getTime` alone truncates to
    * ms, which reorders sub-ms events (the driver's `events` table is
    * µs-grained after the nanos→µs load conversion) and shifts WITHIN
    * boundaries by up to 1 ms vs a full-precision oracle. */
  private[graft] def micros(ts: Timestamp): Long =
    ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
  private[graft] def toTimestamp(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000).toInt)
    t
  }
  /** `syms(i)` is the pattern symbol `values(i)` matched — the row
    * attribution MATCH_RECOGNIZE per-variable MEASURES navigate. */
  case class MatchOut(key: Long, startTs: Timestamp, endTs: Timestamp,
                      values: Seq[Double], syms: Seq[String])

  implicit val matchEnc: Encoder[MatchOut] = Encoders.product[MatchOut]
  /** State = live partial matches, wrapped in a Product for encoding. */
  case class PartialSet(xs: List[Partial])

  /** Run the pattern over a keyed stream. `strict` = CEP `next`
    * (no intervening event may break the chain); relaxed = `followedBy`.
    *
    * @param greedy quantifier extent: a partial in an ACCEPTING state
    *   (every remaining step optional) keeps extending and is emitted
    *   at its longest extent — on overrunning the last step, or when
    *   it can no longer extend (strict chain break / WITHIN expiry /
    *   `flushEnd`). false = reluctant `*?`: accepting partials emit
    *   immediately at their shortest extent.
    *   Matches completing on the same event are grouped by start row
    *   and the LEFTMOST start wins under SKIP PAST LAST ROW
    *   (MATCH_RECOGNIZE leftmost-match priority); other skips emit one
    *   match per distinct start. Flush emissions (break/expiry/end)
    *   bypass skip processing — a deliberate simplification.
    * @param flushEnd emit accepting partials left at end of input —
    *   for BATCH runs (MrParser queries). Leave false for streaming:
    *   state persists across micro-batches, so an end-of-batch flush
    *   would emit prefixes of matches still in flight.
    */
  def detect(ds: Dataset[KeyedEvent], steps: Seq[Step], withinMs: Long,
             strict: Boolean, skip: Skip = SkipPastLastRow,
             greedy: Boolean = true, flushEnd: Boolean = false): Dataset[MatchOut] = {
    import ds.sparkSession.implicits._
    val stepsB = expand(steps)
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[PartialSet, MatchOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, events, state: GroupState[PartialSet]) =>
          val nfa = new Nfa(key, stepsB, withinMs, strict, skip, greedy)
          nfa.partials = state.getOption.map(_.xs).getOrElse(Nil)
          events.toSeq.sortBy(e => (micros(e.ts), e.value)).foreach(nfa.step)
          if (flushEnd && greedy) nfa.endFlush()
          state.update(PartialSet(nfa.partials))
          nfa.out.iterator
      }
  }

  /** Pure single-key runner — exactly `detect`'s per-group body without
    * the Spark plumbing. Exposed package-private for the property
    * suite, which cross-checks the NFA against brute-force reference
    * matchers on random inputs. */
  private[graft] def runPure(events: Seq[KeyedEvent], steps: Seq[Step],
      withinMs: Long, strict: Boolean, skip: Skip = SkipPastLastRow,
      greedy: Boolean = true, flushEnd: Boolean = false): Seq[MatchOut] = {
    val nfa = new Nfa(0L, expand(steps), withinMs, strict, skip, greedy)
    events.sortBy(e => (micros(e.ts), e.value)).foreach(nfa.step)
    if (flushEnd && greedy) nfa.endFlush()
    nfa.out.toSeq
  }

  /** Max live-partial-set size over a single-key run — the state-bound
    * probe for CepPropertySpec's flood tests (r13 verdict #2): the
    * scaladoc's O(horizon density) claims are asserted against this,
    * not inferred from match counts. Package-private, test-only. */
  private[graft] def maxLivePartials(events: Seq[KeyedEvent], steps: Seq[Step],
      withinMs: Long, strict: Boolean, skip: Skip = SkipPastLastRow,
      greedy: Boolean = true): Int = {
    val nfa = new Nfa(0L, expand(steps), withinMs, strict, skip, greedy)
    var mx = 0
    events.sortBy(e => (micros(e.ts), e.value)).foreach { e =>
      nfa.step(e); mx = math.max(mx, nfa.partials.size)
    }
    mx
  }

  /** Buffered state for the watermark-ordered runner: not-yet-mature
    * events + live partials. */
  case class CepBuf(pending: List[KeyedEvent], partials: List[Partial])

  /** Event-time-ORDERED pattern detection: events buffer per key until
    * they are final, then feed the NFA in (ts, value) order — so
    * out-of-order arrival ACROSS micro-batches cannot corrupt
    * contiguity, WITHIN horizons, or aggregate DEFINE prefixes (plain
    * `detect` replays each batch in arrival order, which is only
    * correct for in-order streams). This is the reference CEP library's
    * event-time contract (NFA consumes by event time, buffering
    * out-of-order rows until the watermark).
    *
    * An event is final once the watermark passes it or, when the input
    * has a single `withWatermark("ts", D)`, once an event of its key
    * at least D later has arrived (`Finality`). A match thus emits in
    * the trigger that brings such an event, instead of waiting one
    * more trigger for the watermark. A row at or before its key's
    * horizon (D behind the key's newest event of an earlier trigger)
    * is dropped as late.
    *
    * Requires `withWatermark(...)` on the input; rows later than the
    * watermark are dropped upstream by Spark (the accepted late-data
    * deviation, SURVEY §7.5). Note the INITIAL watermark is 0 and the
    * drop is at-or-before it, so Spark discards rows timestamped at
    * exactly epoch 0 from the very first batch (observed empirically
    * while building StreamingSoakSpec's key-churn test) — real event
    * times are far from 1970; synthetic tests must not anchor at
    * ts=0. State per key is bounded: the pending
    * buffer by watermark-delay density, the partial set by the
    * `within` horizon — both independent of stream length. */
  def detectOrdered(ds: Dataset[KeyedEvent], steps: Seq[Step], withinMs: Long,
                    strict: Boolean, skip: Skip = SkipPastLastRow,
                    greedy: Boolean = true): Dataset[MatchOut] = {
    import ds.sparkSession.implicits._
    val stepsB = expand(steps)
    val fin = Finality.of(ds)
    // EventTimeTimeout, not NoTimeout: flatMapGroupsWithState only
    // invokes the function for keys PRESENT in a batch, so without a
    // timer a quiet key's buffered events would never mature and its
    // expired-extent matches would never emit (and its state never
    // shrink) — the old workaround was injecting per-key flush events.
    // The timer wakes the key when the watermark passes its next
    // pending event or its oldest partial's WITHIN horizon.
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[CepBuf, MatchOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, events, state: GroupState[CepBuf]) =>
          val st = state.getOption.getOrElse(CepBuf(Nil, Nil))
          val wmMs = state.getCurrentWatermarkMs()
          val (mature, pending, cutUs) = fin.release(st.pending, events, wmMs)
          val nfa = new Nfa(key, stepsB, withinMs, strict, skip, greedy)
          nfa.partials = st.partials
          mature.sortBy(e => (micros(e.ts), e.value)).foreach(nfa.step)
          // quiet-key expiry: partials whose horizon the cut has passed
          // emit their final extent now, not at the next event
          nfa.expire(cutUs)
          if (pending.isEmpty && nfa.partials.isEmpty) state.remove()
          else {
            state.update(CepBuf(pending, nfa.partials))
            val horizonCap = math.min(withinMs, Long.MaxValue / 4)
            val nextWake =
              (pending.map(_.ts.getTime) ++
                nfa.partials.map(p => p.tss.head / 1000L + horizonCap)).min
            state.setTimeoutTimestamp(math.max(nextWake + 1, wmMs + 1))
          }
          nfa.out.iterator
      }
  }

  /** The per-key NFA interpreter, shared by `detect` (arrival-order)
    * and `detectOrdered` (watermark-ordered). One instance per
    * flatMapGroupsWithState invocation; `partials` is restored from /
    * saved to group state around it and `out` collects emissions. */
  private final class Nfa(key: Long, stepsB: IndexedSeq[Step], withinMs: Long,
                          strict: Boolean, skip: Skip, greedy: Boolean) {
    var partials: List[Partial] = Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[MatchOut]
    // identical tss = identical matched rows: emit once even when
    // several optional-skip branches carry the same match
    private val seen = scala.collection.mutable.Set.empty[List[Long]]
    // WITHIN horizon in µs; clamp so an effectively-unbounded horizon
    // (MrParser default) cannot overflow the multiply.
    private val withinUs =
      if (withinMs > Long.MaxValue / 2000) Long.MaxValue / 2
      else withinMs * 1000L

    private def emit(p: Partial): Unit = if (seen.add(p.tss)) {
      out += MatchOut(key, toTimestamp(p.tss.head),
        toTimestamp(p.tss.last), p.vals, p.idxs.map(stepsB(_).name))
    }

    // accepting = every remaining step can be skipped (a trailing
    // quantifier has already met its required minimum); a pending
    // negative guard does NOT make a state accepting
    private def accepting(p: Partial): Boolean =
      (p.stepIdx until stepsB.length).forall(stepsB(_).optional)

    // NFA branching: from step `from`, an event may match that step,
    // or — when steps are optional — any step reachable by skipping a
    // prefix of optional steps (one branch per hit). A negative guard
    // at the frontier never consumes: an event matching it kills the
    // partial (killed=true); otherwise the scan continues past it.
    // An until-condition fire (stop=true) kills the NON-consuming
    // continuation: branches that consume the event survive, but the
    // loop can never extend past the stop event (CEP until).
    private def matchIdxs(from: Int, e: KeyedEvent, prefix: Seq[Double],
                          prefixIdxs: Seq[Int]): (List[Int], Boolean, Boolean) = {
      // symbol-tagged prefix for navigation conditions, built at most
      // once per (partial, event) — only when a navPred step is probed
      lazy val symPrefix: Seq[(String, Double)] =
        prefixIdxs.map(stepsB(_).name).zip(prefix)
      val sp = () => symPrefix
      val hits = scala.collection.mutable.ListBuffer.empty[Int]
      var j = from
      var scanning = true
      var killed = false
      var stop = false
      while (scanning && j < stepsB.length) {
        val st = stepsB(j)
        if (st.untilPred.exists(_(e))) stop = true
        if (st.negated) {
          if (st.matches(e, prefix, sp)) { killed = true; scanning = false }
          else j += 1
        } else {
          // dominance pruning: consecutive IDENTICAL optional copies
          // (an upTo expansion) are interchangeable, and the earliest
          // position keeps the most remaining slots while reaching the
          // same downstream steps — branches at deeper copies are
          // strictly dominated, so record only the first. (Function
          // fields compare by reference; copies share their lambdas,
          // so case-class equality identifies true expansion copies.)
          if (st.matches(e, prefix, sp) &&
              (hits.isEmpty || stepsB(hits.last) != st)) hits += j
          if (st.optional) j += 1 else scanning = false
        }
      }
      (hits.toList, killed, stop)
    }

    /** Prune partials whose WITHIN horizon has passed at time `tUs`; a
      * greedy accepting partial that expires has reached its final
      * extent — emit it. Same-start partials always expire together
      * (expiry depends only on tss.head). Pick rule mirrors the
      * completion path: longest extent per start wins, and ALL
      * candidates at that length emit — anyMatch branches with
      * distinct middle rows are distinct matches, not extent variants
      * of one match (same-rows duplicates are collapsed by `seen`);
      * shorter siblings are the extent variants greedy suppresses.
      * Called by step() for every event, and by detectOrdered at its
      * release cut so a QUIET key's matches still emit. */
    def expire(tUs: Long): Unit = {
      val (kept, expired) = partials.partition(p => tUs - p.tss.head <= withinUs)
      if (greedy && expired.nonEmpty) {
        val acc = expired.filter(accepting)
        if (acc.lengthCompare(1) == 0) emit(acc.head)
        else if (acc.nonEmpty)
          acc.groupBy(_.tss.head).toSeq.sortBy(_._1)
            .foreach { case (_, g) =>
              val len = g.map(_.vals.length).max
              g.filter(_.vals.length == len).foreach(emit)
            }
      }
      partials = kept
    }

    /** Consume one event (callers feed events in the order that defines
      * the pattern semantics — sorted within batch for `detect`, fully
      * watermark-ordered for `detectOrdered`). */
    def step(e: KeyedEvent): Unit = {
      val t = micros(e.ts)
      expire(t)
      // advance existing partials. Branch priority: positive
      // consumption branches (hits BEFORE any tripped guard) survive;
      // the non-consuming continuation dies if the event tripped a
      // negative guard or an until-stop at its frontier, and ALSO
      // survives alongside its branches when the consumed step is
      // anyMatch (followedByAny: later hits branch too).
      val dead = scala.collection.mutable.ListBuffer.empty[Partial]
      val advanced = partials.flatMap { p =>
        val (hits, killed, stop) = matchIdxs(p.stepIdx, e, p.vals, p.idxs)
        val branches =
          hits.map(j => Partial(j + 1, p.tss :+ t, p.vals :+ e.value,
            p.idxs :+ j))
        val keepOriginal =
          if (killed || stop) false
          else if (hits.isEmpty) {
            if (strict) { // strict contiguity: chain broken
              if (greedy && accepting(p)) dead += p // final extent reached
              false
            } else true    // relaxed: partial survives
          } else !strict && hits.exists(j => stepsB(j).anyMatch)
        branches ++ (if (keepOriginal) List(p) else Nil)
      }
      // start new partials from step 0 (and optional-skipped starts)
      val started =
        matchIdxs(0, e, Nil, Nil)._1.map(j =>
          Partial(j + 1, List(t), List(e.value), List(j)))
      val candidates = (advanced ++ started)
        .distinctBy(p => (p.stepIdx, p.tss))
      // chain-broken accepting partials reached a final extent, but
      // greedy assigns each start ONE match — its longest. Emit the
      // longest dead extent per start UNLESS a surviving branch of the
      // same start is at least as long (the trailing-quantifier case
      // where the final step's row also extends the quantifier: the
      // survivor IS this match attempt at longer extent, and the
      // completion/expiry/flush paths will emit it).
      if (greedy && dead.nonEmpty)
        dead.groupBy(_.tss.head).toSeq.sortBy(_._1).foreach { case (st, g) =>
          val p = g.maxBy(_.vals.length)
          val superseded = candidates.exists(q =>
            q.tss.head == st && q.vals.length >= p.vals.length)
          if (!superseded) emit(p)
        }
      // greedy completes only past the last step (longest extent)
      // AND only when no branch over the same matched rows can
      // still extend (optional-skip branches duplicate one match
      // at several NFA positions; the least-committed sibling
      // keeps extending and the flushes emit it if input stalls);
      // reluctant completes at the first accepting state (shortest)
      val (complete, live) =
        if (greedy) {
          val byTss = candidates.groupBy(_.tss)
          val c = candidates.filter(p => p.stepIdx >= stepsB.length &&
            byTss(p.tss).forall(_.stepIdx >= stepsB.length))
          (c, candidates.filterNot(c.contains))
        } else candidates.partition(accepting)
      if (complete.nonEmpty) {
        // leftmost-match priority by start row; within a start, the
        // greedy/reluctant extent rule picks the longest/shortest
        // length — but ALL candidates at that length emit, because
        // anyMatch (followedByAny / allowCombinations) branches with
        // distinct middle rows are distinct matches, not extent
        // variants of one match (same-rows duplicates are already
        // collapsed by `seen`). Without anyMatch steps a start group
        // holds one distinct row set per length, so this reduces to
        // the old one-per-start rule.
        val picks = complete.groupBy(_.tss.head).toSeq.sortBy(_._1)
          .flatMap { case (_, g) =>
            val len =
              if (greedy) g.map(_.vals.length).max else g.map(_.vals.length).min
            g.filter(_.vals.length == len) }
        (skip match {
          // simultaneous completions all contain the current row,
          // so they overlap: leftmost start only
          case SkipPastLastRow =>
            picks.filter(_.tss.head == picks.head.tss.head)
          case _ => picks
        }).foreach(emit)
      }
      // AFTER MATCH skip strategy. SkipToFirst/SkipToLast anchor on the
      // LEFTMOST completed match (consistent with the emission policy's
      // leftmost-match priority): live runs that started before the
      // anchor row — the first/last row the named step matched — drop.
      def varAnchor(v: String, last: Boolean): Option[Long] = {
        // anchor on an EMITTED match: same extent rule as the pick
        // above (longest if greedy, shortest if reluctant) — maxBy
        // alone would anchor a reluctant skip on the rows of a longer
        // candidate that was never emitted, dropping/keeping live runs
        // against the wrong row
        val g = complete.groupBy(_.tss.head).toSeq.minBy(_._1)._2
        val len =
          if (greedy) g.map(_.vals.length).max else g.map(_.vals.length).min
        val m = g.filter(_.vals.length == len).head
        val rows = m.idxs.zip(m.tss)
          .collect { case (j, ts) if stepsB(j).name == v => ts }
        if (last) rows.lastOption else rows.headOption
      }
      // reluctant: completing at the shortest extent DETERMINES the
      // match for that start row, so same-start siblings (the branches
      // still extending a quantifier past the emitted extent) stop
      // being match candidates — without this, `A B*? C` under NO SKIP
      // would emit a second, longer "shortest" match for the same A at
      // every later C. Greedy keeps them: the longest extent is only
      // known once nothing can extend.
      val live2 =
        if (greedy || complete.isEmpty) live
        else {
          val done = complete.map(_.tss.head).toSet
          live.filterNot(p => done(p.tss.head))
        }
      partials =
        if (complete.isEmpty) live2
        else skip match {
          case SkipPastLastRow => Nil
          case SkipToNext =>
            val firstTs = complete.map(_.tss.head).min
            live2.filter(_.tss.head > firstTs)
          case NoSkip => live2
          case SkipToFirst(v) =>
            varAnchor(v, last = false)
              .map(a => live2.filter(_.tss.head >= a)).getOrElse(live2)
          case SkipToLast(v) =>
            varAnchor(v, last = true)
              .map(a => live2.filter(_.tss.head >= a)).getOrElse(live2)
        }
    }

    /** End-of-input flush (BATCH runs only): accepting partials are
      * final; scan starts left to right, suppressing overlaps under
      * SkipPastLastRow. */
    def endFlush(): Unit = {
      var lastEnd = Long.MinValue
      // same pick rule as completion/expiry: longest extent per start,
      // ALL candidates at that length (distinct-row anyMatch branches
      // are distinct matches, not extent variants)
      partials.filter(accepting).groupBy(_.tss.head).toSeq.sortBy(_._1)
        .foreach { case (st, g) =>
          if (skip != SkipPastLastRow || st > lastEnd) {
            val len = g.map(_.vals.length).max
            val picks = g.filter(_.vals.length == len)
            picks.foreach(emit)
            lastEnd = math.max(lastEnd, picks.map(_.tss.last).max)
          }
        }
    }
  }
}
