package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** CEP pattern/sequence engine — the reference's differentiating feature
  * (SURVEY §2.8), re-expressed as an NFA over per-key ordered events inside
  * `flatMapGroupsWithState` (the FlinkCEP / MATCH_RECOGNIZE shape).
  *
  * Feature map to the reference:
  *  - `e1=S[filter] -> e2=S[filter]` followed-by chains: [[Step]] sequence;
  *    cross-step references (`e2.price > e1.price`) via the predicate's view
  *    of already-collected step events
  *    (stream_pre_state_processor.rs's StateEvent access)
  *  - PATTERN (relaxed, skip non-matching) vs SEQUENCE (strict contiguous):
  *    [[PatternSpec.strict]] (sequence_stream_receiver.rs clears pending on
  *    mismatch)
  *  - `{n}` count quantifiers: [[Step.min]]/[[Step.max]]
  *    (count_pre_state_processor.rs)
  *  - `EVERY` multi-instance restart: [[PatternSpec.every]] — every event
  *    seeds a new instance; without it the pattern matches once
  *  - `WITHIN d`: [[PatternSpec.withinUs]] — partials expire by event time
  *    (timer_wheel.rs)
  *  - logical OR: [[Step.or]]; AND of two streams = union of the two
  *    orderings (compose two detect() calls), as the reference's
  *    LogicalPreStateProcessor enumerates both arrival orders
  *  - indexed access `e1[0].x` + collection aggregations `avg(e1.price)`:
  *    the emitted [[CepMatch]] carries every collected event per step
  *
  * Scale: state is per key (`groupByKey`), bounded by
  * [[PatternSpec.maxPartials]] × pattern length; WITHIN expiry prunes
  * partials by event time. This is the same state-growth discipline the
  * reference needs 2120 lines of count_pre_state_processor.rs for.
  */
/** `vals` carries precomputed comparison operands for cross-step
  * predicates (SQL surface): Catalyst evaluates both sides of
  * `e2.price > e1.price * 1.1` as per-event doubles; the NFA only compares
  * slots — no expression evaluation inside the state machine. `svals`
  * carries select-referenced column values as strings for the STREAMING
  * SQL pattern path (outputs cast back to the target's declared types), so
  * match resolution needs no join back to the source.
  */
final case class CepEvent(key: String, tsUs: Long, eventId: Long, etype: String,
                          value: Double, vals: Seq[Double] = Nil,
                          svals: Seq[String] = Nil)
object CepEvent {
  implicit val codec: StateCodec[CepEvent] = StateCodec.product[CepEvent] { (w, e) =>
    w.string(e.key); w.long(e.tsUs); w.long(e.eventId); w.string(e.etype)
    w.double(e.value); w.seq(e.vals); w.seq(e.svals)
  }(r => CepEvent(r.string(), r.long(), r.long(), r.string(), r.double(),
    r.seq[Double](), r.seq[String]()))
}
final case class Collected(step: String, events: Seq[CepEvent])
object Collected {
  implicit val codec: StateCodec[Collected] = StateCodec.product[Collected] { (w, c) =>
    w.string(c.step); w.seq(c.events)
  }(r => Collected(r.string(), r.seq[CepEvent]()))
}
/** `matchSeq` (round 12): per-key 1-based ordinal in match-COMPLETION
  * order, carried across micro-batches through [[NfaState.matchSeq]] —
  * the streaming MATCH_NUMBER() equivalent (EMIT ALL ROWS groups a
  * match's per-event rows by it). Batch EMIT ALL ROWS keeps its own
  * start-position numbering (the oracle-pinned contract); completion
  * order and start order differ only for overlapping matches.
  */
final case class CepMatch(key: String, startUs: Long, endUs: Long,
                          steps: Seq[Collected], matchSeq: Long = 0L)
object CepMatch {
  implicit val codec: StateCodec[CepMatch] = StateCodec.product[CepMatch] { (w, m) =>
    w.string(m.key); w.long(m.startUs); w.long(m.endUs); w.seq(m.steps); w.long(m.matchSeq)
  }(r => CepMatch(r.string(), r.long(), r.long(), r.seq[Collected](), r.long()))
}
/** A [[CepMatch]] tagged with the index of the variant NFA that emitted it
  * (multi-variant patterns: AND arrival orderings, min=0 presence pairs).
  * `matchSeq`: per-key ordinal SHARED across variants, assigned in
  * conclusive-emission order by [[Cep.detectStream]] with `allRows`
  * (streaming EMIT ALL ROWS' mr_match_number); 0 otherwise.
  */
final case class VariantMatch(variant: Int, key: String, startUs: Long,
                              endUs: Long, steps: Seq[Collected],
                              matchSeq: Long = 0L)

/** One pattern step. `pred` sees the candidate event and all events
  * collected so far (indexed [stepIdx][arrivalIdx]) for cross-step
  * conditions. With min < max the NFA branches (both "stay" and "advance"
  * instances are kept), emitting eagerly at each count >= min on the last
  * step.
  */
/** `reluctant` (ANSI `+?` / `{n,m}?`): under skip-mode parse selection
  * this quantifier prefers the FEWEST repetitions (see skipPreferred);
  * ignored by the plain EVERY enumeration, which explores all parses.
  * `loopBack >= 0` (unbounded group repetition `(A B)+`): on this step's
  * completion the NFA ALSO branches back `loopBack` steps for another
  * iteration of the group, accumulating into the same per-step buffers.
  */
/** `minIters` / `maxIters` (with `loopBack >= 0`, round 14): the
  * `(A B){n,m}` family on the loop machine — the group must complete at
  * least `minIters` iterations before the match may advance past it or
  * emit, and the loop-back branch is taken only while the completed
  * iteration count stays below `maxIters` (∞ for `+` / `{n,}`). With
  * min/max on a `looped` step the MEMBER itself is quantified PER
  * ITERATION (`(A B+)+`): the NFA gates on the count collected since the
  * current iteration began ([[Partial.iterBase]]), not the accumulated
  * total.
  *
  * `iterPred` (round 14, per-iteration cross-member references): when
  * set, the NFA calls it instead of `pred`, passing the partial's
  * current-iteration base offsets — a predicate comparing against another
  * member of the SAME loop group anchors at that member's first event of
  * the CURRENT iteration (`(D U)+` with `U.price > D.price` binds each U
  * to its own iteration's D), where `pred`'s collected view could only
  * reach the first iteration's.
  */
/** `inner` / `innerLoopBack` / `innerMinIters` / `innerMaxIters`
  * (round 15, variable-count NESTED groups `((A B){1,3} C)+`): `inner`
  * marks every member of a variable-count inner group — its member
  * quantifier gates on the count collected since the current INNER
  * iteration began ([[Partial.innerBase]]) and same-inner-group refs
  * anchor there. `innerLoopBack >= 0` sits on the inner group's LAST
  * member: on its completion the NFA resolves the inner frame first —
  * once `innerMinIters` inner iterations are done the partial may LEAVE
  * the inner group (falling through to the ordinary outer advance /
  * outer loop-back logic), and while below `innerMaxIters` it also
  * branches back `innerLoopBack` steps for another inner iteration.
  * Exact-count inner groups keep the round-14 inlining (`__i` suffixes)
  * and never set these fields.
  */
final case class Step(
    name: String, min: Int, max: Int,
    pred: (CepEvent, Seq[Seq[CepEvent]]) => Boolean,
    reluctant: Boolean = false,
    loopBack: Int = -1,
    minIters: Int = 1,
    maxIters: Int = Int.MaxValue,
    looped: Boolean = false,
    iterPred: Option[(CepEvent, Seq[Seq[CepEvent]], Seq[Int]) => Boolean] = None,
    inner: Boolean = false,
    innerLoopBack: Int = -1,
    innerMinIters: Int = 1,
    innerMaxIters: Int = Int.MaxValue,
    // round 16: reluctant INNER group (`((A B)+? C)+`, inner `{n,m}?`) —
    // under skip-mode parse selection the inner loop prefers LEAVING at
    // the first opportunity. Resolved through the candidate's iterHist
    // record stream (see skipPreferred's histPreferred level); compile
    // gates keep every member fixed-count so record CONTENT is parse-
    // independent and the stream comparison is purely structural.
    innerReluctant: Boolean = false)
  extends Serializable

object Step {
  def simple(name: String)(p: CepEvent => Boolean): Step =
    Step(name, 1, 1, (e, _) => p(e))
  def count(name: String, n: Int)(p: CepEvent => Boolean): Step =
    Step(name, n, n, (e, _) => p(e))
  /** Unbounded `n`-or-more (the SQL `+` / `{n,}` forms). Pair with a
    * WITHIN bound — the SQL compiler enforces it; API callers must too,
    * or in-flight partials grow with the stream. */
  def atLeast(name: String, n: Int)(p: CepEvent => Boolean): Step =
    Step(name, n, Int.MaxValue, (e, _) => p(e))
  def or(name: String)(p1: CepEvent => Boolean, p2: CepEvent => Boolean): Step =
    Step(name, 1, 1, (e, _) => p1(e) || p2(e))
  def withContext(name: String)(p: (CepEvent, Seq[Seq[CepEvent]]) => Boolean): Step =
    Step(name, 1, 1, p)
}

/** Mid-chain absent guard (`A -> NOT B -> C`,
  * stream_pre_state_processor.rs's absent discipline): an event matching
  * `pred` kills every partial sitting in the guarded gap — the anchoring
  * step `afterStep` complete, the next step not yet started — unless that
  * same event advances the partial out of the gap (the batch anti-join
  * bounds the guard STRICTLY between the anchor's last and the next step's
  * first event, so the next step's own event never kills its match).
  * `forUs` additionally narrows the guard to d after the anchor's last
  * collected event. Evaluated inside [[Cep.runNfa]], so it works on batch
  * and in every [[Cep.detectStream]] mode, cross-micro-batch.
  */
final case class MidGuard(afterStep: Int, pred: CepEvent => Boolean,
                          forUs: Option[Long] = None) extends Serializable

/** withinEvents: count-bounded WITHIN — a partial expires once more than n
  * events (of its key) have arrived since it was seeded. The reference
  * parses but blocks `WITHIN n EVENTS` at conversion; the NFA supports it
  * directly.
  *
  * maxPartials bounds the simultaneous in-flight partial matches PER KEY
  * (state is per key × pattern length — without a cap, EVERY + relaxed
  * skipping on a hot key grows state linearly with the stream). On
  * overflow the earliest-seeded partials are kept, the newest dropped;
  * every drop is counted in [[NfaState.dropped]], surfaced through the
  * optional drop accumulator on [[Cep.detect]], and logged as a
  * warning — matches past the cap are LOST, so a nonzero count means
  * raise maxPartials, narrow step predicates, or add WITHIN bounds.
  */
final case class PatternSpec(
    steps: Seq[Step],
    strict: Boolean = false,
    every: Boolean = true,
    withinUs: Option[Long] = None,
    withinEvents: Option[Long] = None,
    maxPartials: Int = 512,
    midGuards: Seq[MidGuard] = Nil)

/** Serializable NFA state (data only — predicates live in the spec).
  * startSeq = per-key event ordinal at seed time (for withinEvents).
  * dropped = cumulative partials discarded past [[PatternSpec.maxPartials]].
  *
  * Loop-group bookkeeping (round 14, all empty/zero outside loop groups so
  * plain chains pay nothing):
  *  - `iters`: COMPLETED iterations of the loop group currently being
  *    matched (reset to 0 on advancing past the group's last member, so a
  *    later group in the same pattern starts fresh);
  *  - `iterBase`: per-step buffer size at the moment the current iteration
  *    began (Nil ≡ all zeros) — member quantifiers gate on
  *    `collected(i).size - iterBase(i)`, and per-iteration cross-member
  *    predicates anchor at `collected(ref)(iterBase(ref))`;
  *  - `iterHist`: flattened per-iteration counts of the looped steps for
  *    completed iterations, populated ONLY when some member has a variable
  *    count (min != max) — two parses can then hold the same per-step
  *    TOTALS with different membership (e.g. `(A+ B)+` splitting 3 As as
  *    2+1 vs 1+2 around a skipped event), so the dedup identity needs the
  *    split itself. Fixed-count members derive the split from the totals,
  *    keeping round-13 loop groups at their original hashing cost.
  */
final case class Partial(stepIdx: Int, startUs: Long, startSeq: Long,
                         collected: Seq[Seq[CepEvent]],
                         iters: Int = 0,
                         iterBase: Seq[Int] = Nil,
                         iterHist: Seq[Int] = Nil,
                         // nested (inner) iteration frame (round 15, both
                         // empty/zero outside variable-count nested groups):
                         // completed iterations of the inner group currently
                         // being matched within the CURRENT outer iteration,
                         // and the per-step buffer sizes when the current
                         // INNER iteration began — inner member quantifiers
                         // gate on `collected(i).size - innerBase(i)` and
                         // inner cross-member refs anchor at
                         // `collected(ref)(innerBase(ref))`. Reset to 0 (the
                         // base stays, see advance logic) on leaving the
                         // inner group; re-snapshotted on the outer
                         // loop-back edge.
                         innerIters: Int = 0,
                         innerBase: Seq[Int] = Nil)
object Partial {
  implicit val codec: StateCodec[Partial] = StateCodec.product[Partial] { (w, p) =>
    w.int(p.stepIdx); w.long(p.startUs); w.long(p.startSeq); w.seq(p.collected)
    w.int(p.iters); w.seq(p.iterBase); w.seq(p.iterHist)
    w.int(p.innerIters); w.seq(p.innerBase)
  }(r => Partial(r.int(), r.long(), r.long(), r.seq[Seq[CepEvent]](),
    r.int(), r.seq[Int](), r.seq[Int](), r.int(), r.seq[Int]()))
}
final case class NfaState(partials: Seq[Partial], done: Boolean, seq: Long = 0L,
                          dropped: Long = 0L, matchSeq: Long = 0L)
object NfaState {
  implicit val codec: StateCodec[NfaState] = StateCodec.product[NfaState] { (w, s) =>
    w.seq(s.partials); w.bool(s.done); w.long(s.seq); w.long(s.dropped); w.long(s.matchSeq)
  }(r => NfaState(r.seq[Partial](), r.bool(), r.long(), r.long(), r.long()))
}
/** One state-store entry for a multi-variant pattern family: the i-th
  * entry is variant i's independent NFA state.
  */
final case class MultiNfaState(states: Seq[NfaState])
object MultiNfaState {
  implicit val codec: StateCodec[MultiNfaState] =
    StateCodec.product[MultiNfaState]((w, s) => w.seq(s.states))(
      r => MultiNfaState(r.seq[NfaState]()))
}

object Cep {

  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Event-time deadline (us) → state-store timeout timestamp (ms), rounded
    * UP: flooring would let the timeout fire up to 1ms before the
    * microsecond deadline, purging a partial a deadline-exact event could
    * still complete.
    */
  private def ceilMs(us: Long): Long = (us + 999L) / 1000L

  /** Dedup branch-convergent partials by their IDENTITY KEY instead of
    * structural equality: within one machine run a partial is fully
    * determined by (stepIdx, startSeq, per-step counts) — the seed event
    * is unique per startSeq, and at a given start the collected membership
    * follows deterministically from when each quantifier advanced, which
    * the count vector encodes. Structural `.distinct` hashed every
    * partial's full collected buffers on EVERY event — O(buffered events)
    * per event, the quadratic the monotone-streak bench caught (9 s for a
    * 10⁴-row streak spent hashing one partial's ever-growing buffer).
    */
  /** `hasLoops` = the spec contains a loop group: only then do the
    * iteration-frame fields join the key — same totals can hide different
    * iteration splits (and, with variable members, different membership —
    * iterHist carries the split; see [[Partial]]). Plain chains keep the
    * round-13 3-field key: hashing two always-Nil Seqs and an Int per
    * partial per event measurably taxed the hot kernel (~7% on the bench
    * CEP kernel), and without a loop edge the extra fields are constants.
    */
  /** `hasInner` = the spec contains a variable-count NESTED group: only
    * then do the inner-frame fields join the key (same flag-gating
    * rationale as `hasLoops` — outside nested groups they are constants).
    */
  private def distinctPartials(ps: Vector[Partial], hasLoops: Boolean,
                               hasInner: Boolean): Vector[Partial] =
    if (ps.length <= 1) ps
    else if (!hasLoops) {
      val seen = scala.collection.mutable.HashSet.empty[(Int, Long, Seq[Int])]
      ps.filter(p => seen.add((p.stepIdx, p.startSeq, p.collected.map(_.size))))
    } else if (!hasInner) {
      val seen = scala.collection.mutable.HashSet
        .empty[(Int, Long, Seq[Int], Int, Seq[Int], Seq[Int])]
      ps.filter(p => seen.add((p.stepIdx, p.startSeq,
        p.collected.map(_.size), p.iters, p.iterBase, p.iterHist)))
    } else {
      val seen = scala.collection.mutable.HashSet
        .empty[((Int, Long, Seq[Int], Int, Seq[Int], Seq[Int]), (Int, Seq[Int]))]
      ps.filter(p => seen.add(((p.stepIdx, p.startSeq,
        p.collected.map(_.size), p.iters, p.iterBase, p.iterHist),
        (p.innerIters, p.innerBase))))
    }

  private def specHasLoops(spec: PatternSpec): Boolean =
    spec.steps.exists(_.loopBack >= 0)
  private def specHasInner(spec: PatternSpec): Boolean =
    spec.steps.exists(_.innerLoopBack >= 0)

  /** Loop-group helpers shared by [[runNfa]] and [[runNfaSkipPast]].
    * `iterPred` anchors: for specs WITHOUT nested groups the base view is
    * the outer iteration base verbatim (zero allocation, the round-14
    * path); with nested groups each INNER step's anchor comes from the
    * inner frame instead — a ref from an inner member to an outer member
    * of the same group still reads the outer base, and a ref from an
    * outer member to an inner member reads the LAST inner iteration's
    * start (the inner base survives leaving the group).
    */
  private def stepOk(step: Step, e: CepEvent, p: Partial,
                     mergedBase: Partial => Seq[Int]): Boolean =
    step.iterPred match {
      case Some(ip) => ip(e, p.collected, mergedBase(p))
      case None => step.pred(e, p.collected)
    }
  private def baseAt(p: Partial, i: Int): Int =
    if (p.iterBase.isEmpty) 0 else p.iterBase(i)
  private def innerBaseAt(p: Partial, i: Int): Int =
    if (p.innerBase.isEmpty) 0 else p.innerBase(i)
  /** Gating base for the member quantifier at step i: inner members count
    * within the current INNER iteration, other looped members within the
    * current outer iteration, plain steps from zero. */
  private def gateBaseAt(step: Step, p: Partial, i: Int): Int =
    if (step.inner) innerBaseAt(p, i) else baseAt(p, i)
  /** Per-step counts collected in the CURRENT inner iteration of the
    * nested group [stepIdx-innerLoopBack, stepIdx]. */
  private def innerIterCounts(p: Partial, coll2: Seq[Seq[CepEvent]],
                              innerLoopBack: Int): Seq[Int] =
    (p.stepIdx - innerLoopBack to p.stepIdx)
      .map(i => coll2(i).size - innerBaseAt(p, i))
  /** Inner base for the NEXT inner iteration: the inner range snapshots
    * its current buffer sizes; everything else keeps its old inner base. */
  private def nextInnerBase(p: Partial, coll2: Seq[Seq[CepEvent]],
                            innerLoopBack: Int): Seq[Int] = {
    val lo = p.stepIdx - innerLoopBack
    Seq.tabulate(coll2.size)(i =>
      if (i >= lo && i <= p.stepIdx) coll2(i).size else innerBaseAt(p, i))
  }
  /** Per-step counts collected in the CURRENT iteration of the group
    * [stepIdx-loopBack, stepIdx]. */
  private def iterCounts(p: Partial, coll2: Seq[Seq[CepEvent]], loopBack: Int): Seq[Int] =
    (p.stepIdx - loopBack to p.stepIdx).map(i => coll2(i).size - baseAt(p, i))
  /** Iteration base for the NEXT iteration: the group range snapshots its
    * current buffer sizes; everything else keeps its old base (0 outside
    * any group the partial has visited). */
  private def nextBase(p: Partial, coll2: Seq[Seq[CepEvent]], loopBack: Int): Seq[Int] = {
    val lo = p.stepIdx - loopBack
    Seq.tabulate(coll2.size)(i =>
      if (i >= lo && i <= p.stepIdx) coll2(i).size else baseAt(p, i))
  }
  /** Zero-min inner groups (round 16): inner-group FIRST-member index →
    * tail first-step index, for groups with `innerMinIters == 0`
    * (`((A B)* C)+`, `{0,m}`). A partial standing at the group's first
    * inner member with NO inner events collected this outer iteration may
    * alternatively stand at the tail (the zero-iteration derivation).
    * Twins are DERIVED per event and never stored, so partial state,
    * checkpoints, and dedup keys are untouched; a twin that advances
    * becomes an ordinary partial at the tail. The compile gates require a
    * tail to exist (a trailing zero-min inner group is typed).
    */
  private def zeroMinTails(spec: PatternSpec): Map[Int, Int] =
    spec.steps.zipWithIndex.collect {
      case (s, li) if s.innerLoopBack >= 0 && s.innerMinIters == 0 =>
        (li - s.innerLoopBack, li + 1)
    }.toMap

  /** iterHist is only needed when a per-iteration count can vary: a looped
    * member's own count (min != max), or — round 15 — a nested group's
    * ITERATION count (innerMin != innerMax): two parses can then share
    * per-step totals and frame state while holding different membership
    * (e.g. `((I){1,} T){2,3}` reading I,T,I,I,I,T as splits (1|1)(3|1) vs
    * (3|1)(1|1) — same totals, different T rows; see [[Partial]]). */
  private def needIterHist(spec: PatternSpec): Boolean =
    spec.steps.exists(s => ((s.looped || s.loopBack >= 0) && s.min != s.max) ||
      (s.innerLoopBack >= 0 && s.innerMinIters != s.innerMaxIters))

  private implicit val keyEnc: Encoder[String] = Encoders.STRING
  private implicit val matchEnc: Encoder[CepMatch] = Encoders.product[CepMatch]
  private implicit val evEnc: Encoder[CepEvent] = Encoders.product[CepEvent]
  private implicit lazy val variantEnc: Encoder[VariantMatch] = Encoders.product[VariantMatch]
  private implicit val stateEnc: Encoder[Array[Byte]] = Encoders.BINARY


  /** Shared member-completion advance for [[runNfa]] and
    * [[runNfaSkipPast]] (the two machines differ ONLY in what a terminal
    * completion does — emit vs hold a candidate): resolves the INNER
    * frame first (leave once the inner floor is met, folding the inner
    * split into iterHist — the inner base SURVIVES leaving so later
    * outer-member refs anchor at the last inner iteration — and branch
    * back while below the inner ceiling), then the OUTER loop frame
    * (iteration gate, maxIters-bounded loop-back, −1-marked history
    * records on nested specs), then plain advance/complete. */
  private def advanceMember(step: Step, p: Partial, coll2: Seq[Seq[CepEvent]],
      pass: NfaPass, push: Partial => Unit, complete: Seq[Int] => Unit): Unit = {
    import pass.{hasInner, needHist, nSteps}
    def outerAdvance(pp: Partial): Unit = {
      if (step.loopBack >= 0) {
        val itersDone = pp.iters + 1
        val histDone =
          if (!needHist) Nil
          else if (hasInner)
            pp.iterHist ++ (-1 +: iterCounts(pp, coll2, step.loopBack))
          else pp.iterHist ++ iterCounts(pp, coll2, step.loopBack)
        if (itersDone >= step.minIters) {
          if (pp.stepIdx == nSteps - 1) complete(histDone)
          else push(Partial(pp.stepIdx + 1, pp.startUs, pp.startSeq,
            coll2, iters = 0, iterBase = Nil, iterHist = histDone))
        }
        if (itersDone < step.maxIters) {
          val nb = nextBase(pp, coll2, step.loopBack)
          // a fresh outer iteration also restarts the inner frame
          push(Partial(pp.stepIdx - step.loopBack, pp.startUs,
            pp.startSeq, coll2, iters = itersDone,
            iterBase = nb, iterHist = histDone,
            innerIters = 0, innerBase = if (hasInner) nb else Nil))
        }
      } else if (pp.stepIdx == nSteps - 1) {
        complete(pp.iterHist)
      } else {
        // mid-group members carry the iteration frames forward; outside a
        // group all fields are at their defaults
        push(Partial(pp.stepIdx + 1, pp.startUs, pp.startSeq, coll2,
          iters = pp.iters, iterBase = pp.iterBase, iterHist = pp.iterHist,
          innerIters = pp.innerIters, innerBase = pp.innerBase))
      }
    }
    if (step.innerLoopBack >= 0) {
      val innerDone = p.innerIters + 1
      val ihist =
        if (!needHist) p.iterHist
        else p.iterHist ++ innerIterCounts(p, coll2, step.innerLoopBack)
      if (innerDone >= step.innerMinIters)
        outerAdvance(p.copy(iterHist = ihist, innerIters = 0))
      if (innerDone < step.innerMaxIters)
        push(Partial(p.stepIdx - step.innerLoopBack, p.startUs, p.startSeq,
          coll2, iters = p.iters, iterBase = p.iterBase,
          iterHist = ihist, innerIters = innerDone,
          innerBase = nextInnerBase(p, coll2, step.innerLoopBack)))
    } else outerAdvance(p)
  }

  /** One pass of [[runNfa]] or [[runNfaSkipPast]] over `spec`: the
    * spec's loop/nested-group flags, the per-event steps both machines
    * share, and the count of partials dropped past maxPartials.
    */
  private final class NfaPass(spec: PatternSpec) {
    val nSteps: Int = spec.steps.size
    val needHist: Boolean = needIterHist(spec)
    val hasLoops: Boolean = specHasLoops(spec)
    val hasInner: Boolean = specHasInner(spec)
    val mergedBase: Partial => Seq[Int] =
      if (!hasInner) (p: Partial) => p.iterBase
      else (p: Partial) => Seq.tabulate(nSteps)(i =>
        if (spec.steps(i).inner) innerBaseAt(p, i) else baseAt(p, i))
    private val zmTails: Map[Int, Int] =
      if (hasInner) zeroMinTails(spec) else Map.empty
    var dropped = 0L

    def seed(e: CepEvent, seq: Long): Partial =
      Partial(0, e.tsUs, seq, Vector.fill(nSteps)(Vector.empty))
    /** WITHIN expiry by event time and/or event count. */
    def expire(ps: Vector[Partial], e: CepEvent, seq: Long): Vector[Partial] = {
      var live = ps
      spec.withinUs.foreach(w => live = live.filter(p => e.tsUs - p.startUs <= w))
      spec.withinEvents.foreach(n => live = live.filter(p => seq - p.startSeq <= n))
      live
    }
    /** `p0`, plus — zero-min inner group — the same partial standing at
      * the tail (the zero-iteration derivation, flagged true) when no
      * inner event has been consumed this outer iteration; derived, never
      * stored (see [[zeroMinTails]]). */
    def forks(p0: Partial): Seq[(Partial, Boolean)] = zmTails.get(p0.stepIdx) match {
      case Some(t) if p0.innerIters == 0 &&
          p0.collected(p0.stepIdx).size == innerBaseAt(p0, p0.stepIdx) =>
        Seq((p0, false), (p0.copy(stepIdx = t), true))
      case _ => Seq((p0, false))
    }
    /** Dedup the next partial set, then keep the earliest-seeded
      * maxPartials, counting the rest as dropped. */
    def trim(next: Vector[Partial]): Vector[Partial] = {
      val t = distinctPartials(next, hasLoops, hasInner)
      if (t.size > spec.maxPartials) dropped += t.size - spec.maxPartials
      t.take(spec.maxPartials)
    }
    def warnDropped(events: Seq[CepEvent]): Unit =
      if (dropped > 0)
        log.warn(s"CEP NFA dropped $dropped in-flight partial match(es) past " +
          s"maxPartials=${spec.maxPartials} for key " +
          s"'${events.headOption.map(_.key).getOrElse("?")}' — matches past the " +
          "cap are lost; raise PatternSpec.maxPartials, narrow step " +
          "predicates, or add a WITHIN bound")
  }

  /** Core incremental NFA step: feed ordered events through the state. */
  def runNfa(events: Seq[CepEvent], init: NfaState, spec: PatternSpec)
      : (Seq[CepMatch], NfaState) = {
    val pass = new NfaPass(spec)
    import pass.{hasInner, mergedBase}
    var partials: Vector[Partial] = init.partials.toVector
    var done = init.done
    var seq = init.seq
    var mseq = init.matchSeq
    val matches = Seq.newBuilder[CepMatch]

    events.foreach { e =>
      seq += 1
      if (!(done && !spec.every)) {
        partials = pass.expire(partials, e, seq)
        // Without EVERY the pattern is single-instance: only the FIRST
        // complete sequence ever emits, and no new instance is seeded while
        // one is in flight (pattern_every_overlapping_test.rs:194-285 —
        // A1, A2, B3 against `A -> B` yields exactly A1-B3; A2 is ignored).
        // With EVERY, every event seeds a fresh concurrent instance — true
        // overlapping per the reference's grammar spec (same file :786-969),
        // including the sliding count-quantifier form its :1203 test marks
        // as intended-but-unimplemented.
        val seedNow = spec.every || partials.isEmpty
        val seed = pass.seed(e, seq)
        val next = Vector.newBuilder[Partial]
        var matchedNow = false
        // nested groups only: two parses differing ONLY in inner-iteration
        // structure can hold IDENTICAL buffers (e.g. ((A{1,2}){1,2} C)+
        // reading A A as one 2-count iteration vs two 1-count iterations) —
        // same (start, membership) = the SAME match, emitted once
        val emittedNow =
          if (hasInner)
            scala.collection.mutable.HashSet.empty[(Long, Seq[Seq[Long]])]
          else null

        (if (seedNow) partials :+ seed else partials).foreach { p0 =>
          pass.forks(p0).foreach { case (p, isTwin) =>
          val step = spec.steps(p.stepIdx)
          // mid-chain NOT: this event kills every partial whose guarded gap
          // is open (anchor collected, next step empty) — unless the step
          // predicate also matches, in which case the event ADVANCES the
          // partial instead (strict between-bounds, see [[MidGuard]])
          val guardKill = spec.midGuards.exists { g =>
            p.stepIdx == g.afterStep + 1 && p.collected(p.stepIdx).isEmpty &&
            g.pred(e) &&
            g.forUs.forall(f => e.tsUs <= p.collected(g.afterStep).last.tsUs + f)
          }
          if (stepOk(step, e, p, mergedBase)) {
            val coll2 = p.collected.updated(p.stepIdx, p.collected(p.stepIdx) :+ e)
            // member quantifiers gate on the count collected THIS
            // iteration (total minus the iteration base — zero outside
            // loop groups, so plain chains read the total as before;
            // INNER members gate within the current inner iteration)
            val cnt = coll2(p.stepIdx).size
            val cntIter = cnt - gateBaseAt(step, p, p.stepIdx)
            if (cntIter < step.max)
              next += p.copy(collected = coll2) // stay: await more of this step
            if (cntIter >= step.min) {
              def emitHere(): Unit = {
                // non-EVERY: first completion only — a second partial
                // completing on the same event is not emitted (reference:
                // "the first complete sequence" wins)
                // key = full membership (event ids), not counts: relaxed
                // mode can skip middle events, so equal counts do not
                // imply equal membership; hashing is per EMISSION, not
                // per event
                if (hasInner && !emittedNow.add(
                    (p.startSeq, coll2.map(_.map(_.eventId))))) {
                  matchedNow = true; return
                }
                if (spec.every || !matchedNow) {
                  mseq += 1
                  matches += CepMatch(e.key, p.startUs, e.tsUs,
                    spec.steps.map(_.name).zip(coll2).map { case (n, es) => Collected(n, es) },
                    matchSeq = mseq)
                }
                matchedNow = true
              }
              advanceMember(step, p, coll2, pass, next += _, _ => emitHere())
            }
          } else if (!spec.strict && !guardKill) {
            // relaxed PATTERN: non-matching events are skipped; seeds that
            // fail step 0 are simply not retained. Twins never retain —
            // the original (retained separately) re-derives them.
            if (!isTwin && (p ne seed)) next += p
          }
          // strict SEQUENCE: mismatch kills the in-flight instance;
          // guardKill: a mid-chain NOT event kills the gap's partial
          }
        }

        partials = pass.trim(next.result())
        if (matchedNow && !spec.every) { done = true; partials = Vector.empty }
      }
    }
    pass.warnDropped(events)
    (matches.result(), NfaState(partials, done, seq, init.dropped + pass.dropped, mseq))
  }

  /** One held candidate of the streaming SKIP PAST LAST ROW machine: a
    * COMPLETED match waiting until no earlier-or-same-start partial can
    * still produce a leftmost-greedier match. `counts` = per-step buffer
    * sizes (the greedy comparison key — lex-max wins at a fixed start).
    */
  /** `groupIters` (round 15, −1 = not applicable): total loop-group
    * iterations of the candidate's parse — populated only when the spec
    * holds a RELUCTANT loop group with a variable-count member, where the
    * group-level '?' is defined as the two-level lexicographic key
    * "fewest ITERATIONS, then fewest member rows" (member counts alone
    * cannot order parses whose iteration/member splits trade off). */
  /** `hist` (round 16, Nil = not applicable): the candidate parse's full
    * iterHist record stream — populated only when the spec holds a
    * reluctant INNER group, where the parse preference is the stream's
    * first structural divergence (leave-inner beats continue-inner; a
    * longer stream beats a strict prefix under the greedy outer group).
    * The field shipped under state schema v14 ([[StateSchema.Version]]),
    * which was not bumped for it.
    */
  final case class SkipCand(m: CepMatch, startSeq: Long, endSeq: Long,
                            counts: Seq[Long], groupIters: Long = -1L,
                            hist: Seq[Int] = Nil)
  object SkipCand {
    implicit val codec: StateCodec[SkipCand] = StateCodec.product[SkipCand] { (w, c) =>
      w(c.m); w.long(c.startSeq); w.long(c.endSeq); w.seq(c.counts)
      w.long(c.groupIters); w.seq(c.hist)
    }(r => SkipCand(r[CepMatch](), r.long(), r.long(), r.seq[Long](), r.long(),
      r.seq[Int]()))
  }

  /** State of the streaming skip-past machine: the NFA state (partials
    * enumerate every (start, parse) pair exactly like EVERY mode), the
    * consumed-row frontier `pos` (per-key seq ordinal — matches starting
    * before it are overlapped and dead), and the held candidates (one
    * per start, best-parse-so-far).
    */
  final case class SkipNfaState(nfa: NfaState, pos: Long, cands: Seq[SkipCand])
  object SkipNfaState {
    implicit val codec: StateCodec[SkipNfaState] = StateCodec.product[SkipNfaState] {
      (w, s) => w(s.nfa); w.long(s.pos); w.seq(s.cands)
    }(r => SkipNfaState(r[NfaState](), r.long(), r.seq[SkipCand]()))
  }

  /** Incremental `AFTER MATCH SKIP PAST LAST ROW` / `SKIP TO FIRST|LAST`
    * (greedy leftmost non-overlapping selection) for a STRICT single-chain
    * pattern — batch AND streaming run this same machine (batch through
    * [[detect]] with [[Selection.Skip]], which folds it over the key's
    * history and end-of-input-flushes; streaming through [[detectStream]]'s
    * watermark timeout). Enumeration is EVERY-mode (each event seeds;
    * stay/advance both explored), but instead of emitting on completion, a
    * completed match becomes a held CANDIDATE — at most ONE per live start
    * (lex-max parse wins), so the full EVERY match set is never
    * materialized: a k-row monotone streak holds one partial and one
    * candidate where the enumerate-then-filter shape materializes O(k²)
    * collected events. A candidate at start s emits only when NO live
    * partial has start ≤ s (an earlier-or-same-start partial could still
    * complete leftmost-er or greedier — the conservative hold), and
    * emission advances `pos` to the resume row — past the match's last row
    * (SKIP PAST), or AT the row FIRST/LAST of the named variable mapped to
    * (`resume` = (step index, isFirst); inclusive — that row may start the
    * next match, and the compile gate rejects resume-at-head so emitted
    * starts strictly increase) — killing overlapped partials/candidates.
    * `resume = Some((-1, _))` is SKIP TO NEXT ROW under a parse preference
    * (reluctant quantifiers): resume at start + 1, so every start emits
    * its one preferred parse and matches overlap freely (round 14).
    * In strict mode a partial dies on the first non-matching event or at
    * WITHIN expiry, so the hold is bounded by the WITHIN window — which
    * is why the streaming lowering REQUIRES a time WITHIN (the timeout
    * sweep must be able to flush a key that stops receiving events).
    * matchSeq numbers the SELECTED matches in emission order.
    *
    * Resume-row mapping needs no extra state: a strict chain's match spans
    * CONSECUTIVE rows (every event in [startSeq, endSeq] is collected —
    * a mismatch anywhere kills the instance), so variable i's first row is
    * startSeq + Σcounts(0..i-1) and its last is startSeq + Σcounts(0..i) - 1.
    *
    * No midGuards / OR-residual machinery: the compile gates restrict
    * skip modes to strict single chains without absent guards.
    */
  def runNfaSkipPast(events: Seq[CepEvent], init: SkipNfaState,
                     spec: PatternSpec,
                     resume: Option[(Int, Boolean)] = None): (Seq[CepMatch], SkipNfaState) = {
    val pass = new NfaPass(spec)
    // reluctant loop group with a VARIABLE-count member: candidates carry
    // the parse's total iteration count for the two-level preference
    // (fewest iterations, then fewest member rows). Derived from the
    // iterHist record count — needIterHist is true for exactly these
    // specs, one record of `width` ints per completed iteration (the
    // compile gates keep this to a single, non-nested loop group)
    val relVarWidth: Int =
      if (spec.steps.exists(s => s.looped && s.reluctant && s.min != s.max))
        spec.steps.find(_.loopBack >= 0).map(_.loopBack + 1).getOrElse(0)
      else 0
    var partials: Vector[Partial] = init.nfa.partials.toVector
    var seq = init.nfa.seq
    var mseq = init.nfa.matchSeq
    var pos = init.pos
    var cands: Vector[SkipCand] = init.cands.toVector
    val out = Seq.newBuilder[CepMatch]

    val rel = spec.steps.map(_.reluctant)
    val gStart = relVarGroupStart(spec)
    val irel = innerRelCfg(spec)
    def addCand(c: SkipCand): Unit = {
      if (c.startSeq < pos) return
      val i = cands.indexWhere(_.startSeq == c.startSeq)
      if (i < 0) cands :+= c
      else if (skipPreferred(c.counts, cands(i).counts, rel,
        c.groupIters, cands(i).groupIters, gStart,
        c.hist, cands(i).hist, irel)) cands = cands.updated(i, c)
    }
    def flush(): Unit = {
      val (emitted, st2) = skipFlush(SkipNfaState(
        NfaState(partials, done = false, seq, 0L, mseq), pos, cands), resume, rel,
        gStart, irel)
      out ++= emitted
      partials = st2.nfa.partials.toVector
      mseq = st2.nfa.matchSeq
      pos = st2.pos
      cands = st2.cands.toVector
    }

    events.foreach { e =>
      seq += 1
      partials = pass.expire(partials, e, seq)
      val next = Vector.newBuilder[Partial]
      (partials :+ pass.seed(e, seq)).foreach { p0 =>
        pass.forks(p0).foreach { case (p, _) =>
        val step = spec.steps(p.stepIdx)
        if (stepOk(step, e, p, pass.mergedBase)) {
          val coll2 = p.collected.updated(p.stepIdx, p.collected(p.stepIdx) :+ e)
          val cnt = coll2(p.stepIdx).size
          val cntIter = cnt - gateBaseAt(step, p, p.stepIdx)
          if (cntIter < step.max) next += p.copy(collected = coll2)
          if (cntIter >= step.min) {
            def candHere(hist: Seq[Int]): Unit = addCand(SkipCand(
              CepMatch(e.key, p.startUs, e.tsUs,
                spec.steps.map(_.name).zip(coll2).map { case (n, es) => Collected(n, es) }),
              p.startSeq, seq, coll2.map(_.size.toLong),
              groupIters =
                if (relVarWidth > 0) (hist.size / relVarWidth).toLong else -1L,
              hist = if (irel.isDefined) hist else Nil))
            // same loop-group bookkeeping as [[runNfa]], terminal
            // completions become held candidates
            advanceMember(step, p, coll2, pass, next += _, candHere)
          }
        }
        // strict contiguity: a mismatching event kills the instance
        }
      }
      partials = pass.trim(next.result())
      flush()
    }
    pass.warnDropped(events)
    (out.result(),
      SkipNfaState(NfaState(partials, done = false, seq,
        init.nfa.dropped + pass.dropped, mseq), pos, cands))
  }

  /** Parse preference at a fixed start: quantifiers resolve left to right,
    * each greedy one preferring MORE repetitions and each reluctant one
    * (`+?` / `{n,m}?`) FEWER — lexicographic comparison with a
    * per-position direction (regex backtracking order for a contiguous
    * chain). `rel(i)` = step i is reluctant; empty = all greedy. Returns
    * true when `a` is strictly preferred over `b`.
    */
  /** Hist-preference config (round 16): when the spec holds a nested
    * group under a RELUCTANT quantifier — inner (`((A B)+? C)+`), outer
    * (`((A B)+ C)+?`), or both — (group position, inner record width,
    * outer record width, innerReluctant, outerReluctant) for the
    * hist-stream preference; None otherwise (all-greedy nested specs keep
    * the counts-lex selection).
    */
  private[streaming] def innerRelCfg(spec: PatternSpec)
      : Option[(Int, Int, Int, Boolean, Boolean)] =
    spec.steps.find(_.innerLoopBack >= 0).flatMap { in =>
      val outerRel = spec.steps.exists(s => s.loopBack >= 0 && s.reluctant)
      if (!in.innerReluctant && !outerRel) None
      else Some((spec.steps.indexWhere(_.looped),
        in.innerLoopBack + 1,
        spec.steps.find(_.loopBack >= 0).map(_.loopBack + 1).getOrElse(0),
        in.innerReluctant, outerRel))
    }

  /** Backtracking order over two parses' iterHist record streams (both
    * from the same start, all member counts FIXED by the compile gates, so
    * record content is parse-independent and the first STRUCTURAL
    * divergence is the first differing derivation choice):
    *  - one stream has the `-1` outer marker where the other has an inner
    *    record → the marker-side parse LEFT (or, zero-min, SKIPPED) the
    *    inner loop at that choice; preferred iff the INNER group is
    *    reluctant, else the continuing parse wins (greedy inner);
    *  - equal prefix, one stream ends → the shorter COMPLETED where the
    *    longer took the outer loop-back; preferred iff the OUTER group is
    *    reluctant, else the longer wins (greedy outer).
    * Returns <0 a preferred, >0 b preferred, 0 tie.
    */
  private def histPreferred(a: Seq[Int], b: Seq[Int],
                            innerW: Int, outerW: Int,
                            innerRel: Boolean, outerRel: Boolean): Int = {
    var ia = 0; var ib = 0
    while (ia < a.length && ib < b.length) {
      val aOuter = a(ia) == -1; val bOuter = b(ib) == -1
      if (aOuter != bOuter)
        return if (aOuter == innerRel) -1 else 1
      val w = if (aOuter) outerW + 1 else innerW
      ia += w; ib += w
    }
    if (a.length == b.length) 0
    else if ((a.length < b.length) == outerRel) -1
    else 1
  }

  private def skipPreferred(a: Seq[Long], b: Seq[Long], rel: Seq[Boolean],
                            aIters: Long = -1L, bIters: Long = -1L,
                            groupStart: Int = -1,
                            aHist: Seq[Int] = Nil, bHist: Seq[Int] = Nil,
                            irel: Option[(Int, Int, Int, Boolean, Boolean)] = None): Boolean = {
    // two-level key for reluctant groups with variable-count members
    // (round 15): the group-level '?' prefers the FEWEST ITERATIONS, and
    // it resolves AT THE GROUP'S POSITION in the left-to-right quantifier
    // order (regex backtracking: steps BEFORE the group keep their own
    // preference first — a global iters-first comparison would let the
    // group override an earlier reluctant step's resolution); the
    // member-level directions then break ties among equal-iteration
    // parses (fewest member rows)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      if (i == groupStart && aIters >= 0L && bIters >= 0L && aIters != bIters)
        return aIters < bIters
      // reluctant INNER group (round 16): the whole group's parse order is
      // the hist-stream backtracking comparison, resolved AT the group's
      // position in the left-to-right quantifier order
      irel match {
        case Some((gs, iw, ow, ir, orl)) if i == gs =>
          val h = histPreferred(aHist, bHist, iw, ow, ir, orl)
          if (h != 0) return h < 0
        case _ => ()
      }
      if (a(i) != b(i))
        return if (i < rel.length && rel(i)) a(i) < b(i) else a(i) > b(i)
      i += 1
    }
    false
  }

  /** First looped step's index when the spec holds a reluctant loop group
    * with a variable-count member (the positional anchor for the
    * iteration key above); −1 otherwise. */
  private def relVarGroupStart(spec: PatternSpec): Int =
    if (spec.steps.exists(s => s.looped && s.reluctant && s.min != s.max))
      spec.steps.indexWhere(_.looped)
    else -1

  /** The selection sweep shared by the event path and the timeout path:
    * repeatedly emit the earliest-start held candidate once no live
    * partial at-or-before that start remains, advancing `pos` to the
    * emitted match's resume row (see [[runNfaSkipPast]]: past the span, or
    * the SKIP TO variable's first/last row — inclusive, allowing partial
    * overlap of the NEXT match). Returns (emitted, state'). */
  private def skipFlush(st: SkipNfaState,
                        resume: Option[(Int, Boolean)] = None,
                        rel: Seq[Boolean] = Nil,
                        groupStart: Int = -1,
                        irel: Option[(Int, Int, Int, Boolean, Boolean)] = None)
      : (Seq[CepMatch], SkipNfaState) = {
    var pos = st.pos
    var cands = st.cands.toVector
    var partials = st.nfa.partials.toVector
    var mseq = st.nfa.matchSeq
    val o = Seq.newBuilder[CepMatch]
    var cont = true
    while (cont) {
      cont = false
      cands = cands.filter(_.startSeq >= pos)
      if (cands.nonEmpty) {
        val s = cands.map(_.startSeq).min
        if (!partials.exists(_.startSeq <= s)) {
          val best = cands.filter(_.startSeq == s)
            .reduceLeft((x, y) => if (skipPreferred(y.counts, x.counts, rel,
              y.groupIters, x.groupIters, groupStart, y.hist, x.hist, irel)) y else x)
          mseq += 1
          o += best.m.copy(matchSeq = mseq)
          pos = resume match {
            case None => best.endSeq + 1
            case Some((i, _)) if i < 0 =>
              // SKIP TO NEXT ROW with a parse preference (reluctant
              // quantifiers, round 14): one preferred parse per START, the
              // scan resumes at the row after the match's first — matches
              // overlap freely, only same-start alternatives are decided
              best.startSeq + 1
            case Some((i, isFirst)) =>
              // contiguous span: variable i's rows sit at a counts-prefix
              // offset from the start (see runNfaSkipPast scaladoc)
              if (isFirst) best.startSeq + best.counts.take(i).sum
              else best.startSeq + best.counts.take(i + 1).sum - 1
          }
          partials = partials.filter(_.startSeq >= pos)
          cont = true
        }
      }
    }
    (o.result(), SkipNfaState(
      st.nfa.copy(partials = partials, matchSeq = mseq), pos, cands))
  }

  /** Expire partials past the WITHIN deadline at watermark time and
    * re-flush: candidates blocked only by now-dead partials emit. The
    * timeout half of [[runNfaSkipPast]] — without it a key that stops
    * receiving events would hold its last candidates forever.
    */
  def skipPastTimeoutFlush(st: SkipNfaState, wmUs: Long, withinUs: Long,
                           resume: Option[(Int, Boolean)] = None,
                           rel: Seq[Boolean] = Nil,
                           groupStart: Int = -1,
                           irel: Option[(Int, Int, Int, Boolean, Boolean)] = None)
      : (Seq[CepMatch], SkipNfaState) = {
    val live = st.nfa.partials.filter(p => p.startUs + withinUs >= wmUs)
    skipFlush(st.copy(nfa = st.nfa.copy(partials = live)), resume, rel,
      groupStart, irel)
  }

  /** Match selection of [[detect]] and [[detectStream]]. */
  sealed trait Selection extends Serializable
  object Selection {
    /** Every match the [[runNfa]] enumeration emits (only the first one
      * without [[PatternSpec.every]]). */
    case object Every extends Selection
    /** Greedy leftmost selection on the [[runNfaSkipPast]] machine
      * (`AFTER MATCH SKIP PAST LAST ROW`, `SKIP TO FIRST|LAST`, reluctant
      * `SKIP TO NEXT ROW`); `resume` as there. */
    final case class Skip(resume: Option[(Int, Boolean)]) extends Selection
  }

  private def emptySkip: SkipNfaState = SkipNfaState(NfaState(Nil, done = false), 0L, Nil)

  /** Batch detection: per-key sort, then one pass of the selection's
    * machine. Under [[Selection.Skip]] the end of input is a watermark
    * past every deadline, so a final flush with every partial dead makes
    * every held candidate conclusive; the machine holds O(live starts)
    * candidates and consumes on match, so a key's cost is linear in its
    * history even on monotone streaks where the EVERY match set is
    * quadratic. `dropCounter` aggregates partials discarded past
    * maxPartials across keys — zero means no match was lost to the state
    * cap.
    */
  def detect(ds: Dataset[CepEvent], spec: PatternSpec,
             dropCounter: Option[org.apache.spark.util.LongAccumulator] = None,
             selection: Selection = Selection.Every): Dataset[CepMatch] =
    // COLUMN-keyed grouping, not groupByKey(_.key) (round 16): the lambda
    // key adds a per-row AppendColumns closure and an exchange that can
    // never match existing partitioning; the column key drops the closure
    // and reuses an upstream hash exchange on `key` (the MR compiler's
    // persisted ordering) when one exists. Same groups, same matches.
    ds.groupBy(col("key")).as[String, CepEvent]
      .flatMapGroups { (_: String, it: Iterator[CepEvent]) =>
      val evs = it.toSeq.sortBy(e => (e.tsUs, e.eventId))
      val (out, dropped) = selection match {
        case Selection.Every =>
          val (o, st) = runNfa(evs, NfaState(Nil, done = false), spec)
          (o, st.dropped)
        case Selection.Skip(resume) =>
          val (o, st) = runNfaSkipPast(evs, emptySkip, spec, resume)
          val (tail, _) = skipFlush(st.copy(nfa = st.nfa.copy(partials = Nil)),
            resume, spec.steps.map(_.reluctant), relVarGroupStart(spec),
            innerRelCfg(spec))
          (o ++ tail, st.nfa.dropped)
      }
      dropCounter.foreach(_.add(dropped))
      out.iterator
    }

  /** Batch detection for a FAMILY of pattern variants over one shared
    * event encoding: each key's history is shuffled, sorted, and
    * materialized ONCE, then every variant's NFA folds over the same
    * in-memory sequence — V variants cost one exchange instead of V
    * (the multi-variant SQL patterns: AND arrival orderings, `A*`
    * presence pairs). Each variant runs the IDENTICAL independent
    * [[runNfa]] it would run under [[detect]], so match sets are
    * bit-for-bit those of V separate passes.
    */
  def detectMulti(ds: Dataset[CepEvent], specs: Seq[PatternSpec]): Dataset[VariantMatch] =
    // column-keyed grouping — see detect
    ds.groupBy(col("key")).as[String, CepEvent]
      .flatMapGroups { (_: String, it: Iterator[CepEvent]) =>
      val evs = it.toSeq.sortBy(e => (e.tsUs, e.eventId))
      specs.iterator.zipWithIndex.flatMap { case (spec, vi) =>
        runNfa(evs, NfaState(Nil, done = false), spec)._1.map(variantMatch(vi, _))
      }
    }

  private def variantMatch(vi: Int, m: CepMatch, matchSeq: Long = 0L): VariantMatch =
    VariantMatch(vi, m.key, m.startUs, m.endUs, m.steps, matchSeq)

  /** Batch detection with BOUNDED per-key memory — the hot-key scale path.
    * [[detect]] materializes each key's full history (`it.toSeq`) before
    * the NFA pass: fine on TPC-H-shaped keys, an executor-memory cliff on a
    * pathological hot key. This variant instead SECONDARY-SORTS the
    * partitions (repartition by key, sortWithinPartitions by key/ts/id —
    * Spark's sort is spillable, so the ordering never needs the key in
    * memory) and folds the sorted run through [[runNfa]] in fixed-size
    * chunks, exactly like the streaming path folds micro-batches; resident
    * state is one chunk + the partial set (maxPartials-capped). Chunked
    * fold ≡ one-shot pass because runNfa is a state fold (the
    * batch≡streaming property CepSpec pins).
    */
  def detectSorted(ds: Dataset[CepEvent], spec: PatternSpec,
                   chunkSize: Int = 1 << 16): Dataset[CepMatch] = {
    val sorted = ds.repartition(col("key"))
      .sortWithinPartitions(col("key"), col("tsUs"), col("eventId"))
      .as[CepEvent](evEnc)
    sorted.mapPartitions { it =>
      val b = it.buffered
      // one inner iterator per key run; flatten consumes each fully before
      // advancing, preserving the single-pass contract
      new Iterator[Iterator[CepMatch]] {
        def hasNext: Boolean = b.hasNext
        def next(): Iterator[CepMatch] = {
          val key = b.head.key
          var st = NfaState(Nil, done = false)
          val chunks = new Iterator[Seq[CepEvent]] {
            def hasNext: Boolean = b.hasNext && b.head.key == key
            def next(): Seq[CepEvent] = {
              val buf = Vector.newBuilder[CepEvent]
              var n = 0
              while (n < chunkSize && b.hasNext && b.head.key == key) {
                buf += b.next(); n += 1
              }
              buf.result()
            }
          }
          chunks.flatMap { evs =>
            val (out, st2) = runNfa(evs, st, spec)
            st = st2
            out
          }
        }
      }.flatten
    }(matchEnc)
  }

  /** One input row awaiting its unmatched-eligibility proof, and the
    * reference that marks it claimed: (tsUs, eventId) — eventId is the
    * streaming tie-break hash, so bit-identical duplicate rows share a
    * ref (they are already conflated everywhere the stream lacks a
    * physical row id; batch WITH UNMATCHED distinguishes them via its
    * row_number ids).
    */
  final case class RowRef(tsUs: Long, eventId: Long)
  object RowRef {
    implicit val codec: StateCodec[RowRef] = StateCodec.product[RowRef] {
      (w, ref) => w.long(ref.tsUs); w.long(ref.eventId)
    }(r => RowRef(r.long(), r.long()))
  }
  /** State of the unmatched-rows mode: the inner match machine
    * (SkipNfaState — for the EVERY selection only its `nfa` field is
    * used), the rows not yet provably unmatched, and the claimed refs of
    * matches already emitted (kept until the rows they cover expire).
    */
  final case class UnmatchedNfaState(skip: SkipNfaState, pending: Seq[CepEvent],
                                     claimed: Seq[RowRef])
  object UnmatchedNfaState {
    implicit val codec: StateCodec[UnmatchedNfaState] =
      StateCodec.product[UnmatchedNfaState] { (w, s) =>
        w(s.skip); w.seq(s.pending); w.seq(s.claimed)
      }(r => UnmatchedNfaState(r[SkipNfaState](), r.seq[CepEvent](), r.seq[RowRef]()))
  }

  /** Trailing absent guard (`… -> NOT B FOR d`, the streaming SQL
    * surface's trailing NOT): a completed base match waits out every
    * guard's FOR deadline in per-key state; a guard-matching later event
    * within the guard's window kills it.
    */
  final case class TrailingAbsent(pred: CepEvent => Boolean, forUs: Long)
    extends Serializable

  /** NFA state + completed base matches awaiting their absence deadlines.
    * `seq` (round 13): per-key CONCLUSIVE-emission ordinal — matchSeq is
    * assigned when a pending match survives its deadlines, not when the
    * NFA completes it, so guard-KILLED matches leave no gap in
    * mr_match_number (the reason streaming ALL ROWS + trailing NOT was
    * batch-only before). Shipped with state schema v12.
    */
  final case class AbsentChainState(nfa: NfaState, pending: Seq[CepMatch],
                                    seq: Long)
  object AbsentChainState {
    implicit val codec: StateCodec[AbsentChainState] =
      StateCodec.product[AbsentChainState] { (w, s) =>
        w(s.nfa); w.seq(s.pending); w.long(s.seq)
      }(r => AbsentChainState(r[NfaState](), r.seq[CepMatch](), r.long()))
  }

  /** State of the multi-variant all-rows mode: every variant's NFA state
    * plus the per-key match ordinal SHARED across variants (streaming EMIT
    * ALL ROWS' mr_match_number must number a key's matches once, not per
    * variant — two variants' counters would collide).
    */
  final case class MultiSeqState(states: Seq[NfaState], shared: Long)
  object MultiSeqState {
    implicit val codec: StateCodec[MultiSeqState] = StateCodec.product[MultiSeqState] {
      (w, s) => w.seq(s.states); w.long(s.shared)
    }(r => MultiSeqState(r.seq[NfaState](), r.long()))
  }

  /** What [[detectStream]] runs besides the pattern specs — one record,
    * derived by the SQL compiler from the query:
    *  - `lateness`: the event-time watermark delay (ALLOW LATENESS; "0
    *    seconds" = in-order contract, tightest state bound). `None` = no
    *    watermark and no timeout: every event reaches the NFA in arrival
    *    order and state is never purged. With a delay, the watermark
    *    purges partials past their WITHIN deadline and flushes held
    *    results past theirs (GroupStateTimeout.EventTimeTimeout — the
    *    reference's TimerWheel, timers/timer_wheel.rs), and drained keys
    *    drop their state entry. It needs a WITHIN or a trailing guard.
    *  - `selection`: the EVERY enumeration or the skip machine.
    *  - `guards`: trailing absent guards.
    *  - `unmatched`: also emit every input row no match claims (ALL ROWS
    *    PER MATCH WITH UNMATCHED ROWS).
    *  - `allRows`: the query reads mr_match_number, so the per-key match
    *    counter must never restart (see [[nfaMachine]]); over several
    *    specs, one counter is shared by all variants.
    * Skip selection, guards, unmatched rows and all-rows over several
    * specs hold results until a deadline passes, so they need `lateness`.
    */
  final case class StreamMode(lateness: Option[String] = None,
                              selection: Selection = Selection.Every,
                              guards: Seq[TrailingAbsent] = Nil,
                              unmatched: Boolean = false,
                              allRows: Boolean = false)

  /** Streaming detection: per-key state persists across micro-batches;
    * events are ordered within each batch by (tsUs, eventId) (cross-batch
    * order = source contract). One spec yields [[CepMatch]] rows. Several
    * specs (a multi-variant family: AND arrival orderings, min=0 presence
    * pairs) yield [[VariantMatch]] rows: ONE state-store entry per key
    * holds every variant's [[NfaState]], each micro-batch shuffles the
    * stream once instead of once per variant, and each variant folds the
    * identical [[runNfa]] it would fold alone. `mode` picks the state
    * machine; [[drive]] runs it.
    */
  def detectStream(ds: Dataset[CepEvent], specs: Seq[PatternSpec],
                   mode: StreamMode = StreamMode()): DataFrame = {
    require(specs.nonEmpty, "detectStream needs at least one pattern spec")
    val spec = specs.head
    val holds = mode.selection != Selection.Every || mode.guards.nonEmpty ||
      mode.unmatched || (mode.allRows && specs.size > 1)
    require(mode.lateness.isDefined || !holds,
      "skip selection, trailing guards, unmatched rows and multi-variant " +
        "all-rows hold results until a deadline: they need a lateness")
    require(mode.lateness.isEmpty || spec.withinUs.isDefined || mode.guards.nonEmpty,
      "an event-time timeout needs a WITHIN or a trailing guard deadline")
    require(mode.guards.isEmpty ||
        (specs.size == 1 && mode.selection == Selection.Every && !mode.unmatched),
      "trailing guards run on a single spec's EVERY enumeration")
    require(specs.size == 1 || (mode.selection == Selection.Every && !mode.unmatched),
      "several specs run the EVERY enumeration without unmatched rows")
    val l = mode.lateness
    if (specs.size > 1) {
      if (mode.allRows) drive(ds, multiSeqMachine(specs), l)
      else drive(ds, multiMachine(specs), l)
    } else if (mode.unmatched)
      drive(ds, unmatchedMachine(spec, mode.selection, mode.allRows), l)
    else if (mode.guards.nonEmpty)
      drive(ds, absentMachine(spec, mode.guards, mode.allRows), l)
    else mode.selection match {
      case Selection.Skip(resume) => drive(ds, skipMachine(spec, resume, mode.allRows), l)
      case Selection.Every => drive(ds, nfaMachine(spec, mode.allRows), l)
    }
  }

  /** One streaming mode of [[detectStream]] over per-key state `S`:
    *  - `fold`: consume one micro-batch's sorted events (with the current
    *    watermark in µs);
    *  - `sweep`: the event-time timeout fired at the given watermark (µs);
    *  - `keep`: whether the key's state entry survives (else removed);
    *  - `wake`: the event-time deadline (µs) of the next timeout, if any.
    */
  private final case class Machine[S, O](
      empty: S,
      fold: (S, Seq[CepEvent], Long) => (Seq[O], S),
      sweep: (S, Long) => (Seq[O], S),
      keep: S => Boolean,
      wake: S => Option[Long])

  /** The runner behind every streaming mode: with a `lateness` the
    * stream gets its event-time watermark and the key an EventTimeTimeout;
    * each call sweeps (timeout) or folds the sorted batch, then removes a
    * drained key's entry or updates it and schedules the next wake-up
    * (event-time ms, rounded up; clamped above the watermark — registering
    * at-or-below it is rejected by the state store). Without a lateness
    * the state is always kept and never times out. The store holds `S` as
    * one binary column through its [[StateCodec]].
    */
  private def drive[S, O: Encoder](ds: Dataset[CepEvent], m: Machine[S, O],
                                   lateness: Option[String])(
      implicit codec: StateCodec[S]): DataFrame = {
    val in = lateness.fold(ds)(delay => ds.toDF()
      .withColumn("eventTime", timestamp_micros(col("tsUs")))
      .withWatermark("eventTime", delay)
      .as[CepEvent](evEnc))
    in.groupByKey(_.key).flatMapGroupsWithState(OutputMode.Append,
        if (lateness.isDefined) GroupStateTimeout.EventTimeTimeout
        else GroupStateTimeout.NoTimeout) {
      (_: String, it: Iterator[CepEvent], state: GroupState[Array[Byte]]) =>
        val s0 = state.getOption.fold(m.empty)(codec.decode)
        val wmUs =
          if (lateness.isDefined) state.getCurrentWatermarkMs() * 1000L else Long.MinValue
        val (out, s1) =
          if (state.hasTimedOut) m.sweep(s0, wmUs)
          else m.fold(s0, it.toSeq.sortBy(e => (e.tsUs, e.eventId)), wmUs)
        if (lateness.isEmpty) state.update(codec.encode(s1))
        else if (!m.keep(s1)) state.remove()
        else {
          state.update(codec.encode(s1))
          m.wake(s1).foreach(d => state.setTimeoutTimestamp(
            math.max(ceilMs(d), state.getCurrentWatermarkMs() + 1)))
        }
        out.iterator
    }.toDF()
  }

  /** Partials that can still complete once the watermark is at `wmUs`. A
    * partial completes via an event at tsUs <= startUs + withinUs; events
    * at-or-below the watermark are dropped before the NFA, so >= (keep at
    * equality) errs on the side of keeping — the next timeout sweeps it at
    * no cost, while dropping early can lose a deadline-exact match.
    */
  private def live(ps: Seq[Partial], spec: PatternSpec, wmUs: Long): Seq[Partial] =
    spec.withinUs.fold(ps)(w => ps.filter(p => p.startUs + w >= wmUs))
  private def deadlines(ps: Seq[Partial], spec: PatternSpec): Seq[Long] =
    spec.withinUs.toSeq.flatMap(w => ps.map(_.startUs + w))
  /** The done-latch of every=false: it enforces the once-per-key contract
    * (a later event must NOT re-match), so it cannot expire without
    * changing semantics — O(1) per matched key, documented in SCALE.md. */
  private def latched(s: NfaState, spec: PatternSpec): Boolean = s.done && !spec.every

  /** The EVERY (or first-match) NFA. Drained keys drop their state entry —
    * at high key cardinality an empty shell per key is unbounded growth —
    * except the done-latch and, with `retain`, a key that issued a match
    * number: a removed entry restarts [[NfaState.matchSeq]], and a later
    * match of the key would re-issue a used mr_match_number, conflating two
    * matches' rows downstream. That shell is a few dozen bytes, kept for
    * the LIFE of the query, because no TTL can prove a key finished on an
    * unbounded stream: size it as keys-that-ever-matched × ~100 B (the
    * bound of any per-key monotonic counter), or run the query without
    * mr_match_number to bound state by ACTIVE keys only.
    */
  private def nfaMachine(spec: PatternSpec, retain: Boolean): Machine[NfaState, CepMatch] =
    Machine[NfaState, CepMatch](
      empty = NfaState(Nil, done = false),
      fold = (s, evs, _) => runNfa(evs, s, spec),
      sweep = (s, wmUs) => (Nil, s.copy(partials = live(s.partials, spec, wmUs))),
      keep = s => s.partials.nonEmpty || latched(s, spec) || (retain && s.matchSeq > 0),
      wake = s => deadlines(s.partials, spec).maxOption)

  /** The [[runNfaSkipPast]] selection: a candidate is held until every
    * partial that could produce a leftmost-er or greedier match dies — by a
    * mismatching event, or by WITHIN expiry at the timeout sweep, which
    * also FLUSHES newly-unblocked candidates (a key that stops receiving
    * events must still emit its held matches). Emission delay is therefore
    * bounded by the WITHIN duration. Held candidates with no live partial
    * flush immediately, so partials are the only thing to wake for. Once
    * nothing is held, seq/pos continuity is not needed — a fresh entry
    * restarts with an empty frontier — except matchSeq under `retain`.
    */
  private def skipMachine(spec: PatternSpec, resume: Option[(Int, Boolean)],
                          retain: Boolean): Machine[SkipNfaState, CepMatch] = {
    val w = spec.withinUs.get
    val (rel, gStart, irel) =
      (spec.steps.map(_.reluctant), relVarGroupStart(spec), innerRelCfg(spec))
    Machine[SkipNfaState, CepMatch](
      empty = emptySkip,
      fold = (s, evs, _) => runNfaSkipPast(evs, s, spec, resume),
      sweep = (s, wmUs) => skipPastTimeoutFlush(s, wmUs, w, resume, rel, gStart, irel),
      keep = s => s.nfa.partials.nonEmpty || s.cands.nonEmpty ||
        (retain && s.nfa.matchSeq > 0),
      wake = s => deadlines(s.nfa.partials, spec).maxOption)
  }

  /** ALL ROWS PER MATCH WITH UNMATCHED ROWS: matched rows emit through the
    * inner selection machine exactly as without the clause; an UNMATCHED
    * row is emitted as a pseudo-match (matchSeq = -1, the row alone in a
    * "__unmatched" step) once it is PROVABLE no match will ever claim it.
    * The proof is the WITHIN bound + the watermark: any match containing
    * row r spans at most `within`, so it completes by an event at tsUs <=
    * r.tsUs + within — once the watermark passes that, r's eligibility is
    * decided (which is why this mode REQUIRES a WITHIN). Emission delay for
    * unmatched rows is therefore exactly the WITHIN duration, the same
    * bound the held-candidate skip machine already pays.
    *
    * Order of operations per call matters: the inner machine runs FIRST
    * (its claims mark rows), THEN pending rows past their deadline flush as
    * unmatched. A row inside a HELD skip candidate can never expire before
    * its candidate resolves: every partial blocking the candidate starts
    * at-or-before it, so the partials' deadlines pass first and the same
    * timeout sweep resolves the candidate before the row's own deadline
    * check runs. State is pending rows + claimed refs per key, both bounded
    * by the WITHIN window; it wakes at the earliest decision point, a
    * pending row's unmatched deadline or a partial's WITHIN expiry.
    */
  private def unmatchedMachine(spec: PatternSpec, selection: Selection,
                               retain: Boolean): Machine[UnmatchedNfaState, CepMatch] = {
    val w = spec.withinUs.get
    val inner: Machine[SkipNfaState, CepMatch] = selection match {
      case Selection.Skip(resume) => skipMachine(spec, resume, retain)
      case Selection.Every =>
        val m = nfaMachine(spec, retain)
        Machine[SkipNfaState, CepMatch](emptySkip,
          fold = (s, evs, wmUs) => {
            val (o, n) = m.fold(s.nfa, evs, wmUs); (o, s.copy(nfa = n))
          },
          sweep = (s, wmUs) => {
            val (o, n) = m.sweep(s.nfa, wmUs); (o, s.copy(nfa = n))
          },
          keep = s => m.keep(s.nfa), wake = s => m.wake(s.nfa))
    }
    def settle(s: UnmatchedNfaState, events: Seq[CepEvent], matched: Seq[CepMatch],
               skip: SkipNfaState, wmUs: Long): (Seq[CepMatch], UnmatchedNfaState) = {
      // new rows join pending; emitted matches claim theirs
      val claimed = s.claimed ++ matched.flatMap(_.steps.flatMap(_.events))
        .map(e => RowRef(e.tsUs, e.eventId))
      val claimedSet = claimed.map(r => (r.tsUs, r.eventId)).toSet
      // provably-unmatched flush: rows whose deadline the watermark passed
      // emit (unclaimed) or drop (claimed); claimed refs past the same
      // deadline have no row left to mark — prune
      val (due, pending) = (s.pending ++ events).partition(e => e.tsUs + w < wmUs)
      val unmatched = due.filterNot(e => claimedSet((e.tsUs, e.eventId)))
        .sortBy(e => (e.tsUs, e.eventId))
        .map(e => CepMatch(e.key, e.tsUs, e.tsUs, Seq(Collected("__unmatched", Seq(e))),
          matchSeq = -1L))
      (matched ++ unmatched, UnmatchedNfaState(skip, pending,
        claimed.filter(r => r.tsUs + w >= wmUs)))
    }
    Machine[UnmatchedNfaState, CepMatch](
      empty = UnmatchedNfaState(emptySkip, Nil, Nil),
      fold = (s, evs, wmUs) => {
        val (ms, k) = inner.fold(s.skip, evs, wmUs); settle(s, evs, ms, k, wmUs)
      },
      sweep = (s, wmUs) => {
        val (ms, k) = inner.sweep(s.skip, wmUs); settle(s, Nil, ms, k, wmUs)
      },
      keep = s => s.pending.nonEmpty || s.skip.nfa.partials.nonEmpty ||
        s.skip.cands.nonEmpty || (retain && s.skip.nfa.matchSeq > 0),
      wake = s => (s.pending.map(_.tsUs + w) ++ deadlines(s.skip.nfa.partials, spec)).minOption)
  }

  /** Trailing absent guards over a full pattern chain: the NFA completes a
    * base match, which then waits out every guard's FOR deadline in per-key
    * state (a match is conclusive only once EVERY guard's window has
    * passed); a guard-matching later event (arrival order within the
    * guard's window) kills it; the deadline passing (an older in-batch
    * event time, or the watermark timeout) flushes it as a match. Emission
    * is delayed by up to the longest FOR duration — absence is only
    * knowable after the deadline. A one-step chain with one guard is the
    * absent pattern `e1=A NOT FOLLOWED BY B WITHIN d` (the reference's `NOT
    * … FOR d` roadmap design, MILESTONES.md:126-133; batch result-level
    * form = q_cep_absent's anti-join). Wakes at the earliest conclusive
    * deadline: a pending match's FOR window or (when WITHIN bounds the
    * chain) a partial's expiry.
    */
  private def absentMachine(spec: PatternSpec, guards: Seq[TrailingAbsent],
                            retain: Boolean): Machine[AbsentChainState, CepMatch] = {
    val maxForUs = guards.map(_.forUs).max
    // conclusive emission: matchSeq assigned in flush order (endUs then
    // startUs — deterministic), so guard-killed matches leave no gap
    def flush(s: AbsentChainState, due: CepMatch => Boolean)
        : (Seq[CepMatch], AbsentChainState) = {
      val (d, pending) = s.pending.partition(due)
      val out = d.sortBy(m => (m.endUs, m.startUs)).zipWithIndex
        .map { case (m, i) => m.copy(matchSeq = s.seq + i + 1) }
      (out, s.copy(pending = pending, seq = s.seq + d.size))
    }
    Machine[AbsentChainState, CepMatch](
      empty = AbsentChainState(NfaState(Nil, done = false), Nil, 0L),
      fold = (s0, evs, _) => {
        val out = Seq.newBuilder[CepMatch]
        var s = s0.copy(pending = s0.pending.toVector)
        evs.foreach { e =>
          // deadlines strictly before this event's time are conclusive
          val (o, s1) = flush(s, m => m.endUs + maxForUs < e.tsUs)
          out ++= o
          // <= : a guard event at the SAME event time arrives after the
          // base match in arrival order (matches the batch NOT-guard
          // anti-join's __id ordering). The guard check runs before the
          // NFA consumes the event, so a completing event can never kill
          // its own match
          val kept = s1.pending.filterNot(m => guards.exists(g =>
            g.pred(e) && m.endUs <= e.tsUs && e.tsUs <= m.endUs + g.forUs))
          val (ms, nfa) = runNfa(Seq(e), s1.nfa, spec)
          s = AbsentChainState(nfa, kept ++ ms, s1.seq)
        }
        (out.result(), s)
      },
      sweep = (s, wmUs) => {
        val (o, s1) = flush(s, m => m.endUs + maxForUs <= wmUs)
        (o, s1.copy(nfa = s1.nfa.copy(partials = live(s1.nfa.partials, spec, wmUs))))
      },
      keep = s => s.pending.nonEmpty || s.nfa.partials.nonEmpty || latched(s.nfa, spec) ||
        (retain && s.seq > 0),
      wake = s => (s.pending.map(_.endUs + maxForUs) ++ deadlines(s.nfa.partials, spec))
        .minOption)
  }

  /** Every variant's NFA folded over the same sorted batch; matches tagged
    * with their variant index, variant by variant. */
  private def foldVariants(specs: Seq[PatternSpec], sts: Seq[NfaState],
                           evs: Seq[CepEvent]): (Seq[(Int, CepMatch)], Seq[NfaState]) = {
    val rs = specs.zip(sts).map { case (spec, s) => runNfa(evs, s, spec) }
    (rs.zipWithIndex.flatMap { case ((out, _), vi) => out.map(vi -> _) }, rs.map(_._2))
  }
  private def liveVariants(specs: Seq[PatternSpec], sts: Seq[NfaState],
                           wmUs: Long): Seq[NfaState] =
    specs.zip(sts).map { case (spec, s) => s.copy(partials = live(s.partials, spec, wmUs)) }
  private def anyVariantHeld(specs: Seq[PatternSpec], sts: Seq[NfaState]): Boolean =
    specs.zip(sts).exists { case (spec, s) => s.partials.nonEmpty || latched(s, spec) }
  private def variantsWake(specs: Seq[PatternSpec], sts: Seq[NfaState]): Option[Long] =
    specs.zip(sts).flatMap { case (spec, s) => deadlines(s.partials, spec) }.maxOption

  /** Several variants, one [[MultiNfaState]] entry per key; a key drained
    * in every variant drops its entry. */
  private def multiMachine(specs: Seq[PatternSpec]): Machine[MultiNfaState, VariantMatch] =
    Machine[MultiNfaState, VariantMatch](
      empty = MultiNfaState(specs.map(_ => NfaState(Nil, done = false))),
      fold = (s, evs, _) => {
        val (ms, sts) = foldVariants(specs, s.states, evs)
        (ms.map { case (vi, m) => variantMatch(vi, m) }, MultiNfaState(sts))
      },
      sweep = (s, wmUs) => (Nil, MultiNfaState(liveVariants(specs, s.states, wmUs))),
      keep = s => anyVariantHeld(specs, s.states),
      wake = s => variantsWake(specs, s.states))

  /** [[multiMachine]] for the EMIT ALL ROWS lowering: each batch's matches
    * (all variants) sort by (endUs, startUs, variant) and number through
    * one per-key counter — completion-order numbering, exactly like the
    * single-chain matchSeq (batch numbers by start position instead; the
    * orders differ only for overlapping matches). A key that ever matched
    * keeps its shell so numbers never restart (the state bound of
    * [[nfaMachine]]'s `retain`); once its partials drain no timeout is
    * scheduled.
    */
  private def multiSeqMachine(specs: Seq[PatternSpec]): Machine[MultiSeqState, VariantMatch] =
    Machine[MultiSeqState, VariantMatch](
      empty = MultiSeqState(specs.map(_ => NfaState(Nil, done = false)), 0L),
      fold = (s, evs, _) => {
        val (ms, sts) = foldVariants(specs, s.states, evs)
        val numbered = ms.sortBy { case (vi, m) => (m.endUs, m.startUs, vi) }.zipWithIndex
          .map { case ((vi, m), i) => variantMatch(vi, m, s.shared + i + 1) }
        (numbered, MultiSeqState(sts, s.shared + ms.size))
      },
      sweep = (s, wmUs) => (Nil, s.copy(states = liveVariants(specs, s.states, wmUs))),
      keep = s => anyVariantHeld(specs, s.states) || s.shared != 0,
      wake = s => variantsWake(specs, s.states))

  /** Adapt the `events` table (or an equivalently-shaped stream) to
    * [[CepEvent]]: key = user_id, event time in micros.
    */
  def fromEvents(df: DataFrame): Dataset[CepEvent] =
    df.select(
        col("user_id").cast("string").as("key"),
        unix_micros(col("ts")).as("tsUs"),
        col("event_id").cast("long").as("eventId"),
        col("event_type").as("etype"),
        col("value").cast("double").as("value"),
        typedlit(Seq.empty[Double]).as("vals"),
        typedlit(Seq.empty[String]).as("svals"))
      .as[CepEvent]
}
