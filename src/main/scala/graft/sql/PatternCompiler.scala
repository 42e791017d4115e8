package graft.sql

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.streaming.{Cep, CepEvent, MidGuard, PatternSpec, Step}

/** Lowers the SQL pattern surface — `FROM PATTERN (…)` / `FROM SEQUENCE (…)`
  * — onto the CEP NFA (SURVEY §2.8; reference grammar
  * feat/pattern_processing/PATTERN_GRAMMAR_V1.2.md:36-160, runtime
  * count_pre_state_processor.rs / logical_pre_state_processor.rs).
  *
  * Grammar covered:
  *  - followed-by chains `e1=S[pred] -> e2=T[pred]`, PATTERN (relaxed) vs
  *    SEQUENCE (strict), `EVERY (…)`
  *  - count quantifiers `e=S<n>`, `e=S<n:m>` (also `{n}` / `{n,m}`)
  *  - logical OR steps `e1=A[p] OR e2=B[q]` — per-alternative aliases; the
  *    unmatched alternative's columns are NULL (resolve with coalesce)
  *  - logical AND elements `e1=A AND e2=B [AND e3=C …]` — n-ary, and each
  *    operand may itself be a parenthesized `->` sub-chain
  *    (`(e1=A -> e2=B) AND e3=C`): semantically the union of every
  *    order-preserving interleaving (the reference's
  *    LogicalPreStateProcessor enumerates arrival orders; its SQL surface
  *    `#[ignore]`s both shapes — patterns.rs:611,1228), capped at
  *    [[MaxVariants]] and executed as ONE shared per-key NFA pass
  *    ([[compileBatch]])
  *  - zero-or-more `e=S*` and `{0,m}` quantifiers — presence/absence
  *    variant pair, `A* -> B` ≡ `B OR (A+ -> B)`; the zero branch
  *    NULL-pads the alias's select refs
  *  - `WITHIN n <unit>` (event time) and `WITHIN n EVENTS` (count)
  *  - `WHERE` post-filter over resolved step aliases
  *  - `PARTITION BY attr` — per-key pattern isolation: the key is folded
  *    into the event ordering window AND the NFA `groupByKey`, so every
  *    partition runs its own NFA on its own executor core (the scale path;
  *    an unpartitioned pattern is inherently a single global order = one
  *    task, exactly like the reference's single-threaded junction)
  *  - select items: `e.col`, indexed `e[0].col` / `e[last].col`, collection
  *    aggregations `count(e)`, `sum/avg/min/max/count(e.col)` over count-
  *    quantified steps (collection_aggregation_executor.rs:141-729)
  *
  * Lowering strategy: step predicates are arbitrary SQL boolean exprs over
  * their stream's columns, evaluated ONCE as codegen'd columns on the tagged
  * union of the referenced streams; the NFA then only reads a per-step flag
  * bitstring (CepEvent.etype). Matched step event-ids join back to the union
  * to resolve `e<k>.<col>` select items. Event order = the `ts` TIMESTAMP
  * column per partition key (the reference's arrival order made explicit —
  * a distributed engine cannot have implicit arrival order).
  *
  * Not supported (typed errors): cross-step references on OR steps,
  * quantifiers on OR/AND operands, nested AND inside an AND operand,
  * NOT guards combined with AND / zero-min elements, expansions past
  * [[MaxVariants]] step-order variants.
  */
object PatternCompiler {

  /** One alternative of a step: `alias=Stream[pred]`. */
  final case class StepAlt(alias: String, stream: String, pred: Option[String])

  /** One NFA step: OR-alternatives plus a count quantifier. `reluctant`
    * (ANSI `+?` / `{n,m}?`): under the skip-mode parse selection the
    * quantifier prefers the FEWEST repetitions (lex-MIN at its position in
    * the count-vector comparison) instead of the greedy most — the
    * "shortest run to threshold" form Flink/Trino also accept. Without a
    * skip mode every (start, parse) pair is enumerated, so reluctance
    * selects nothing — the compile gate rejects it there.
    *
    * `looped` / `loopBack` (round 13, unbounded group repetition
    * `(A B)+`): `looped` marks every member of a loop group (its buffer
    * collects one event PER ITERATION, so joins/refs treat it as a
    * collection even at max = 1); `loopBack >= 0` sits on the group's
    * LAST member — on completion the NFA also branches back `loopBack`
    * steps (a relative offset, so element concatenation never re-indexes)
    * for another iteration.
    */
  final case class PatternStep(alts: Seq[StepAlt], min: Int = 1, max: Int = 1,
                               reluctant: Boolean = false,
                               looped: Boolean = false, loopBack: Int = -1,
                               minIters: Int = 1,
                               maxIters: Int = Int.MaxValue,
                               // variable-count NESTED group (round 15):
                               // `inner` on every member of the inner
                               // group, the loop edge + iteration bounds on
                               // its last member (mirrors Step)
                               inner: Boolean = false,
                               innerLoopBack: Int = -1,
                               innerMinIters: Int = 1,
                               innerMaxIters: Int = Int.MaxValue,
                               // round 16: reluctant INNER group (`(A B)+?`
                               // nested in a greedy outer group) — fewest
                               // inner iterations at each leave/continue
                               // choice under skip-mode parse selection
                               innerReluctant: Boolean = false) {
    def aliases: Seq[String] = alts.map(_.alias).distinct
  }

  /** Absent element `NOT S[pred] [FOR d]` guarding the gap after step
    * `afterStep` (mid-chain: bounded by the next step's match; trailing:
    * requires FOR — unbounded absence is undecidable on a stream).
    */
  final case class AbsentElem(afterStep: Int, alt: StepAlt, forUs: Option[Long])

  final case class PatternQuery(
      target: String,
      selectItems: Seq[(String, Option[String])],
      strict: Boolean,           // SEQUENCE vs PATTERN
      every: Boolean,
      variants: Seq[Seq[PatternStep]], // >1 only for AND expansion
      withinUs: Option[Long] = None,
      withinEvents: Option[Long] = None,
      where: Option[String] = None,
      partitionBy: Option[String] = None,
      absents: Seq[AbsentElem] = Nil,
      sourceFilters: Map[String, String] = Map.empty,
      // allowed event-time lateness of the STREAMING lowering's watermark
      // (`ALLOW LATENESS n unit`): how far out-of-order cross-batch events
      // may arrive and still reach the NFA / absent-guard state. Default 0
      // = in-order contract, tightest state bound.
      lateness: Option[String] = None,
      // `EMIT ALL ROWS` (the lowering target of MATCH_RECOGNIZE's ALL ROWS
      // PER MATCH): one output row per matched EVENT instead of one per
      // match — the select items (FINAL semantics, constant across a
      // match's rows) are joined with the matched event's own columns plus
      // an `mr_classifier` column naming the step variable. Batch only.
      allRows: Boolean = false,
      // `SKIP PAST LAST ROW` (the lowering target of MATCH_RECOGNIZE's
      // AFTER MATCH SKIP PAST LAST ROW — ANSI's DEFAULT skip mode): the
      // greedy leftmost NON-OVERLAPPING match subset. The EVERY NFA
      // enumerates every (start, parse) pair; a per-key sweep then keeps,
      // at each position, the earliest-starting match with the
      // lexicographically-greedy quantifier counts and resumes past its
      // last row (see [[selectSkipPast]]). Requires SEQUENCE + EVERY, a
      // single variant, and no absent guards; on STREAMS it additionally
      // requires a time WITHIN and runs the incremental
      // [[graft.streaming.Cep.runNfaSkipPast]] machine (candidates held
      // until no earlier-start partial survives — emission delay bounded
      // by the WITHIN window, flushed by the watermark timeout).
      skipPast: Boolean = false,
      // `SKIP TO [FIRST|LAST] <variable>` (ANSI's partial-overlap resume
      // modes): same greedy leftmost selection as skipPast, but the scan
      // resumes AT the row mapped to FIRST/LAST of the named variable —
      // that row may start the next match (consecutive V-shapes share
      // their peak under SKIP TO LAST UP, the textbook use). (isFirst,
      // alias). Same gates as skipPast, plus: the alias must not be the
      // chain's first variable (resuming at the match's own start row
      // re-matches forever — the case ANSI defines as a runtime error,
      // rejected here at compile) and must not sit on an OR step (the
      // alternative may be absent in a given match).
      skipTo: Option[(Boolean, String)] = None,
      // `SKIP TO NEXT ROW` spelled explicitly (round 14): with all-greedy
      // quantifiers this is the EVERY enumeration (every (start, parse)
      // pair — the engine default, flag ignored); with a RELUCTANT
      // quantifier it selects ONE preferred parse per start on the skip
      // machine (resume = start + 1, overlapping starts allowed) — the
      // ANSI reading where reluctance is a parse preference, not a match
      // filter.
      skipNext: Boolean = false,
      // `EMIT ALL ROWS EXCLUDING (v, …)` (ANSI's {- v -} pattern
      // exclusion): step variables whose rows are omitted from the OUTPUT
      // only — they still match, anchor WITHIN, and feed measures
      // (including RUNNING, which sees excluded rows per ANSI).
      allRowsExcluding: Seq[String] = Nil,
      // `EMIT ALL ROWS … WITH UNMATCHED` (ANSI's ALL ROWS PER MATCH WITH
      // UNMATCHED ROWS): also emit every input row NO match claimed, with
      // NULL measures/classifier/match number. Batch only (an unbounded
      // stream cannot prove a row will never be claimed); mutually
      // exclusive with EXCLUDING.
      allRowsUnmatched: Boolean = false) {
    def allAlts: Seq[StepAlt] = variants.flatten.flatMap(_.alts) ++ absents.map(_.alt)
    def reluctantAny: Boolean =
      variants.exists(_.exists(st => st.reluctant || st.innerReluctant))
    /** True when the query runs the greedy/preferred-parse selection
      * machine (consume-on-match) instead of the EVERY enumeration:
      * an after-match resume mode, or SKIP TO NEXT ROW with a reluctant
      * quantifier (one preferred parse per start). */
    def skipMachine: Boolean =
      skipPast || skipTo.isDefined || (skipNext && reluctantAny)
    /** Match selection of the detect kernels: the EVERY enumeration, or
      * the skip machine resuming past the last row (None), at the next row
      * ((-1, _)), or at variable i's first/last row ((i, isFirst)). */
    def selection(steps: Seq[PatternStep]): Cep.Selection =
      if (!skipMachine) Cep.Selection.Every
      else Cep.Selection.Skip(skipTo.map { case (isFirst, alias) =>
        (steps.indexWhere(_.aliases.contains(alias)), isFirst)
      }.orElse(if (skipNext && reluctantAny) Some((-1, true)) else None))
  }

  def compile(spark: SparkSession, q: PatternQuery, env: Map[String, DataFrame],
              onPersist: DataFrame => Unit = _ => ()): DataFrame = {
    val streams = q.allAlts.map(_.stream).distinct
    streams.foreach { s =>
      if (!env.contains(s)) throw GraftApp.SqlError(s"pattern stream '$s' has no bound data")
    }
    validateColumnRefs(spark, q,
      streams.flatMap(s => env(s).columns).distinct)
    if (q.skipPast && q.skipTo.isDefined) throw GraftApp.SqlError(
      "SKIP PAST LAST ROW and SKIP TO FIRST/LAST are mutually exclusive")
    // conflicting resume modes never silently resolve (ADVICE r14): before
    // this gate, spelling both SKIP PAST LAST ROW and SKIP TO NEXT ROW
    // with a reluctant quantifier handed the selection the NEXT ROW value,
    // silently overriding PAST LAST ROW
    if (q.skipNext && (q.skipPast || q.skipTo.isDefined)) throw GraftApp.SqlError(
      "SKIP TO NEXT ROW conflicts with " +
        (if (q.skipPast) "SKIP PAST LAST ROW" else "SKIP TO FIRST/LAST") +
        " — spell exactly one AFTER MATCH resume mode")
    if (q.skipMachine) {
      // the greedy selection sweep is defined over the EVERY match set's
      // contiguous row spans — each unsupported combination is a typed
      // error naming the working alternative, never a silent remap
      val mode =
        if (q.skipPast) "SKIP PAST LAST ROW"
        else if (q.skipTo.isDefined) "SKIP TO FIRST/LAST"
        else "SKIP TO NEXT ROW with reluctant quantifiers"
      if (!q.strict) throw GraftApp.SqlError(
        s"$mode needs SEQUENCE (strict contiguity) — ANSI's " +
          "after-match resume skips within a span of CONSECUTIVE rows; " +
          "relaxed PATTERN matches have gaps, which that machine does not define")
      if (!q.every) throw GraftApp.SqlError(
        s"$mode needs EVERY: the selected subset comes from the full " +
          "overlapping match set (without EVERY the engine emits only the " +
          "first match per key)")
      if (q.variants.size > 1) throw GraftApp.SqlError(
        s"$mode is not supported with AND patterns or zero-min " +
          "quantifiers (?, *, {0,n}) — use SKIP TO NEXT ROW (every " +
          "overlapping match) for those patterns")
      if (q.absents.nonEmpty) throw GraftApp.SqlError(
        s"$mode is not supported with absent (NOT) guards")
      // the two-level reluctant-group key (fewest iterations, then member
      // rows) reads ONE group's iteration count off the candidate — two
      // loop groups would need a per-group vector
      locally {
        val chain = q.variants.head
        if (chain.count(_.loopBack >= 0) > 1 &&
            chain.exists(st => st.looped && st.reluctant && st.min != st.max))
          throw GraftApp.SqlError(
            s"$mode with a reluctant variable-member group needs a single " +
              "loop group in the pattern — split the query or fix the " +
              "member counts")
        // reluctant quantifiers on/in NESTED groups (round 16): the
        // hist-stream preference reads ONE group's record stream off the
        // candidate and requires parse-independent record content —
        // single loop group, every looped member fixed-count. Covers the
        // inner form ((A B)+? C)+ and the outer form ((A B)+ C)+?
        if (chain.exists(_.innerReluctant) ||
            (chain.exists(_.innerLoopBack >= 0) &&
             chain.exists(st => st.looped && st.reluctant))) {
          if (chain.count(_.loopBack >= 0) > 1) throw GraftApp.SqlError(
            s"$mode with a reluctant nested group needs a single loop " +
              "group in the pattern — split the query")
          chain.find(st => (st.looped || st.loopBack >= 0) && st.min != st.max)
            .foreach(st => throw GraftApp.SqlError(
              s"$mode with a reluctant nested group: looped member " +
                s"'${st.aliases.head}' has a variable count — fix the " +
                "member count or drop the inner '?'"))
        }
      }
      q.skipTo.foreach { case (isFirst, alias) =>
        val chain = q.variants.head
        val step = chain.find(_.aliases.contains(alias)).getOrElse(
          throw GraftApp.SqlError(
            s"SKIP TO references '$alias' which is not a pattern variable"))
        if (step.alts.size > 1) throw GraftApp.SqlError(
          s"SKIP TO ${if (isFirst) "FIRST" else "LAST"} $alias: the alias " +
            "sits on an OR step — the alternative may be absent in a given " +
            "match, leaving no row to resume at")
        if (step.looped) throw GraftApp.SqlError(
          s"SKIP TO ${if (isFirst) "FIRST" else "LAST"} $alias: the alias " +
            "sits inside an unbounded loop group — its rows interleave " +
            "with the other members', so the resume row has no counts-" +
            "prefix position; use SKIP PAST LAST ROW")
        if (chain.head.aliases.contains(alias)) throw GraftApp.SqlError(
          s"AFTER MATCH SKIP TO ${if (isFirst) "FIRST" else "LAST"} $alias " +
            "resumes at the match's own first variable, which can re-match " +
            "the same rows forever (the case ANSI defines as a runtime " +
            "error) — use a later variable, SKIP PAST LAST ROW, or SKIP TO " +
            "NEXT ROW")
      }
    }
    if (q.reluctantAny && !q.skipMachine)
      throw GraftApp.SqlError(
        "reluctant quantifiers (+?, {n,m}?) need an after-match skip mode " +
          "(SKIP PAST LAST ROW — the default when AFTER MATCH is omitted — " +
          "SKIP TO FIRST/LAST, or an explicit SKIP TO NEXT ROW): " +
          "reluctance is a parse PREFERENCE; without a skip mode the " +
          "engine enumerates every (start, parse) pair, selecting nothing " +
          "for it to prefer")
    if (streams.exists(env(_).isStreaming))
      return compileStreaming(spark, q, env)
    // tagged union of all referenced streams (junction fan-in); range
    // partition guards pre-filter each stream's events before the NFA
    val tagged = streams.map { s =>
      val src0 = env(s)
      val src = q.sourceFilters.get(s).map(g => src0.filter(expr(g))).getOrElse(src0)
      src.withColumn("__stream", lit(s))
    }.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    if (!tagged.columns.contains("ts"))
      throw GraftApp.SqlError(
        "pattern streams need a 'ts' TIMESTAMP column (explicit event order)")
    q.partitionBy.foreach { attr =>
      // expression keys (range partitions) resolve at analysis; only plain
      // column keys are checkable here
      if (attr.matches("\\w+") && !tagged.columns.exists(_.equalsIgnoreCase(attr)))
        throw GraftApp.SqlError(s"PARTITION BY attribute '$attr' not found in pattern streams")
    }

    // per-key event order; the key shards both the ordering window and the
    // NFA state (unpartitioned = one global order, inherently serial)
    if (q.partitionBy.isEmpty)
      ScaleWarnings.warn(s"pattern INTO '${q.target}' has no PARTITION BY: " +
        "the global event ordering and the NFA run as ONE task regardless of " +
        "cluster size, and partial-match state is capped per the single key " +
        "— add PARTITION BY <attr> to shard the pattern per key")
    val keyCol = q.partitionBy.map(a => expr(a).cast("string")).getOrElse(lit("app"))
    val ordered = tagged
      .withColumn("__key", keyCol)
      .withColumn("__id",
        row_number().over(Window.partitionBy(col("__key")).orderBy(col("ts"))).cast("long"))
      .persist()
    onPersist(ordered)
    compileBatch(spark, q, ordered, onPersist)
  }

  /** Shared multi-variant classification (batch [[compileBatch]] and
    * streaming [[streamMulti]]): canonical step groups keyed by alias set,
    * per-variant padded chains, one match-flag bit per distinct padded
    * step value, one value-slot registry — so every variant's NFA reads
    * the same etype/vals event encoding and all variants fold in ONE
    * per-key pass.
    */
  private final case class MultiBuild(
      groups: Seq[PatternStep], posOf: Seq[Map[Int, Int]],
      omittable: Seq[Boolean],
      bitsCol: Column, valsCol: Column, specs: Seq[PatternSpec])

  private def buildMulti(q: PatternQuery,
                         typeOfCol: String => Option[String]): MultiBuild = {
    q.variants.foreach { v =>
      val dup = v.flatMap(_.aliases).groupBy(identity)
        .collect { case (a, as) if as.size > 1 => a }
      if (dup.nonEmpty)
        throw GraftApp.SqlError(s"duplicate step alias(es) ${dup.mkString(",")} across steps")
    }
    // canonical step groups: alias set -> representative step (first
    // appearance; identical by value wherever it appears)
    val groupReg = scala.collection.mutable.LinkedHashMap.empty[Seq[String], PatternStep]
    // loop TOPOLOGY (which member carries the loop-back edge) may differ
    // across variants — a quantified PERMUTE's orderings place the edge on
    // a different member per ordering (round 15) — but the step's
    // SEMANTICS (alts, counts, iteration bounds) must agree: the canonical
    // step drives the shared bit layout and measure metadata, while each
    // variant's own chain keeps its edges for its NFA spec
    def canon(st: PatternStep): PatternStep = st.copy(loopBack = -1)
    q.variants.foreach(_.foreach { st =>
      groupReg.get(st.aliases) match {
        case Some(prev) if canon(prev) != canon(st) => throw GraftApp.SqlError(
          s"pattern step '${st.aliases.mkString(",")}' differs across variants")
        case None => groupReg(st.aliases) = st
        case _ =>
      }
    })
    val groups: Seq[PatternStep] = groupReg.values.toSeq
    val gIdx: Map[Seq[String], Int] = groups.map(_.aliases).zipWithIndex.toMap
    val posOf: Seq[Map[Int, Int]] = q.variants.map(v =>
      v.zipWithIndex.map { case (st, i) => gIdx(st.aliases) -> i }.toMap)
    // members of a ZERO-MIN inner group (round 16) are possibly EMPTY at
    // runtime even though present in every variant — an outer iteration
    // may take the zero-iteration derivation, so their aggregates must
    // left-join (an inner join silently DROPPED every n=0 match) and
    // count must coalesce to 0
    val zeroMinInner: Set[Seq[String]] = q.variants.flatMap { v =>
      v.zipWithIndex.collect {
        case (st, i) if st.innerLoopBack >= 0 && st.innerMinIters == 0 =>
          (i - st.innerLoopBack to i).map(j => v(j).aliases)
      }.flatten
    }.toSet
    val omittable: Seq[Boolean] =
      groups.map(g => !q.variants.forall(_.exists(_.aliases == g.aliases)) ||
        zeroMinInner(g.aliases))
    val everOmitted: Set[String] =
      groups.zip(omittable).filter(_._2).flatMap(_._1.aliases).toSet
    // OR-step residual predicates referencing a possibly-absent alias would
    // need per-variant rewriting — unsupported (same class the absent
    // rewriter covers per-variant; no runnable spelling reaches it)
    groups.foreach { g =>
      if (g.alts.size > 1 && g.alts.exists(_.pred.exists(p =>
          everOmitted.exists(a => ("(?i)\\b" + java.util.regex.Pattern.quote(a) +
            "\\s*\\.").r.findFirstIn(p).isDefined))))
        throw GraftApp.SqlError(
          "OR alternatives may not reference a zero-min step's alias")
    }
    // per-variant padded chains (refs to aliases ABSENT from the variant
    // rewrite to typed NULLs inside step predicates) + shared classification
    val allAliases = groups.flatMap(_.aliases).toSet
    val paddedVariants: Seq[Seq[PatternStep]] = q.variants.map { v =>
      val pad = absentAliasRewriter(allAliases -- v.flatMap(_.aliases).toSet, typeOfCol)
      v.map(st => st.copy(alts = st.alts.map(a => a.copy(pred = a.pred.map(pad)))))
    }
    val valReg = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val classifiedVariants = paddedVariants.map(ps =>
      ps.zip(classifyChain(ps, e => valReg.getOrElseUpdate(e.trim, valReg.size))))
    // one match-flag bit per DISTINCT padded step value (across variants a
    // step usually pads identically, so the bitstring stays ~|groups| wide)
    val flagReg = scala.collection.mutable.LinkedHashMap.empty[PatternStep, Int]
    val flagCols = Vector.newBuilder[Column]
    classifiedVariants.foreach(_.foreach { case (st, (perAlt, _)) =>
      if (!flagReg.contains(st)) {
        flagReg(st) = flagReg.size
        flagCols += when(stepFlag(st, perAlt), lit("1")).otherwise(lit("0"))
      }
    })
    val specs = classifiedVariants.map { scl =>
      PatternSpec(
        scl.map { case (st, (_, comps)) => nfaStep(st, flagReg(st), comps) },
        strict = q.strict, every = q.every,
        withinUs = q.withinUs, withinEvents = q.withinEvents)
    }
    specs.foreach(requireBoundedState)
    MultiBuild(groups, posOf, omittable,
      concat(flagCols.result(): _*), valsColumn(valReg), specs)
  }

  /** Batch lowering of every pattern shape — one step chain, or a variant
    * family (AND arrival orderings, `A*` presence pairs). Every variant's
    * NFA runs in ONE per-key pass over ONE shared event encoding
    * ([[buildMulti]] — match-flag bits keyed by distinct padded step value,
    * so all variants read the same etype/vals columns), and the per-variant
    * match relations project onto ONE canonical step-group layout feeding a
    * SINGLE join/select phase. V variants therefore cost one exchange + one
    * set of join-backs instead of V of each (the naive expansion: a 3-way
    * AND = 6 NFA shuffles + 18 joins). Match sets are bit-for-bit those of
    * V independent passes — each variant folds the identical
    * [[Cep.runNfa]] over the same per-key sorted history.
    *
    * Canonical layout: step GROUPS are keyed by alias set (a step's alias
    * set is unique within a variant and value-identical across variants);
    * a variant lacking a group (the `A*` no-step branch) NULL-pads its ids
    * array, and the join/select phase resolves the absence relationally —
    * outer joins for possibly-absent aliases, `coalesce(size(…),0)` for
    * counts, left-joined aggregates (absentAliasRewriter still rewrites
    * step PREDICATES, which ride the NFA bits). Members of a zero-min inner
    * group are possibly-absent the same way, even in a single chain.
    *
    * The variant count shows in three places only: one chain runs
    * [[Cep.detect]] with the query's match selection (SKIP PAST / SKIP TO /
    * reluctant parse preference), a family runs [[Cep.detectMulti]]; NOT
    * guards (single-chain only — parseSteps rejects them with variants)
    * anti-join the result; and the output order (below).
    */
  private def compileBatch(spark: SparkSession, q: PatternQuery,
                           ordered: DataFrame,
                           onPersist: DataFrame => Unit): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, LongType}
    import spark.implicits._
    val typeOfCol = (c: String) =>
      ordered.schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType.sql)
    val mb = buildMulti(q, typeOfCol)
    import mb.{groups, omittable, posOf}
    val single = q.variants.size == 1

    val cepIn = ordered.withColumn("__bits", mb.bitsCol).select(
        col("__key").as("key"),
        unix_micros(col("ts")).as("tsUs"),
        col("__id").as("eventId"),
        col("__bits").as("etype"),
        lit(0.0).as("value"),
        mb.valsCol.as("vals"),
        typedlit(Seq.empty[String]).as("svals"))
      .as[CepEvent]
    // SKIP PAST LAST ROW / SKIP TO FIRST|LAST: the incremental
    // consume-on-match NFA ([[Cep.detect]] with a skip selection) emits the
    // greedy leftmost non-overlapping subset directly — the full EVERY
    // match set is never materialized (a k-row monotone streak costs O(k),
    // not the O(k²) collected events of enumerate-then-filter).
    // persist: the match relation feeds BOTH the scalar join-backs and the
    // aggregate explode — without it the NFA runs once per consumer
    // (round 14: measured 2x the kernel cost on every aggregate-bearing
    // pattern query); it is matches-sized, registered for end-of-run
    // unpersist like `ordered`. A family's matches carry the variant tag.
    val (matches, variantTag) = {
      val (m, tag) =
        if (single) (Cep.detect(cepIn, mb.specs.head,
          selection = q.selection(q.variants.head)).toDF(), Nil)
        else (Cep.detectMulti(cepIn, mb.specs).toDF(), Seq(col("variant")))
      val p = m.persist()
      onPersist(p)
      (p, tag)
    }

    // canonical base: one projection over the (tagged) matches — group
    // gi's ids array reads the step at its position when every variant
    // holds it at the same one (always, for one chain); else a CASE on the
    // variant tag, NULL where the variant lacks the group. NOT guards add
    // per-step end timestamps for their FOR anchors.
    val nullIds = lit(null).cast(ArrayType(LongType))
    def stepIds(i: Int): Column = expr(s"transform(steps[$i].events, x -> x.eventId)")
    val idsCols = groups.indices.map { gi =>
      val pos = q.variants.indices.map(vi => posOf(vi).get(gi))
      (pos.distinct match {
        case Seq(Some(i)) => stepIds(i)
        case _ => pos.zipWithIndex.foldRight(nullIds) {
          case ((Some(i), vi), acc) => when(col("variant") === vi, stepIds(i)).otherwise(acc)
          case (_, acc) => acc
        }
      }).as(s"__ids_$gi")
    }
    val endTsCols = if (q.absents.isEmpty) Nil else groups.indices.map(i =>
      expr(s"element_at(steps[$i].events, -1).tsUs").as(s"__endts_$i"))
    var base = matches.select(variantTag ++
      Seq(col("key").as("__mkey"), col("endUs").as("__endUs")) ++
      idsCols ++ endTsCols: _*)

    // ---- select/WHERE rewriting + join planning over the groups
    val multi = groups.zipWithIndex.collect { case (st, gi) if st.max > 1 || st.looped =>
      st.aliases.head -> gi
    }.toMap
    if (multi.nonEmpty && groups.exists(st => st.max > 1 && st.alts.size > 1))
      throw GraftApp.SqlError("count quantifiers on OR steps are not supported")

    // joins: joinName -> (idExpr over base, streams, alias-qualified
    // residual predicate for OR alternatives, outer?)
    val joins = scala.collection.mutable.LinkedHashMap.empty[String, JoinPlan]
    // collection aggregations: group -> (outputCol, aggSql over alias __c)
    val aggItems = scala.collection.mutable.LinkedHashMap.empty[Int, Vector[(String, String)]]
    var aggN = 0

    def idAt(gi: Int, idx: String): Column = idx.replaceAll("\\s", "") match {
      case "last" => element_at(col(s"__ids_$gi"), -1)
      // `last-k` counts back from the buffer end (MEASURES LAST(V.x, k));
      // try_: past the collected count is NULL, not an ANSI error
      case s if s.startsWith("last-") =>
        try_element_at(col(s"__ids_$gi"), lit(-(1 + s.stripPrefix("last-").toInt)))
      // try_: an index past a range quantifier's collected count (or into
      // an omitted group) is NULL — the left join yields NULL columns
      case n => try_element_at(col(s"__ids_$gi"), lit(n.toInt + 1))
    }
    def qualify(alias: String, pred: String): Column = {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      val parsed = spark.sessionState.sqlParser.parseExpression(pred).transform {
        case ua: UnresolvedAttribute if ua.nameParts.size == 1 =>
          UnresolvedAttribute(alias +: ua.nameParts)
      }
      org.apache.spark.sql.graftbridge.Bridge.column(parsed)
    }
    // one join per single-event alias; OR alternatives and possibly-absent
    // groups join left so the unmatched side is NULL. An OR alternative's
    // join re-applies its predicate, alias-qualified (cross refs are
    // rejected on OR steps, so the full pred IS local) — same-stream
    // alternatives would otherwise BOTH bind the matched event
    groups.zipWithIndex.foreach { case (st, gi) =>
      if (st.max == 1 && !st.looped) {
        val orStep = st.aliases.size > 1
        st.aliases.foreach { a =>
          val altIdx = st.alts.indexWhere(_.alias == a)
          val altStreams = st.alts.filter(_.alias == a).map(_.stream)
          val residual =
            if (orStep) st.alts(altIdx).pred.map(p => qualify(a, p)) else None
          joins(a) = JoinPlan(a, idAt(gi, "0"), altStreams, residual,
            outer = orStep || omittable(gi))
        }
      }
    }

    val aggRe = """(?i)\b(sum|avg|min|max|count)\s*\(\s*(\w+)\s*\.\s*(\w+)\s*\)""".r
    val countStepRe = """(?i)\bcount\s*\(\s*(\w+)\s*\)""".r
    val idxRe = """\b(\w+)\s*\[\s*(\d+|last(?:\s*-\s*\d+)?)\s*\]\s*\.""".r
    val navRe = """(?i)\b(prev|next)\s*\(\s*(\w+)\s*\.\s*(\w+)\s*(?:,\s*(\d+)\s*)?\)""".r
    val allStreams = q.allAlts.map(_.stream).distinct
    def rewrite(text0: String): String = {
      // EMIT ALL ROWS RUNNING marker: opaque here (resolved post-explode)
      if (RunningMarkerRe.findFirstMatchIn(text0).isDefined) return text0
      // physical navigation PREV(V.x, k) / NEXT(V.x, k): the row k PLACES
      // before/after V's LAST matched event in the per-key event-time
      // order (ANSI MATCH_RECOGNIZE's physical offsets, anchored at the
      // variable's final row). Event ids are per-key row_numbers, so the
      // neighbor id is plain arithmetic; the left join yields NULL at the
      // partition edge — PREV/NEXT's out-of-range contract — and for an
      // omitted group's NULL anchor.
      var text = navRe.replaceAllIn(text0, m => {
        val (fn, alias, c) = (m.group(1).toLowerCase, m.group(2), m.group(3))
        val k = Option(m.group(4)).map(_.toInt).getOrElse(1)
        groups.indices.find(gi => groups(gi).aliases.contains(alias)) match {
          case Some(gi) =>
            if (groups(gi).alts.size > 1) throw GraftApp.SqlError(
              s"$fn() navigation is not supported on OR steps ('$alias')")
            val delta = if (fn == "prev") -k else k
            val name = s"__nav_${fn}_${alias}_$k"
            joins.getOrElseUpdate(name,
              JoinPlan(name, idAt(gi, "last") + lit(delta), allStreams,
                pred = None, outer = true))
            s"$name.$c"
          case None => throw GraftApp.SqlError(
            s"$fn() references '$alias' which is not a pattern step alias")
        }
      })
      // collection aggregations over count-quantified steps. A possibly-
      // absent group's aggregate left-joins below, so its count coalesces
      // to the zero-repeat 0 (sum/avg/min/max stay NULL, ANSI's
      // empty-aggregate contract)
      text = aggRe.replaceAllIn(text, m => {
        val (fn, alias, c) = (m.group(1), m.group(2), m.group(3))
        multi.get(alias) match {
          case Some(gi) =>
            val name = s"__agg_$aggN"; aggN += 1
            aggItems(gi) = aggItems.getOrElse(gi, Vector.empty) :+
              (name, s"${fn.toLowerCase}(__c.$c)")
            if (fn.equalsIgnoreCase("count") && omittable(gi))
              s"coalesce($name, CAST(0 AS BIGINT))"
            else name
          case None => java.util.regex.Matcher.quoteReplacement(m.matched)
        }
      })
      // count(e) over a quantified step = collected size; size(NULL) is -1
      // under legacy sizeOfNull, so an omittable group tests the array
      text = countStepRe.replaceAllIn(text, m => {
        multi.get(m.group(1)) match {
          case Some(gi) =>
            if (omittable(gi))
              s"CAST(if(__ids_$gi IS NULL, 0, size(__ids_$gi)) AS BIGINT)"
            else s"CAST(size(__ids_$gi) AS BIGINT)"
          case None => java.util.regex.Matcher.quoteReplacement(m.matched)
        }
      })
      // indexed access e[j].col / e[last].col (the index may exceed the
      // collected count: outer)
      text = idxRe.replaceAllIn(text, m => {
        val (alias, idx) = (m.group(1), m.group(2))
        groups.indices.find(gi => groups(gi).aliases.contains(alias) &&
            (groups(gi).max > 1 || groups(gi).looped)) match {
          case Some(gi) =>
            // sanitize `last-k` for the SQL alias ('-' would parse as minus)
            val name = s"__${alias}_${idx.replaceAll("\\s", "").replace("-", "_m")}"
            joins.getOrElseUpdate(name,
              JoinPlan(name, idAt(gi, idx), groups(gi).alts.map(_.stream),
                pred = None, outer = true))
            s"$name."
          case None => java.util.regex.Matcher.quoteReplacement(m.matched)
        }
      })
      // plain e.col on a quantified step = first collected event; NULL
      // (not a dropped match) when the group may be empty
      multi.foreach { case (alias, gi) =>
        val plainRe = ("\\b" + alias + "\\s*\\.").r
        if (plainRe.findFirstIn(text).isDefined) {
          val name = s"__${alias}_0"
          joins.getOrElseUpdate(name,
            JoinPlan(name, idAt(gi, "0"), groups(gi).alts.map(_.stream),
              pred = None, outer = omittable(gi)))
          text = plainRe.replaceAllIn(text, s"$name.")
        }
      }
      text
    }
    val items = q.selectItems.map { case (e, a) => (rewrite(e), a) }
    val whereRw = q.where.map(rewrite)

    val aggStepsSeq = aggItems.toSeq.map { case (gi, its) => (s"__ids_$gi", its: Seq[(String, String)]) }
    val livePlans = pruneUnreferenced(joins.values.toSeq,
      items.map(_._1) ++ whereRw.toSeq)
    var out = (if (fuseJoinBack(livePlans.size, aggStepsSeq.size))
        fusedJoinBack(base, ordered, livePlans, aggStepsSeq)
      else None)
      .getOrElse {
      // legacy per-name join path (below the fuse threshold, or a lookup
      // name shadows a base column): one join per alias, one
      // explode+agg+join-back per quantified step
      //
      // FIXED-SIZE match identity (round 13): ([variant,] key, first id +
      // count per group). Within one NFA run a match's membership follows
      // deterministically from its start and per-step counts (the same
      // invariant the NFA's distinctPartials dedup pins), so this is exact
      // — and O(groups) bytes where the old full-ids concat_ws string was
      // O(match length), which the aggItems explode then duplicated onto
      // every exploded row: O(len²) bytes per match, an OOM on adversarial
      // streaks (SkipStreakBench). Variant tag included: two variants CAN
      // share a key + identical present groups when one pads an absent
      // group NULL (firsts/counts coalesce that to a sentinel).
      if (aggItems.nonEmpty) {
        val idParts = groups.indices.flatMap(gi => Seq(
          coalesce(try_element_at(col(s"__ids_$gi"), lit(1)), lit(-1L)),
          coalesce(size(col(s"__ids_$gi")).cast("long"), lit(-1L))))
        base = base.withColumn("__match_id",
          struct(variantTag ++ (col("__mkey") +: idParts): _*))
      }
      var o = base
      livePlans.foreach { j =>
        var cond = col(s"${j.name}.__id") === j.idExpr &&
          col(s"${j.name}.__key") === col("__mkey") &&
          col(s"${j.name}.__stream").isin(j.streams: _*)
        j.pred.foreach(p => cond = cond && p)
        o = o.join(ordered.as(j.name), cond, if (j.outer) "left_outer" else "inner")
      }
      aggItems.foreach { case (gi, items) =>
        val exploded = base
          .select(col("__match_id"), col("__mkey"), explode(col(s"__ids_$gi")).as("__eid"))
          .join(ordered.as("__c"),
            col("__c.__id") === col("__eid") && col("__c.__key") === col("__mkey"))
        val aggCols = items.map { case (name, sql) => expr(sql).as(name) }
        val agg = exploded.groupBy(col("__match_id")).agg(aggCols.head, aggCols.tail: _*)
        // a possibly-absent group's explode yields no rows for the match,
        // so an inner join would DROP it — left join, count coalesces at
        // the item
        o = o.join(agg, Seq("__match_id"), if (omittable(gi)) "left" else "inner")
      }
      o
    }
    whereRw.foreach(w => out = out.filter(expr(w)))

    // NOT guards: anti-join against the absent stream's matching events in
    // the guarded gap (arrival order via per-key __id). FOR narrows the
    // guard to d after the ANCHORING step's match — mandatory on trailing
    // guards (unbounded absence is undecidable), optional mid-chain (the
    // next step's match bounds the gap; FOR additionally bounds it in
    // time). Result-level form of the absent pattern — the streaming flush
    // variant is Cep.detectStream with trailing guards.
    q.absents.foreach { a =>
      val ab0 = ordered.filter(col("__stream") === a.alt.stream)
      val ab = a.alt.pred.map(p => ab0.filter(expr(p))).getOrElse(ab0)
        .select(col("__key").as("__akey"), col("__id").as("__aid"),
          unix_micros(col("ts")).as("__ats"))
      val lower = element_at(col(s"__ids_${a.afterStep}"), -1)
      var cond = col("__akey") === col("__mkey") && col("__aid") > lower
      if (a.afterStep < groups.size - 1)
        cond = cond && col("__aid") < element_at(col(s"__ids_${a.afterStep + 1}"), 1)
      a.forUs.foreach(d =>
        cond = cond && col("__ats") <= col(s"__endts_${a.afterStep}") + d)
      out = out.join(ab, cond, "left_anti")
    }

    if (q.allRows)
      return emitAllRows(out, ordered, groups.indices.map(gi => s"__ids_$gi"),
        groups, items, q.allRowsExcluding, q.allRowsUnmatched)

    val selectCols = items.map {
      case (e, Some(a)) => expr(e).as(a)
      case (e, None) => expr(e)
    }
    // one chain keeps its long-standing (key, first id per step) order; a
    // family sorts by all its output columns — plain values, so a total,
    // engine-portable order (the single post-union sort contract)
    if (single)
      out.orderBy(col("__mkey") +: groups.indices.map(gi => element_at(col(s"__ids_$gi"), 1)): _*)
        .select(selectCols: _*)
    else {
      val res = out.select(selectCols: _*)
      res.orderBy(res.columns.map(col): _*)
    }
  }

  /** `EMIT ALL ROWS` lowering (MATCH_RECOGNIZE's ALL ROWS PER MATCH): one
    * output row per matched EVENT. `out` is the per-match relation (still
    * carrying `__mkey` and the per-step id arrays); each step's ids explode
    * with the step alias as `mr_classifier`, join back to the ordered union
    * ONCE (the same join-back the collection aggregations perform), and the
    * output is the matched event's own columns + the select items evaluated
    * with FINAL semantics (constant across a match's rows — ANSI's
    * `FINAL`-prefixed form). Round 12 adds the per-ROW measure kinds:
    * `__mr_classifier`/`__mr_match_number` markers (CLASSIFIER()/
    * MATCH_NUMBER() aliases of the appended columns) and
    * `__mr_running_fn(V.col)` (ANSI RUNNING semantics — a per-prefix
    * window over the exploded rows in event order; count/sum/min/max/avg),
    * plus `excluding` (ANSI's `{- v -}`): those classifiers' rows are
    * dropped from the OUTPUT only, after the RUNNING windows have seen
    * them. A NULL ids array (a variant that omits the group — the `A*`
    * zero branch) contributes no rows, which is exactly ANSI: an unmatched
    * optional variable maps no rows.
    *
    * Scale: the explode/join-back is per-MATCH output, partitioned by the
    * pattern key like every other join in this file — no new shuffle
    * shape; the RUNNING windows partition by (key, match) over the same
    * output-sized relation.
    */
  /** Internal EMIT ALL ROWS measure marker (produced by the
    * MATCH_RECOGNIZE desugarer): `__mr_running_fn(V.col)` is a RUNNING
    * per-prefix aggregate, resolved here as a window over the exploded
    * match rows. The select-item rewrites skip it whole (the V.col inside
    * anchors the post-explode filter, not a join).
    */
  private[sql] val RunningMarkerRe =
    """(?is)^\s*__mr_running_(count|sum|min|max|avg)\s*\(\s*(\w+)\s*\.\s*(\w+)\s*\)\s*$""".r

  /** One scalar join-back lookup: resolve `name` to the ordered event row
    * whose per-key id equals `idExpr` (NULL columns when `outer` and the
    * id is out of range / the residual `pred` fails; row dropped when not
    * `outer` and there is no qualifying event — the historical inner-join
    * contract). Planned by [[compileBatch]].
    */
  private final case class JoinPlan(name: String, idExpr: Column,
                                    streams: Seq[String], pred: Option[Column],
                                    outer: Boolean)

  /** Drop scalar lookups whose name never appears in the rewritten
    * select/WHERE texts (round 17): every single-event alias used to get
    * an unconditional join, referenced or not. Removing an unreferenced
    * one is a no-op on the result: an inner lookup of a MATCHED event id
    * always finds its (unique) ordered row on the right stream — the NFA
    * only matched events of that step's stream — so it never drops a row;
    * an outer lookup against a (key,id)-unique relation never multiplies
    * rows, and its NULL-or-not columns are, by definition, unread. The
    * check is a conservative whole-word scan: any appearance of the name
    * keeps the lookup.
    */
  private def pruneUnreferenced(joins: Seq[JoinPlan],
                                texts: Seq[String]): Seq[JoinPlan] =
    joins.filter { j =>
      val p = java.util.regex.Pattern.compile(
        "\\b" + java.util.regex.Pattern.quote(j.name) + "\\b")
      texts.exists(t => p.matcher(t).find())
    }

  /** Cost gate of [[fusedJoinBack]] in [[compileBatch]] (round 17,
    * A/B-measured): the fused pivot's extra
    * matches-sized exchange only pays once it replaces enough lookups —
    * each aggregated step replaces its own explode+agg+join-back (~two
    * joins' worth). Below the threshold the per-name broadcast joins win:
    * q_cep_mr (2 lookups) fused +28%, permute and sql_star (2 lookups
    * each) +33% and +63%; above it fused wins: q_cep_mr_skip_to (1+2
    * steps) −34%, permute4 −35%, multigroup −26%, nested2 −17%.
    */
  private def fuseJoinBack(liveLookups: Int, aggSteps: Int): Boolean =
    liveLookups + 2 * aggSteps >= 5

  /** Fused join-back (round 17, guide §2.4): resolve EVERY scalar alias
    * lookup and EVERY collection aggregate in ONE pass over `ordered`
    * instead of one join per alias plus one explode+aggregate+join-back
    * per quantified step. Each match row explodes into its wanted event
    * ids — `joins.size` scalar entries plus one entry per collected id of
    * every aggregated step — tagged with the lookup name; ONE left join
    * against `ordered` on (key, id) resolves them all, and ONE aggregation
    * grouped on the match's own columns pivots the scalar rows back into
    * per-alias STRUCT columns (at most one non-null row per (match, name),
    * since (key, id) is unique in `ordered` — `first(…, ignoreNulls)` is
    * deterministic) and folds the collection aggregates in the same pass.
    * Multi-part references like `A.value` resolve against the struct
    * column exactly as they resolved against the old join qualifier, so
    * the rewritten select/WHERE texts are unchanged.
    *
    * Semantics preserved exactly:
    *  - inner lookups (`outer = false`) drop the match when no event
    *    qualifies: the post-pivot stream filter evaluates NULL → false on
    *    a missed lookup, like the old inner join condition;
    *  - outer lookups NULL the struct when the stream tag or the residual
    *    predicate fails — with (key, id) unique, join-with-predicate ≡
    *    lookup-then-nullify;
    *  - aggregates ignore the other lookups' rows (their per-step struct
    *    column is NULL there), and an empty buffer yields NULL/0 exactly
    *    as the old left join did.
    *
    * At scale this replaces N shuffles/broadcasts of the corpus-sized
    * `ordered` with one join plus one matches-sized exchange; locally it
    * collapses the per-query AQE job count (VERDICT r16 #1).
    *
    * Returns None (caller falls back to per-name joins) when a lookup
    * name shadows a column of the match relation — the pivoted struct
    * column would be ambiguous.
    */
  private def fusedJoinBack(base: DataFrame, ordered: DataFrame,
                            joins: Seq[JoinPlan],
                            aggSteps: Seq[(String, Seq[(String, String)])])
      : Option[DataFrame] = {
    if (joins.isEmpty && aggSteps.isEmpty) return Some(base)
    val baseCols = base.columns.toSeq
    if (joins.exists(j => baseCols.exists(_.equalsIgnoreCase(j.name))))
      return None
    val entryType = "array<struct<__nm:string,__eid:bigint>>"
    val scalarEntries =
      if (joins.isEmpty) array().cast(entryType)
      else array(joins.map(j =>
        struct(lit(j.name).as("__nm"), j.idExpr.cast("long").as("__eid"))): _*)
    val aggEntries = aggSteps.map { case (idsCol, _) =>
      expr(s"transform(coalesce($idsCol, CAST(array() AS ARRAY<BIGINT>)), " +
        s"x -> named_struct('__nm', '__lkagg_$idsCol', '__eid', x))")
        .cast(entryType)
    }
    val allEntries =
      if (aggEntries.isEmpty) scalarEntries
      else concat(scalarEntries +: aggEntries: _*)
    val orderedS = ordered.select(col("__key").as("__lk_k"),
      col("__id").as("__lk_i"),
      struct(ordered.columns.map(col): _*).as("__lk_row"))
    // explode_outer: a match none of whose lookups resolve still reaches
    // the pivot (its outer structs are NULL there, inner filters drop it —
    // identical to the old join outcomes)
    val ex0 = base.withColumn("__lk", explode_outer(allEntries))
      .join(orderedS,
        col("__mkey") === col("__lk_k") && col("__lk.__eid") === col("__lk_i"),
        "left")
    // per-step struct column so the rewritten aggregate texts (fn(__c.x))
    // fold ONLY that step's entry rows — NULL elsewhere, which every
    // supported aggregate (sum/avg/min/max/count) ignores
    val ex = aggSteps.foldLeft(ex0) { case (acc, (idsCol, _)) =>
      acc.withColumn(s"__c_$idsCol",
        when(col("__lk.__nm") === s"__lkagg_$idsCol", col("__lk_row")))
    }
    val pivots = joins.map(j =>
      first(when(col("__lk.__nm") === j.name, col("__lk_row")),
        ignoreNulls = true).as(j.name))
    val aggCols = aggSteps.flatMap { case (idsCol, items) =>
      items.map { case (name, sqlText) =>
        expr(sqlText.replace("__c.", s"__c_$idsCol.")).as(name) }
    }
    val allAggs = pivots ++ aggCols
    // the match relation is unique on its own columns (a match's step
    // buffers follow deterministically from its start/counts — the
    // distinctPartials invariant — and the full ids arrays are part of
    // the key), so grouping on them is grouping per match
    var out = ex.groupBy(baseCols.map(col): _*).agg(allAggs.head, allAggs.tail: _*)
    joins.foreach { j =>
      val streamOk = col(s"${j.name}.__stream").isin(j.streams: _*)
      val cond = j.pred.map(streamOk && _).getOrElse(streamOk)
      if (j.outer) out = out.withColumn(j.name, when(cond, col(j.name)))
      else out = out.filter(cond)
    }
    Some(out)
  }

  // ---- EMIT ALL ROWS measures, shared by the batch and both streaming
  // emitters: CLASSIFIER()/MATCH_NUMBER() markers alias the columns the
  // emitters append, RUNNING per-prefix aggregates are PER-ROW values
  // resolved after the explode; everything else keeps FINAL semantics
  // (constant per match, evaluated on the per-match relation)
  private sealed trait MKind
  private case object MNormal extends MKind
  private case object MCls extends MKind
  private case object MNum extends MKind
  private final case class MRun(fn: String, v: String, c: String) extends MKind

  /** `normalCols` evaluate the FINAL measures on the match relation under
    * the names `normalNames`; `out` is every measure, in the user's
    * order, with its kind and output name. */
  private final case class AllRowsMeasures(normalCols: Seq[Column],
                                           normalNames: Seq[String],
                                           out: Seq[(MKind, String)]) {
    def runItems: Seq[(MRun, String)] = out.collect { case (r: MRun, a) => (r, a) }
    /** Output measure columns, after the emitted row's own columns. */
    def columns: Seq[Column] = out.map {
      case (MCls, a) => col("mr_classifier").as(a)
      case (MNum, a) => col("mr_match_number").as(a)
      case (_, n) => col(n)
    }
  }

  /** Classify an EMIT ALL ROWS select and reject what no emitter can
    * output: EXCLUDING or RUNNING over a non-variable, an unaliased
    * per-row measure, a measure name that collides with an emitted stream
    * column or a reserved output column. `guard` wraps each FINAL measure
    * (the streaming WITH UNMATCHED NULLing). */
  private def allRowsMeasures(items: Seq[(String, Option[String])],
                              variables: Seq[String], excluding: Seq[String],
                              matches: DataFrame, evCols: Seq[String],
                              guard: Column => Column = identity): AllRowsMeasures = {
    excluding.find(v => !variables.contains(v)).foreach(v =>
      throw GraftApp.SqlError(
        s"EXCLUDING names '$v' which is not a pattern step variable"))
    def needAlias(e: String, a: Option[String]): String = a.getOrElse(
      throw GraftApp.SqlError(
        s"EMIT ALL ROWS measure '${e.trim.take(40)}' needs an AS alias"))
    val kinds: Seq[(MKind, String)] = items.map { case (e, a) =>
      val t = e.trim.toLowerCase
      if (t == "__mr_classifier") (MCls, needAlias(e, a))
      else if (t == "__mr_match_number") (MNum, needAlias(e, a))
      else e.trim match {
        case RunningMarkerRe(fn, v, c) =>
          if (!variables.contains(v)) throw GraftApp.SqlError(
            s"RUNNING aggregate references '$v' which is not a pattern " +
              "step variable")
          (MRun(fn.toLowerCase, v, c), needAlias(e, a))
        case _ if t.contains("__mr_running_") => throw GraftApp.SqlError(
          "RUNNING must be a measure's entire aggregate — RUNNING agg(V.col)")
        case _ => (MNormal, "") // name resolved from the select below
      }
    }
    val normalCols = items.zip(kinds).collect { case ((e, a), (MNormal, _)) =>
      a.map(al => guard(expr(e)).as(al)).getOrElse(guard(expr(e))) }
    val normalNames = matches.select(normalCols: _*).columns.toSeq
    // stitch the user's measure order back together (normal names consumed
    // in sequence; per-row kinds carry their own alias)
    val nIt = normalNames.iterator
    val out = kinds.map {
      case (MNormal, _) => (MNormal, nIt.next())
      case other => other
    }
    val measureNames = out.map(_._2)
    val clash = measureNames.intersect(evCols)
    if (clash.nonEmpty) throw GraftApp.SqlError(
      s"EMIT ALL ROWS: measure alias(es) ${clash.mkString(", ")} collide " +
        "with the stream's own columns (every input column is emitted per " +
        "matched row) — rename the measure")
    (measureNames ++ evCols).find(n =>
      n.equalsIgnoreCase("mr_classifier") || n.equalsIgnoreCase("mr_match_number"))
      .foreach(n => throw GraftApp.SqlError(
        s"EMIT ALL ROWS reserves the output column name '$n'"))
    AllRowsMeasures(normalCols, normalNames, out)
  }

  /** Per-row `mr_classifier` of one step chain, by the row's `__stepIdx`:
    * a single-alternative step names its variable; an OR step names
    * whichever ALTERNATIVE the row satisfies — `stream` tag + local
    * predicate re-evaluated against the row, first textual alternative
    * winning on ties (ANSI's alternation preference). */
  private def stepClassifier(steps: Seq[PatternStep], stream: Column): Column =
    steps.zipWithIndex.foldLeft(lit(null).cast("string")) { case (acc, (st, si)) =>
      val inner =
        if (st.alts.size == 1) lit(st.alts.head.alias)
        else st.alts.foldRight(lit(null).cast("string")) { (alt, a2) =>
          val cond = stream === alt.stream &&
            alt.pred.map(p => expr(p)).getOrElse(lit(true))
          when(cond, lit(alt.alias)).otherwise(a2)
        }
      when(col("__stepIdx") === si, inner).otherwise(acc)
    }

  private def emitAllRows(out: DataFrame, ordered: DataFrame,
                          idsCols: Seq[String], emitSteps: Seq[PatternStep],
                          items: Seq[(String, Option[String])],
                          excluding: Seq[String],
                          unmatched: Boolean): DataFrame = {
    val evCols = ordered.columns.filterNot(_.startsWith("__")).toSeq
    val ms = allRowsMeasures(items, emitSteps.flatMap(_.aliases), excluding,
      out, evCols)
    val normalNames = ms.normalNames
    val keep = out.select((col("__mkey") +: idsCols.map(col)) ++ ms.normalCols: _*)
    val runItems = ms.runItems
    runItems.foreach { case (r, _) =>
      if (!evCols.exists(_.equalsIgnoreCase(r.c))) throw GraftApp.SqlError(
        s"RUNNING ${r.fn}(${r.v}.${r.c}): '${r.c}' is not a stream column")
    }
    // MATCH_NUMBER() equivalent: overlapping matches share events, so
    // per-event rows are un-groupable without a match identity. Number the
    // matches per partition by their event positions — (first id, buffer
    // size) per step group, null-free (coalesce) so the order replays in
    // engines that sort NULLs differently, then the FULL id arrays as the
    // final tie-break (lexicographic array order): two distinct matches
    // agreeing on every (first, size) pair — same-start same-count
    // variants differing only in interior events — would otherwise get
    // tie-nondeterministic numbers against the bit-exact replay contract.
    // (Matches identical in EVERY group's full array produce identical
    // output rows, where number assignment is unobservable.) The window
    // runs over the per-MATCH relation (output-sized), not the corpus.
    val matchOrder = idsCols.flatMap(ic => Seq(
      coalesce(try_element_at(col(ic), lit(1)), lit(-1L)),
      coalesce(size(col(ic)).cast("long"), lit(0L)))) ++
      idsCols.map(ic => coalesce(col(ic), array().cast("array<bigint>")))
    val wMatch = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__mkey")).orderBy(matchOrder: _*)
    val numbered = keep.withColumn("mr_match_number",
      row_number().over(wMatch).cast("long"))
    // ONE inline generator over all step-id arrays (round 13): the
    // per-step explode-then-union shape re-evaluated the whole match
    // subtree — NFA pass included — once per union branch; a single
    // generator reads it once. NULL ids arrays (a variant that omits the
    // group) coalesce to empty and contribute no rows, as before.
    val idsArray = idsCols.map(ic =>
      s"coalesce($ic, CAST(array() AS ARRAY<BIGINT>))").mkString("array(", ", ", ")")
    val perStep = numbered.select((col("__mkey") +: col("mr_match_number") +:
      normalNames.map(col)) :+
      expr(s"inline(flatten(transform($idsArray, (a, si) -> " +
        "transform(a, e -> named_struct('__stepIdx', si, '__eid', e)))))"): _*)
    var rows = perStep.join(ordered.as("__row"),
      col("__row.__id") === col("__eid") && col("__row.__key") === col("__mkey"))
    // classifier per ROW (round 12b). Bare refs in OR predicates resolve
    // to the __row side: the collision checks guarantee measure aliases
    // never shadow them.
    rows = rows.withColumn("mr_classifier",
      stepClassifier(emitSteps, col("__row.__stream")))
    // RUNNING measures: a per-prefix window over the match's exploded rows
    // in event order (__eid = per-key row_number). Excluded rows still feed
    // the window (ANSI: exclusion affects OUTPUT only) — filtered after.
    if (runItems.nonEmpty) {
      val wRun = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__mkey"), col("mr_match_number"))
        .orderBy(col("__eid"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      runItems.foreach { case (r, alias) =>
        val evC = evCols.find(_.equalsIgnoreCase(r.c)).get
        val arg = when(col("mr_classifier") === lit(r.v), col(s"__row.$evC"))
        val agg = r.fn match {
          case "count" => count(arg)
          case "sum" => sum(arg)
          case "min" => min(arg)
          case "max" => max(arg)
          case "avg" => avg(arg)
        }
        rows = rows.withColumn(alias, agg.over(wRun))
      }
    }
    val kept =
      if (excluding.isEmpty) rows
      else rows.filter(!col("mr_classifier").isin(excluding: _*))
    val matched = kept.select(evCols.map(c => col(s"__row.$c")) ++ ms.columns ++
      Seq(col("mr_match_number"), col("mr_classifier")): _*)
    // WITH UNMATCHED: union the input rows NO match claimed, measures and
    // classifier/number NULL (typed from the matched side's schema). The
    // anti-join runs on (key, id) — the same per-key shuffle shape.
    val res =
      if (!unmatched) matched
      else {
        val claimed = rows
          .select(col("__mkey").as("__umk"), col("__eid").as("__uid")).distinct()
        val um = ordered.join(claimed,
          col("__key") === col("__umk") && col("__id") === col("__uid"),
          "left_anti")
        val nullCols = matched.schema.drop(evCols.size).map(f =>
          lit(null).cast(f.dataType).as(f.name))
        matched.unionByName(um.select(evCols.map(col) ++ nullCols: _*))
      }
    // plain-value output columns — the portable total-order contract
    res.orderBy(res.columns.map(col): _*)
  }

  // ---- STREAMING lowering: the NFA runs per key via Cep.detectStream, and
  // select items resolve from value slots carried THROUGH the NFA
  // (CepEvent.svals, Catalyst-evaluated per event, cast back to the source
  // column types on output) — no join back to the source, so the whole plan
  // is streaming-legal. Within a micro-batch events order by (ts, arrival);
  // cross-batch order is the source contract, exactly like Cep.detectStream.

  /** Typed-error gate for column references (round 11): an unknown column
    * in a select item, WHERE, or step predicate previously surfaced as
    * Spark's AnalysisException naming INTERNAL join aliases
    * (`__nav_prev_A_1.nosuch cannot be resolved`) — the never-silent
    * contract wants the error at compile, in the user's vocabulary.
    * Checks, against the union of the pattern streams' schemas:
    *  - alias-qualified refs `V.col` (incl. inside PREV/NEXT and after
    *    stripping `[idx]` forms) where V is a step alias;
    *  - bare single-part refs that are neither columns, step aliases,
    *    registered functions (niladic spellings like current_date parse
    *    as attributes), lambda-bound names, nor the compiler's own order
    *    columns.
    * Anything it cannot positively classify passes through to Spark's
    * analyzer — this gate only catches the provable misses.
    */
  private def lambdaArgNames(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Set[String] = {
    val out = scala.collection.mutable.Set.empty[String]
    def walk(x: org.apache.spark.sql.catalyst.expressions.Expression): Unit = {
      x match {
        case lf: org.apache.spark.sql.catalyst.expressions.LambdaFunction =>
          lf.arguments.foreach(a => out += a.name.toLowerCase)
        case _ =>
      }
      x.children.foreach(walk)
    }
    walk(e)
    out.toSet
  }

  private def validateColumnRefs(spark: SparkSession, q: PatternQuery,
                                 cols: Seq[String]): Unit = {
    // the __mr_* names are the desugarer's EMIT ALL ROWS markers
    // (CLASSIFIER()/MATCH_NUMBER() aliases), resolved post-explode
    val colSet = cols.map(_.toLowerCase).toSet ++
      Set("__key", "__id", "__mr_classifier", "__mr_match_number")
    val aliasSet = q.allAlts.map(_.alias.toLowerCase).toSet
    val colList = cols.mkString(", ")
    def check(text0: String, where: String): Unit = {
      // strip indexed-access forms so `B[last].v` parses as `B.v`
      val text = text0.replaceAll("""\[\s*(?:\d+|last(?:\s*-\s*\d+)?)\s*\]""", "")
      val parsed =
        try spark.sessionState.sqlParser.parseExpression(text)
        catch { case _: Throwable => return } // malformed text errors later, in context
      val bound = lambdaArgNames(parsed)
      parsed.foreach {
        case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          val parts = ua.nameParts
          if (parts.size >= 2 && aliasSet(parts.head.toLowerCase) &&
              !colSet(parts(1).toLowerCase))
            throw GraftApp.SqlError(
              s"pattern $where references unknown column " +
                s"'${parts.head}.${parts(1)}' — stream columns: $colList")
          if (parts.size == 1) {
            val n = parts.head.toLowerCase
            val isFn = spark.sessionState.functionRegistry.functionExists(
              org.apache.spark.sql.catalyst.FunctionIdentifier(parts.head))
            if (!colSet(n) && !aliasSet(n) && !bound(n) && !isFn)
              throw GraftApp.SqlError(
                s"pattern $where references unknown column '${parts.head}' — " +
                  s"stream columns: $colList")
          }
        case _ =>
      }
    }
    q.selectItems.foreach { case (e, _) => check(e, "select item") }
    q.where.foreach(w => check(w, "WHERE"))
    q.allAlts.foreach(a => a.pred.foreach(p => check(p, s"step '${a.alias}' predicate")))
  }

  private def compileStreaming(spark: SparkSession, q: PatternQuery,
                               env: Map[String, DataFrame]): DataFrame = {
    import spark.implicits._
    if (q.skipMachine && q.withinUs.isEmpty) throw GraftApp.SqlError(
      "streaming SKIP PAST LAST ROW / SKIP TO FIRST|LAST / reluctant SKIP " +
        "TO NEXT ROW needs a time " +
        "WITHIN: a held candidate match is only emittable once every " +
        "earlier-start partial dies, and without a WITHIN deadline a key " +
        "that stops receiving events would hold its last matches forever " +
        "(the WITHIN window bounds the emission delay)")
    if (q.allRows) {
      // streaming EMIT ALL ROWS (round 12; round 13 extends to
      // multi-variant): the NFA already buffers every matched event with
      // its svals slots — per-event emission explodes state already held.
      if (q.variants.size > 1) {
        // AND / zero-min patterns: matches carry a variant tag; emission
        // resolves classifiers per (variant, step) and mr_match_number is
        // a per-key ordinal SHARED across variants, which needs the
        // WITHIN-timed kernel (Cep.detectStream with allRows)
        if (q.withinUs.isEmpty) throw GraftApp.SqlError(
          "streaming EMIT ALL ROWS over AND / zero-min patterns needs a " +
            "time WITHIN (state hygiene for the shared match counter)")
        if (q.allRowsUnmatched) throw GraftApp.SqlError(
          "WITH UNMATCHED ROWS over AND / zero-min patterns is batch-only " +
            "— per-variant claims have no single watermark-provable row " +
            "eligibility")
        if (q.selectItems.exists(it =>
            RunningMarkerRe.findFirstMatchIn(it._1.trim).isDefined))
          throw GraftApp.SqlError(
            "streaming RUNNING measures over AND / zero-min patterns are " +
              "batch-only — the prefix fold is defined per variant chain")
      }
      // absent guards stream with ALL ROWS (round 13): mid-chain guards
      // kill PARTIALS (pre-completion — no numbering gap), and the
      // trailing-absent kernel now assigns mr_match_number at CONCLUSIVE
      // flush (after the FOR deadlines), so guard-killed matches never gap
      // the sequence. UNMATCHED + guards stays batch-only: the unmatched
      // kernel has no guard machinery.
      if (q.allRowsUnmatched && q.absents.nonEmpty) throw GraftApp.SqlError(
        "streaming WITH UNMATCHED ROWS with absent (NOT) guards is " +
          "batch-only — row eligibility under guard-delayed claims has no " +
          "single watermark proof")
      if (q.allRowsUnmatched && q.withinUs.isEmpty) throw GraftApp.SqlError(
        "streaming WITH UNMATCHED ROWS needs a time WITHIN: a row is " +
          "provably unmatched only once the watermark passes row_ts + " +
          "WITHIN (any match claiming it must complete by then) — without " +
          "the bound no row's eligibility is ever decidable")
    }
    // PREV/NEXT lower to physical-offset joins (select items) and window
    // functions (DEFINE predicates) — both need the materialized per-key
    // order, which a stream does not have
    val navHit = (q.selectItems.map(_._1) ++ q.where.toSeq ++
      q.allAlts.flatMap(_.pred)).flatMap(t =>
      """(?i)\b(prev|next)\s*\(|\bover\s*\(""".r.findFirstIn(t))
    if (navHit.nonEmpty) throw GraftApp.SqlError(
      "PREV/NEXT navigation is batch-only — a stream has no materialized " +
        "per-key physical order to offset into; use cross-step references " +
        "(B.x > A.x) or FIRST/LAST measures instead")
    // trailing NOT … FOR d runs via the absent-chain state
    // (Cep.detectStream with trailing guards); mid-chain NOT runs as
    // MidGuard kills inside the NFA itself (poisoned-partial discipline)
    val streams = q.allAlts.map(_.stream).distinct
    val tagged = streams.map { s =>
      val src0 = env(s)
      val src = q.sourceFilters.get(s).map(g => src0.filter(expr(g))).getOrElse(src0)
      src.withColumn("__stream", lit(s))
    }.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    if (!tagged.columns.contains("ts"))
      throw GraftApp.SqlError(
        "pattern streams need a 'ts' TIMESTAMP column (explicit event order)")
    if (q.partitionBy.isEmpty)
      ScaleWarnings.warn(s"streaming pattern INTO '${q.target}' has no " +
        "PARTITION BY: all NFA state lives under one key = one task — add " +
        "PARTITION BY <attr> to shard the pattern per key")
    val keyCol = q.partitionBy.map(a => expr(a).cast("string")).getOrElse(lit("app"))
    val evs = tagged.withColumn("__key", keyCol)
    if (q.variants.size == 1) streamVariant(q, q.variants.head, evs)
    else streamMulti(q, evs)
  }

  /** Select/WHERE rewriter for ONE streaming variant: step refs resolve
    * from svals slots carried through the NFA (no join back), refs to
    * aliases OMITTED from the variant NULL-pad. `slot` interns source
    * columns — multi-variant compiles share one registry so every
    * variant reads the same svals array.
    */
  private def streamRewriter(q: PatternQuery, steps0: Seq[PatternStep],
                             colTypes: Map[String, String],
                             slot: String => Int): String => String = {
    val omitted = q.variants.flatMap(_.flatMap(_.aliases)).toSet --
      steps0.flatMap(_.aliases).toSet
    val padAbsent = absentAliasRewriter(omitted, c => colTypes.get(c.toLowerCase))
    val aliasToStep: Map[String, Int] =
      steps0.zipWithIndex.flatMap { case (st, i) => st.aliases.map(_ -> i) }.toMap
    def eventRef(i: Int, idx: String): String = idx.replaceAll("\\s", "") match {
      case "0" => s"steps[$i].events[0]"
      case "last" => s"element_at(steps[$i].events, -1)"
      case s if s.startsWith("last-") =>
        s"try_element_at(steps[$i].events, -${1 + s.stripPrefix("last-").toInt})"
      case n => s"try_element_at(steps[$i].events, ${n.toInt + 1})"
    }
    def slotRef(i: Int, idx: String, colName: String): String =
      s"CAST(${eventRef(i, idx)}.svals[${slot(colName)}] AS ${colTypes(colName.toLowerCase)})"

    val idxRe = """\b(\w+)\s*\[\s*(\d+|last(?:\s*-\s*\d+)?)\s*\]\s*\.\s*(\w+)""".r
    val plainRe = """\b(\w+)\s*\.\s*(\w+)""".r
    val countRe = """(?i)\bcount\s*\(\s*(\w+)\s*\)""".r
    val stepAggRe = """(?i)\b(sum|avg|min|max|count)\s*\(\s*(\w+)\s*\.\s*(\w+)\s*\)""".r
    def rewrite(text0: String): String = {
      // EMIT ALL ROWS RUNNING marker: opaque here — kept whole so the
      // streaming lowering can REJECT it typed (RUNNING is batch-only)
      if (RunningMarkerRe.findFirstMatchIn(text0).isDefined) return text0
      // collection aggregations over a step's collected events lower to
      // LAMBDA folds on the per-match arrays (no Aggregate node — each
      // match is one output row), null-skipping like their SQL namesakes
      var text = stepAggRe.replaceAllIn(padAbsent(text0), m => {
        val (fn, alias, c) = (m.group(1).toLowerCase, m.group(2), m.group(3))
        aliasToStep.get(alias) match {
          case Some(i) =>
            val t = colTypes.getOrElse(c.toLowerCase,
              throw GraftApp.SqlError(
                s"pattern select references unknown column '$c'"))
            val vals = s"transform(steps[$i].events, x -> CAST(x.svals[${slot(c)}] AS $t))"
            val nn = s"filter($vals, v -> v IS NOT NULL)"
            val acc =
              if (Set("TINYINT", "SMALLINT", "INT", "BIGINT").contains(t.toUpperCase))
                "BIGINT"
              else "DOUBLE"
            java.util.regex.Matcher.quoteReplacement(fn match {
              case "sum" =>
                s"if(size($nn) = 0, CAST(NULL AS $acc), " +
                  s"aggregate($nn, CAST(0 AS $acc), (a, v) -> a + v))"
              case "avg" =>
                s"CAST(aggregate($nn, CAST(0 AS DOUBLE), (a, v) -> a + v) " +
                  s"/ nullif(size($nn), 0) AS DOUBLE)"
              case "min" => s"array_min($vals)"
              case "max" => s"array_max($vals)"
              case "count" => s"CAST(size($nn) AS BIGINT)"
            })
          case None => java.util.regex.Matcher.quoteReplacement(m.matched)
        }
      })
      text = countRe.replaceAllIn(text, m => aliasToStep.get(m.group(1)) match {
        case Some(i) => s"CAST(size(steps[$i].events) AS BIGINT)"
        case None => java.util.regex.Matcher.quoteReplacement(m.matched)
      })
      text = idxRe.replaceAllIn(text, m => aliasToStep.get(m.group(1)) match {
        case Some(i) => java.util.regex.Matcher.quoteReplacement(
          slotRef(i, m.group(2), m.group(3)))
        case None => java.util.regex.Matcher.quoteReplacement(m.matched)
      })
      plainRe.replaceAllIn(text, m => aliasToStep.get(m.group(1)) match {
        case Some(i) => java.util.regex.Matcher.quoteReplacement(
          slotRef(i, "0", m.group(2)))
        case None => java.util.regex.Matcher.quoteReplacement(m.matched)
      })
    }
    rewrite
  }

  /** svals slot array over the interned source columns. */
  /** `overrides`: slot names whose value is a derived EXPRESSION instead
    * of a plain source column (the per-alternative RUNNING slots — NULL
    * for events the alternative does not claim).
    */
  private def svalsColumn(svalReg: collection.Map[String, Int],
                          overrides: collection.Map[String, Column] = Map.empty): Column =
    if (svalReg.isEmpty) typedlit(Seq.empty[String])
    else array(svalReg.keys.toSeq.map(c =>
      overrides.getOrElse(c, col(c)).cast("string")): _*)

  private def streamVariant(q: PatternQuery, steps: Seq[PatternStep],
                            evs: DataFrame): DataFrame = {
    val colTypes: Map[String, String] =
      evs.schema.fields.map(f => f.name.toLowerCase -> f.dataType.sql).toMap
    val nb = classifySteps(steps)

    // slot registry: source column -> svals index; refs rewrite to a slot
    // extraction cast back to the column's type
    val svalReg = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def slot(colName: String): Int = svalReg.get(colName) match {
      case Some(i) => i // already-registered (incl. derived __alt_ slots)
      case None =>
        if (!colTypes.contains(colName.toLowerCase))
          throw GraftApp.SqlError(s"pattern select references unknown column '$colName'")
        svalReg.getOrElseUpdate(colName, svalReg.size)
    }
    val rewrite = streamRewriter(q, steps, colTypes, slot)
    val items = q.selectItems.map { case (e, a) => (rewrite(e), a) }
    val whereRw = q.where.map(rewrite)

    // EMIT ALL ROWS carries the FULL source row through the NFA: intern
    // every source column so the per-event output reconstructs it from the
    // svals slots (state grows by one string per column per buffered
    // event — the inherent cost of emitting the rows themselves). OR steps
    // additionally intern the stream tag: the per-row classifier CASE
    // discriminates alternatives by (stream, predicate). Interning must
    // happen HERE — svalsCol snapshots the registry below.
    val svalExpr = scala.collection.mutable.LinkedHashMap.empty[String, Column]
    if (q.allRows) {
      evs.columns.filterNot(_.startsWith("__")).foreach(slot)
      if (steps.exists(_.alts.size > 1)) slot("__stream")
      // RUNNING over an OR ALTERNATIVE (round 13): the step buffer
      // interleaves alternatives, so the prefix fold needs per-event
      // attribution. A dedicated derived slot per (alternative, column) —
      // the column's value when THIS alternative claims the event
      // ((stream, local predicate), the same discrimination the per-row
      // classifier uses), NULL otherwise — lets the fold's existing
      // NULL-filtering do the attribution. Registered here because the
      // svals array snapshots the registry below.
      items.map(_._1.trim).foreach {
        case RunningMarkerRe(_, v, c) =>
          steps.find(st => st.alts.size > 1 && st.aliases.contains(v)).foreach { st =>
            if (!colTypes.contains(c.toLowerCase)) throw GraftApp.SqlError(
              s"RUNNING aggregate over '$v.$c': '$c' is not a stream column")
            val cond = st.alts.filter(_.alias == v).map { alt =>
              val base = col("__stream") === alt.stream
              alt.pred.map(p => base && expr(p)).getOrElse(base)
            }.reduce(_ || _)
            // direct registry write — slot() validates against the SOURCE
            // schema, which a derived slot is not part of
            svalExpr.getOrElseUpdate(s"__alt_${v}_$c", when(cond, col(c)))
            svalReg.getOrElseUpdate(s"__alt_${v}_$c", svalReg.size)
          }
        case _ =>
      }
    }

    val svalsCol = svalsColumn(svalReg, svalExpr)

    // trailing NOT guards get one extra flag bit each, after the step bits;
    // their predicates evaluate as Catalyst columns like step predicates
    val absentFlags = q.absents.map { a =>
      val base = col("__stream") === a.alt.stream
      a.alt.pred.map(p => base && expr(p)).getOrElse(base)
    }
    val bitsCol =
      if (absentFlags.isEmpty) nb.bits
      else concat(nb.bits +: absentFlags.map(f =>
        when(f, lit("1")).otherwise(lit("0"))): _*)

    // absent guards: one flag bit each, positionally after the step bits.
    // Mid-chain guards (an event between the anchoring step and the next)
    // kill partials inside the NFA; trailing guards route through the
    // absent-chain state (emission delayed by the FOR deadline).
    val nSteps = steps.size
    def bitPred(bit: Int): CepEvent => Boolean =
      e => e.etype.length > bit && e.etype.charAt(bit) == '1'
    val absWithBit = q.absents.zipWithIndex.map { case (a, j) => (a, nSteps + j) }
    val (midAbs, trailAbs) = absWithBit.partition(_._1.afterStep < nSteps - 1)
    val midGuards = midAbs.map { case (a, bit) =>
      MidGuard(a.afterStep, bitPred(bit), a.forUs)
    }
    val guards = trailAbs.map { case (a, bit) =>
      Cep.TrailingAbsent(bitPred(bit),
        a.forUs.getOrElse(throw GraftApp.SqlError(
          "streaming trailing NOT guards need FOR <duration>")))
    }
    val spec = PatternSpec(nb.specSteps, strict = q.strict, every = q.every,
      withinUs = q.withinUs, withinEvents = q.withinEvents,
      midGuards = midGuards)
    requireBoundedState(spec)
    var out = streamMatches(q, evs, bitsCol, nb.valsCol, svalsCol, Seq(spec),
      q.selection(steps), guards)
    // WHERE applies to MATCHES; an unmatched pseudo-row (matchSeq = -1)
    // bypasses it — its measures are NULL by contract, not filterable
    whereRw.foreach(w => out = out.filter(
      if (q.allRowsUnmatched) col("matchSeq") === -1L || expr(w) else expr(w)))
    if (q.allRows)
      return emitAllRowsStream(q, steps, out, evs, colTypes, slot, items)
    out.select(items.map {
      case (e, Some(a)) => expr(e).as(a)
      case (e, None) => expr(e)
    }: _*)
  }

  /** Streaming `EMIT ALL ROWS` (MATCH_RECOGNIZE's ALL ROWS PER MATCH on a
    * stream, round 12): one output row per matched EVENT — the NFA already
    * buffers every matched event's svals slots, so emission is a per-match
    * explode of each step's buffer, no join back to the source (the plan
    * stays streaming-legal). Output layout matches the batch lowering:
    * the stream's own columns (reconstructed from the slots, cast back to
    * the source types) + the measures (FINAL semantics constant per match;
    * RUNNING measures — round 12b — re-aggregate per row as prefix folds
    * over the same buffered arrays) + `mr_match_number` + `mr_classifier`.
    *
    * `mr_match_number` here is the NFA's per-key match-COMPLETION ordinal
    * ([[graft.streaming.CepMatch.matchSeq]], carried across micro-batches
    * in the state store) — batch numbers matches by start position
    * instead; the two orders differ only when matches overlap, and both
    * group a match's rows exactly.
    */
  private def emitAllRowsStream(q: PatternQuery, steps: Seq[PatternStep],
                                matches: DataFrame, evs: DataFrame,
                                colTypes: Map[String, String],
                                slot: String => Int,
                                items: Seq[(String, Option[String])]): DataFrame = {
    val hasOr = steps.exists(_.alts.size > 1)
    // measures NULL out on WITH UNMATCHED pseudo-matches (matchSeq = -1)
    val guard = (c: Column) =>
      if (q.allRowsUnmatched) when(col("matchSeq") === -1L, lit(null)).otherwise(c)
      else c
    val evCols = evs.columns.filterNot(_.startsWith("__")).toSeq
    val ms = allRowsMeasures(items, steps.flatMap(_.aliases), q.allRowsExcluding,
      matches, evCols, guard)
    // RUNNING (round 12b, streams too) is a PREFIX aggregate over buffers
    // the NFA already holds — a match's rows all emit at completion, so
    // the per-row re-aggregation is a slice fold over the state that
    // produced them, no retraction involved. The prefix for an emitted row
    // reads variable V's buffered events at-or-before that row in
    // processing order. Excluded steps still feed these buffers (ANSI:
    // exclusion is output-only), because the prefixes read the match
    // STATE, not the emitted rows.
    def runExprFor(r: MRun): String = {
      val k = steps.indexWhere(_.aliases.contains(r.v))
      val t = colTypes.getOrElse(r.c.toLowerCase, throw GraftApp.SqlError(
        s"RUNNING ${r.fn}(${r.v}.${r.c}): '${r.c}' is not a stream column"))
      // OR step (round 13): the buffer interleaves alternatives, so the
      // fold reads the DERIVED per-alternative slot (NULL when another
      // alternative claimed the event) registered in streamVariant —
      // the existing NULL filtering then does the attribution
      val s = if (steps(k).alts.size > 1) slot(s"__alt_${r.v}_${r.c}") else slot(r.c)
      val acc =
        if (Set("TINYINT", "SMALLINT", "INT", "BIGINT").contains(t.toUpperCase))
          "BIGINT"
        else "DOUBLE"
      // RUNNING prefix = V's buffered events at-or-before the emitted row
      // in PROCESSING order — (tsUs, eventId), exactly the sort both the
      // batch and streaming NFAs apply before folding (round 14: replaces
      // the per-emit-step positional slice — identical on plain chains,
      // where buffers are position-ordered, and correct for LOOP GROUPS,
      // whose per-step buffers interleave across iterations). A step
      // entirely after the emitted row filters to empty: count 0,
      // sum/avg/min/max NULL. eventId alone is NOT usable: the streaming
      // lowering's ids are xxhash64 tags, ordered only within a tsUs tie.
      val arr = s"filter(__steps[$k].events, x -> x.tsUs < __ev.tsUs OR " +
        s"(x.tsUs = __ev.tsUs AND x.eventId <= __ev.eventId))"
      val vals = s"transform($arr, x -> CAST(x.svals[$s] AS $t))"
      val nn = s"filter($vals, v -> v IS NOT NULL)"
      r.fn match {
        case "count" => s"CAST(size($nn) AS BIGINT)"
        case "sum" => s"if(size($nn) = 0, CAST(NULL AS $acc), " +
          s"aggregate($nn, CAST(0 AS $acc), (a, v) -> a + v))"
        case "avg" => s"CAST(aggregate($nn, CAST(0 AS DOUBLE), " +
          s"(a, v) -> a + v) / nullif(size($nn), 0) AS DOUBLE)"
        case "min" => s"array_min($vals)"
        case "max" => s"array_max($vals)"
      }
    }
    // ONE explode over ALL steps (round 13): a per-step explode-then-union
    // re-instantiates the stateful NFA operator once per union branch —
    // N step buffers cost N state stores per key, and (the correctness
    // half) Spark does not deliver event-time TIMEOUT emissions through a
    // duplicated stateful operator, which silently drops any row whose
    // emission depends on the watermark sweep (held skip candidates,
    // WITH UNMATCHED pseudo-rows). A single inline generator over the
    // steps array keeps exactly one kernel instance in the plan.
    // WITH UNMATCHED pseudo-matches (matchSeq = -1, one buffered row)
    // flow through the same pipeline: their measures/markers NULL out via
    // the __mseq guards below.
    var exploded = matches.select(ms.normalCols ++ Seq(
      guard(col("matchSeq")).as("mr_match_number"),
      col("matchSeq").as("__mseq"),
      col("steps").as("__steps"),
      expr("inline(flatten(transform(steps, (s, si) -> " +
        "transform(s.events, (e, p) -> " +
        "named_struct('__stepIdx', si, '__pos', p, '__ev', e)))))")): _*)
    ms.runItems.foreach { case (r, a) =>
      val body = runExprFor(r)
      val e0 =
        if (q.allRowsUnmatched)
          s"CASE WHEN __mseq = -1 THEN NULL ELSE ($body) END"
        else body
      exploded = exploded.withColumn(a, expr(e0))
    }
    val perStep = exploded.drop("__steps", "__pos")
    // materialize the source columns (and, under OR steps, the stream tag)
    // from the svals slots, then resolve the per-row classifier on the
    // reconstructed row
    val srcCols = evCols.map(c =>
      expr(s"CAST(__ev.svals[${slot(c)}] AS ${colTypes(c.toLowerCase)})").as(c))
    val matCols = ms.out.collect {
      case (MNormal, n) => col(n)
      case (_: MRun, a) => col(a)
    }
    val streamTag =
      if (hasOr) Seq(expr(s"CAST(__ev.svals[${slot("__stream")}] AS STRING)")
        .as("__stream"))
      else Nil
    val withSrc = perStep.select(srcCols ++ matCols ++
      Seq(col("mr_match_number"), col("__stepIdx"), col("__mseq")) ++ streamTag: _*)
    val clsCol0 = stepClassifier(steps, col("__stream"))
    // WITH UNMATCHED pseudo-rows carry a NULL classifier (ANSI)
    val clsCol =
      if (q.allRowsUnmatched)
        when(col("__mseq") === -1L, lit(null).cast("string")).otherwise(clsCol0)
      else clsCol0
    val rowsCls = withSrc.withColumn("mr_classifier", clsCol)
    // EXCLUDING: output-only filter on the resolved classifier (RUNNING
    // folds already read the buffers, so excluded rows still fed them);
    // a NULL classifier (unmatched pseudo-row) is never excluded
    val kept =
      if (q.allRowsExcluding.isEmpty) rowsCls
      else rowsCls.filter(col("mr_classifier").isNull ||
        !col("mr_classifier").isin(q.allRowsExcluding: _*))
    kept.select(evCols.map(col) ++ ms.columns ++
      Seq(col("mr_match_number"), col("mr_classifier")): _*)
  }

  /** The streaming kernel call of both lowerings: `evs` encoded as
    * [[CepEvent]]s (step/guard flag bits, comparand `vals`, select slots
    * `svals`), then [[Cep.detectStream]] over the query's specs (one, or a
    * multi-variant family) in the query's [[Cep.StreamMode]]. A watermark
    * exists only when something has a
    * deadline — a WITHIN, or a trailing NOT … FOR guard: WITHIN bounds
    * state-store growth only if idle keys are purged, so it routes through
    * the event-time timeout. Its delay is the user's declared disorder
    * tolerance (ALLOW LATENESS); 0 = strict in-order contract, tightest
    * state bound. WITH UNMATCHED ROWS (round 13) wraps the match machine
    * with watermark-proved row eligibility: unmatched rows emit as
    * matchSeq = -1 pseudo-matches once the watermark passes row_ts +
    * WITHIN. `allRows` retains the per-key match counter that EMIT ALL
    * ROWS reads as mr_match_number.
    */
  private def streamMatches(q: PatternQuery, evs: DataFrame, bits: Column,
                            vals: Column, svals: Column, specs: Seq[PatternSpec],
                            selection: Cep.Selection,
                            guards: Seq[Cep.TrailingAbsent]): DataFrame = {
    val cepIn = evs.withColumn("__bits", bits).select(
        col("__key").as("key"),
        unix_micros(col("ts")).as("tsUs"),
        // same-timestamp tie-break within a micro-batch (event ids are not
        // resolved from in streaming — slots carry the data)
        xxhash64(evs.columns.map(col).toSeq: _*).as("eventId"),
        col("__bits").as("etype"),
        lit(0.0).as("value"),
        vals.as("vals"),
        svals.as("svals"))
      .as[CepEvent](Encoders.product[CepEvent])
    val timed = q.withinUs.isDefined || guards.nonEmpty
    if (q.lateness.isDefined && !timed)
      // without a deadline the NoTimeout NFA has no watermark: nothing is
      // ever dropped for lateness (every event reaches the NFA in arrival
      // order), so the clause cannot take effect — surface that instead of
      // silently accepting a no-op knob
      ScaleWarnings.warn(s"pattern INTO '${q.target}': ALLOW LATENESS has no " +
        "effect without WITHIN or a trailing NOT … FOR guard — the plan has " +
        "no event-time watermark, so no event is ever dropped as late; add " +
        "WITHIN <d> to bound state and activate the lateness contract")
    Cep.detectStream(cepIn, specs, Cep.StreamMode(
      lateness = if (timed) Some(q.lateness.getOrElse("0 seconds")) else None,
      selection = selection, guards = guards,
      unmatched = q.allRows && q.allRowsUnmatched, allRows = q.allRows))
  }

  /** Streaming multi-variant lowering: ONE kernel holds every variant's
    * NFA state per key ([[streamMatches]] over every variant's spec) —
    * the stream shuffles once per
    * micro-batch instead of once per variant, and the state store keeps
    * one entry per key instead of V. Select items and WHERE resolve
    * per-variant (step positions differ), combined as a CASE on the
    * match's variant tag; all variants share one svals slot registry so
    * every branch reads the same carried array. Absent (`NOT`) guards
    * never reach here — parseSteps rejects them with AND / zero-min
    * elements.
    */
  private def streamMulti(q: PatternQuery, evs: DataFrame): DataFrame = {
    val colTypes: Map[String, String] =
      evs.schema.fields.map(f => f.name.toLowerCase -> f.dataType.sql).toMap
    val mb = buildMulti(q, c => colTypes.get(c.toLowerCase))

    val svalReg = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def slot(colName: String): Int = {
      if (!colTypes.contains(colName.toLowerCase))
        throw GraftApp.SqlError(s"pattern select references unknown column '$colName'")
      svalReg.getOrElseUpdate(colName, svalReg.size)
    }
    val rewrites: Seq[String => String] =
      q.variants.map(v => streamRewriter(q, v, colTypes, slot))
    // identical branches collapse (common when the ref is to a step every
    // variant shares at the same position); else dispatch on the tag
    def caseOf(texts: Seq[String]): String =
      if (texts.distinct.size == 1) texts.head
      else texts.zipWithIndex.map { case (t, vi) => s"WHEN $vi THEN ($t)" }
        .mkString("CASE variant ", " ", " END")
    val items = q.selectItems.map { case (e, a) =>
      // unaliased items take the source text as the output name — the
      // dialect's fan-in pairs columns BY NAME, and the per-variant CASE
      // text is not a stable name
      (caseOf(rewrites.map(_(e))), a.orElse(Some(e.trim)))
    }
    val whereRw = q.where.map(w => caseOf(rewrites.map(_(w))))

    // EMIT ALL ROWS (round 13, multi-variant): the per-event output
    // reconstructs the source row from svals slots — intern every source
    // column, plus the stream tag when any step has OR alternatives
    if (q.allRows) {
      evs.columns.filterNot(_.startsWith("__")).foreach(slot)
      if (q.variants.exists(_.exists(_.alts.size > 1))) slot("__stream")
    }

    var out = streamMatches(q, evs, mb.bitsCol, mb.valsCol, svalsColumn(svalReg),
      mb.specs, Cep.Selection.Every, Nil)
    whereRw.foreach(w => out = out.filter(expr(w)))
    if (q.allRows)
      return emitAllRowsStreamMulti(q, out, evs, colTypes, slot, items)
    out.select(items.map {
      case (e, Some(a)) => expr(e).as(a)
      case (e, None) => expr(e)
    }: _*)
  }

  /** Streaming `EMIT ALL ROWS` over a MULTI-VARIANT pattern family (AND
    * arrival orderings, zero-min presence pairs — round 13): one output
    * row per matched event, like [[emitAllRowsStream]], but the match
    * relation carries a variant tag and the per-variant chains differ in
    * length and step identity. One inline explode over the match's steps
    * (single kernel instance — see the single-chain scaladoc for why the
    * per-branch union is both a correctness and a state-cost bug);
    * `mr_classifier` resolves as a CASE over (variant, step position)
    * with OR alternatives discriminated by (stream, local predicate) like
    * the single-chain path; `mr_match_number` is the kernel's per-key
    * ordinal SHARED across variants. Measures keep FINAL semantics: the
    * per-variant CASE texts evaluate on the match relation before the
    * explode (a variant lacking an alias NULL-pads its branch, exactly
    * like the ONE ROW lowering). RUNNING and WITH UNMATCHED are typed
    * batch-only here (gated upstream).
    */
  private def emitAllRowsStreamMulti(q: PatternQuery, matches: DataFrame,
                                     evs: DataFrame,
                                     colTypes: Map[String, String],
                                     slot: String => Int,
                                     items: Seq[(String, Option[String])]): DataFrame = {
    val hasOr = q.variants.exists(_.exists(_.alts.size > 1))
    // markers are whole expressions, variant-invariant, so they survive the
    // per-variant CASE rewrite untouched; every item carries an alias, and
    // RUNNING was rejected at the gate
    val evCols = evs.columns.filterNot(_.startsWith("__")).toSeq
    val ms = allRowsMeasures(items, q.variants.flatten.flatMap(_.aliases).distinct,
      q.allRowsExcluding, matches, evCols)
    val exploded = matches.select(ms.normalCols ++ Seq(
      col("matchSeq").as("mr_match_number"),
      col("variant").as("__variant"),
      expr("inline(flatten(transform(steps, (s, si) -> " +
        "transform(s.events, (e, p) -> " +
        "named_struct('__stepIdx', si, '__pos', p, '__ev', e)))))")): _*)
    val srcCols = evCols.map(c =>
      expr(s"CAST(__ev.svals[${slot(c)}] AS ${colTypes(c.toLowerCase)})").as(c))
    val streamTag =
      if (hasOr) Seq(expr(s"CAST(__ev.svals[${slot("__stream")}] AS STRING)")
        .as("__stream"))
      else Nil
    val withSrc = exploded.select(srcCols ++ ms.normalNames.map(col) ++
      Seq(col("mr_match_number"), col("__variant"), col("__stepIdx")) ++ streamTag: _*)
    // classifier: (variant, step position) → the variant chain's alias at
    // that position; OR steps discriminate alternatives like single-chain
    val clsCol = q.variants.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (chain, vi)) =>
        when(col("__variant") === vi, stepClassifier(chain, col("__stream")))
          .otherwise(acc)
    }
    val rowsCls = withSrc.withColumn("mr_classifier", clsCol)
    val kept =
      if (q.allRowsExcluding.isEmpty) rowsCls
      else rowsCls.filter(!col("mr_classifier").isin(q.allRowsExcluding: _*))
    kept.select(evCols.map(col) ++ ms.columns ++
      Seq(col("mr_match_number"), col("mr_classifier")): _*)
  }

  // ---- predicate classification shared by the batch and streaming paths:
  // LOCAL conjuncts become Catalyst flag columns; cross-step comparisons
  // (`price > e1.price * 1.1`, the reference's StateEvent access) have BOTH
  // sides precomputed as per-event doubles (vals slots) and the NFA
  // compares slot values — no expression evaluation inside the state
  // machine.

  /** `iterLocal` (round 14): both sides sit in the SAME loop group — the
    * comparison anchors at the ref step's first event of the CURRENT
    * iteration (per-repetition binding) instead of its all-time head.
    */
  private final case class CrossCmp(localIdx: Int, op: String, refStep: Int,
                                    refIdx: Int, iterLocal: Boolean = false)

  /** Group id per step: members of the i-th loop group share id i; -1
    * outside any group (the loopBack step closes its group's range —
    * adjacent groups never merge because each close advances the id).
    */
  private def loopGroupIds(steps: Seq[PatternStep]): Seq[Int] = {
    val ids = Array.fill(steps.size)(-1)
    var g = 0
    steps.zipWithIndex.foreach { case (st, i) =>
      if (st.loopBack >= 0) { (i - st.loopBack to i).foreach(j => ids(j) = g); g += 1 }
    }
    ids.toSeq
  }
  private final case class NfaBuild(bits: Column, valsCol: Column,
                                    specSteps: Seq[Step])

  /** Per-step predicate split for one step chain: each alt's predicate
    * decomposes into LOCAL conjuncts (evaluable on the candidate event
    * alone — folded into the event's match-flag bit) and CROSS-step
    * comparisons (compared by the NFA against collected earlier steps via
    * precomputed value slots). `valIdx` interns comparison operand
    * expressions — multi-variant compiles share one registry so every
    * variant reads the same `vals` array.
    */
  private def classifyChain(steps: Seq[PatternStep], valIdx: String => Int)
      : Seq[(Seq[Option[String]], Seq[CrossCmp])] = {
    val aliasToStep: Map[String, Int] =
      steps.zipWithIndex.flatMap { case (st, i) => st.aliases.map(_ -> i) }.toMap
    val gids = loopGroupIds(steps)

    def crossAliasesIn(text: String, self: String): Seq[String] =
      aliasToStep.keys.toSeq.filter(a => a != self &&
        ("(?i)\\b" + a + "\\s*\\.").r.findFirstIn(text).isDefined)
    def splitCompare(c: String): Option[(String, String, String)] = {
      var depth = 0; var inQ = false; var i = 0
      while (i < c.length) {
        val ch = c.charAt(i)
        if (ch == '\'') inQ = !inQ
        else if (!inQ && (ch == '(' || ch == '[')) depth += 1
        else if (!inQ && (ch == ')' || ch == ']')) depth -= 1
        else if (!inQ && depth == 0) {
          val two = c.substring(i, math.min(i + 2, c.length))
          if (Seq("<=", ">=", "!=", "<>", "==").contains(two))
            return Some((c.take(i), two, c.drop(i + 2)))
          if (ch == '<' || ch == '>' || ch == '=')
            return Some((c.take(i), ch.toString, c.drop(i + 1)))
        }
        i += 1
      }
      None
    }
    val flip = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=",
      "=" -> "=", "==" -> "==", "!=" -> "!=", "<>" -> "<>")

    // per step: (per-alt local predicate, cross comparisons)
    val classified: Seq[(Seq[Option[String]], Seq[CrossCmp])] =
      steps.zipWithIndex.map { case (st, i) =>
        val perAlt = Seq.newBuilder[Option[String]]
        val comps = Seq.newBuilder[CrossCmp]
        st.alts.foreach { a =>
          a.pred match {
            case None => perAlt += None
            case Some(p) =>
              val conjuncts = splitTopLevelWord(p, "AND")
              val locals = Seq.newBuilder[String]
              conjuncts.foreach { c =>
                if (crossAliasesIn(c, a.alias).isEmpty) locals += c
                else {
                  if (st.alts.size > 1) throw GraftApp.SqlError(
                    s"cross-step references are not supported on OR steps ('${a.alias}')")
                  val (l, op, r) = splitCompare(c).getOrElse(throw GraftApp.SqlError(
                    s"cross-step predicate '$c' must be a comparison " +
                    "(<, <=, >, >=, =, !=) between a local and a cross-step expression"))
                  val (lc, rc) = (crossAliasesIn(l, a.alias), crossAliasesIn(r, a.alias))
                  val (localSide, op2, crossSide, refs) =
                    if (lc.isEmpty && rc.nonEmpty) (l, op, r, rc)
                    else if (rc.isEmpty && lc.nonEmpty) (r, flip(op), l, lc)
                    else throw GraftApp.SqlError(
                      s"cross-step predicate '$c' must reference other steps on one side only")
                  if (refs.distinct.size > 1) throw GraftApp.SqlError(
                    s"cross-step predicate '$c' may reference a single step")
                  val ref = refs.head
                  val refStep = aliasToStep(ref)
                  if (refStep >= i) throw GraftApp.SqlError(
                    s"cross-step predicate '$c' must reference an EARLIER step")
                  val stripped = crossSide.replaceAll("(?i)\\b" + ref + "\\s*\\.", "")
                  comps += CrossCmp(valIdx(localSide), op2, refStep, valIdx(stripped),
                    iterLocal = gids(i) >= 0 && gids(i) == gids(refStep))
                }
              }
              val ls = locals.result()
              perAlt += (if (ls.isEmpty) None else Some(ls.mkString(" AND ")))
          }
        }
        (perAlt.result(), comps.result())
      }
    classified
  }

  /** One step's LOCAL match flag: any alt's (stream, local-pred) holds. */
  private def stepFlag(st: PatternStep, perAlt: Seq[Option[String]]): Column =
    st.alts.zip(perAlt).map { case (a, predOpt) =>
      val base = col("__stream") === a.stream
      predOpt.map(p => base && expr(p)).getOrElse(base)
    }.reduce(_ || _)

  /** Comparison operand slots, NaN when not evaluable on this event. */
  private def valsColumn(valReg: collection.Map[String, Int]): Column =
    if (valReg.isEmpty) typedlit(Seq.empty[Double])
    else array(valReg.keys.toSeq.map(e =>
      coalesce(expr(e).cast("double"), lit(Double.NaN))): _*)

  private def cmp(l: Double, op: String, r: Double): Boolean =
    if (l.isNaN || r.isNaN) false
    else op match {
      case "<" => l < r
      case "<=" => l <= r
      case ">" => l > r
      case ">=" => l >= r
      case "=" | "==" => l == r
      case "!=" | "<>" => l != r
    }

  /** NFA [[Step]] for a chain step whose local flag sits at `bit` of the
    * event's etype bitstring; `comps` compare against EARLIER collected
    * steps of the same chain (variant-positional indices).
    */
  private def nfaStep(st: PatternStep, bit: Int, comps: Seq[CrossCmp]): Step = {
    val base = Step(st.aliases.head, st.min, st.max, (e, coll) =>
      e.etype.length > bit && e.etype.charAt(bit) == '1' &&
      comps.forall { c =>
        val ref = coll(c.refStep)
        ref.nonEmpty && cmp(e.vals(c.localIdx), c.op, ref.head.vals(c.refIdx))
      }, reluctant = st.reluctant, loopBack = st.loopBack,
      minIters = st.minIters, maxIters = st.maxIters, looped = st.looped,
      inner = st.inner, innerLoopBack = st.innerLoopBack,
      innerMinIters = st.innerMinIters, innerMaxIters = st.innerMaxIters,
      innerReluctant = st.innerReluctant)
    // a same-group cross-member comparison anchors at the ref member's
    // first event of the CURRENT iteration (the partial's iterBase view) —
    // `(D U)+` with `U.price > D.price` binds each U to its iteration's D
    if (comps.exists(_.iterLocal))
      base.copy(iterPred = Some((e, coll, ib) =>
        e.etype.length > bit && e.etype.charAt(bit) == '1' &&
        comps.forall { c =>
          val ref = coll(c.refStep)
          val from = if (c.iterLocal && ib.nonEmpty) ib(c.refStep) else 0
          ref.size > from && cmp(e.vals(c.localIdx), c.op, ref(from).vals(c.refIdx))
        }))
    else base
  }

  private def classifySteps(steps: Seq[PatternStep]): NfaBuild = {
    val valReg = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val classified = classifyChain(steps, e => valReg.getOrElseUpdate(e.trim, valReg.size))
    val bits = concat(steps.zip(classified).map { case (st, (perAlt, _)) =>
      when(stepFlag(st, perAlt), lit("1")).otherwise(lit("0"))
    }: _*)
    val specSteps = steps.zipWithIndex.map { case (st, i) =>
      nfaStep(st, i, classified(i)._2)
    }
    NfaBuild(bits, valsColumn(valReg), specSteps)
  }

  // ---- parsing

  /** Parse the pattern body `[EVERY] (elem -> elem …)`; returns the step
    * chains (one per AND-ordering variant), the EVERY flag, and absent
    * (`NOT … [FOR d]`) elements anchored to their preceding step.
    */
  def parseSteps(raw0: String): (Seq[Seq[PatternStep]], Boolean, Seq[AbsentElem]) = {
    var raw = raw0.trim
    val every = raw.toUpperCase.startsWith("EVERY ") || raw.toUpperCase.startsWith("EVERY(")
    if (every) raw = stripOuterParens(raw.substring(5).trim)
    val allElements = splitTopLevel(raw, "->").map(e => stripOuterParens(e.trim))
    if (allElements.isEmpty) throw GraftApp.SqlError("empty pattern")
    // peel off NOT elements; they guard the gap after the preceding step
    val notRe = """(?is)^NOT\s+(.+?)(?:\s+FOR\s+(\d+)\s+(\w+))?$""".r
    val absents = Seq.newBuilder[AbsentElem]
    val elements = Seq.newBuilder[String]
    var stepIdx = -1
    allElements.foreach {
      case notRe(altRaw, forN, forUnit) =>
        if (stepIdx < 0)
          throw GraftApp.SqlError("pattern cannot start with NOT (no anchoring step)")
        val forUs = Option(forN).map { n =>
          parseWithin(n, forUnit)._1.getOrElse(
            throw GraftApp.SqlError("NOT … FOR needs a time unit"))
        }
        val (alt, quant, rel) = parseAlt(altRaw)
        if (quant != (1, 1) || rel)
          throw GraftApp.SqlError("count quantifiers on NOT elements are not supported")
        absents += AbsentElem(stepIdx, alt, forUs)
      case el =>
        if (splitTopLevelWord(el, "AND").size > 1 && absents.result().nonEmpty)
          throw GraftApp.SqlError("AND elements cannot be combined with NOT guards")
        stepIdx += 1
        elements += el
    }
    val absentElems = absents.result()
    if (absentElems.nonEmpty && elements.result().exists(e => splitTopLevelWord(e, "AND").size > 1))
      throw GraftApp.SqlError("AND elements cannot be combined with NOT guards")
    // each element → one or more step-sequence options (AND arrival
    // orderings, min=0 presence/absence)
    val perElement: Seq[Seq[Seq[PatternStep]]] = elements.result().map { el =>
      val orParts = splitTopLevelWord(el, "OR")
      val andParts = splitTopLevelWord(el, "AND")
      if (orParts.size > 1 && andParts.size > 1)
        throw GraftApp.SqlError(s"mixed OR/AND in one pattern element '$el'; parenthesize")
      if (orParts.size > 1) {
        val alts = orParts.map(parseAlt)
        if (alts.exists(a => a._2 != (1, 1) || a._3))
          throw GraftApp.SqlError("count quantifiers on OR alternatives are not supported")
        Seq(Seq(PatternStep(alts.map(_._1))))
      } else if (andParts.size > 1) {
        // n-ary AND over operands that may themselves be `->` sub-chains
        // (patterns.rs:611 `(e1=A -> e2=B) AND e3=C`, :1228 three-way AND
        // — both `#[ignore]`d in the reference): a match = every operand's
        // chain completes, events interleaved any way that preserves each
        // chain's internal order (LogicalPreStateProcessor enumerates
        // arrival orders). One NFA variant per interleaving; a concrete
        // event set arrives in exactly ONE order, so it matches exactly
        // one variant — the variant union counts each match once.
        val chains: Seq[Seq[PatternStep]] = andParts.map(parseAndOperand)
        val n = interleavingCount(chains.map(_.size))
        if (n > MaxVariants) throw GraftApp.SqlError(
          s"AND pattern '$el' expands to $n arrival-order variants " +
            s"(cap $MaxVariants) — order some operands with -> or split the query")
        interleavings(chains)
      } else GroupQuantRe.findFirstMatchIn(el.trim) match {
        case Some(gm) => expandGroup(gm, el)
        case None =>
          val (alt, (mn, mx), rel) = parseAlt(el)
          if (mn == 0)
            // zero-or-more (`A*`) / `{0,m}`: one variant WITH the step (as
            // one-or-more up to mx) and one WITHOUT — `A* -> B` ≡
            // `B OR (A+ -> B)` compiled directly; the no-step variant
            // NULL-pads the alias's refs (absentAliasRewriter)
            Seq(Seq(PatternStep(Seq(alt), 1, mx, rel)), Seq.empty)
          else Seq(Seq(PatternStep(Seq(alt), mn, mx, rel)))
      }
    }
    if (absentElems.nonEmpty && perElement.exists(_.size > 1))
      throw GraftApp.SqlError(
        "AND / zero-min elements cannot be combined with NOT guards " +
          "(guard anchors are positional; variants reorder steps)")
    val variants = perElement.foldLeft(Seq(Seq.empty[PatternStep])) { (acc, opts) =>
      for (a <- acc; o <- opts) yield a ++ o
    }
    if (variants.size > MaxVariants)
      throw GraftApp.SqlError(
        s"pattern expands to ${variants.size} step-order variants " +
          s"(cap $MaxVariants) — reduce AND / zero-min elements")
    if (variants.exists(_.isEmpty))
      throw GraftApp.SqlError(
        "pattern needs at least one required element (min >= 1) — an " +
          "all-optional pattern would match the empty stream")
    // trailing NOT must be time-bounded (absence after the final step is
    // only decidable up to a deadline); mid-chain NOT is bounded by the
    // next step's match, and MAY carry FOR to narrow the guarded gap to d
    // after the anchoring step (the reference grammar's FOR-bounded
    // mid-gap form)
    val nSteps = variants.head.size
    absentElems.foreach { a =>
      if (a.afterStep >= nSteps - 1 && a.forUs.isEmpty)
        throw GraftApp.SqlError("trailing NOT needs FOR <duration>")
    }
    (variants, every, absentElems)
  }

  /** `( sub-chain ){quant}` — GROUP repetition (ANSI pattern grouping).
    * Round 14 unifies every group quantifier — `+`, `*`, `{n}`, `{n,}`,
    * `{n,m}` — onto ONE looped chain: the members carry the loop-back
    * edge, the NFA re-enters the group's first member after each
    * completion (accumulating into the same per-member buffers), and the
    * iteration counter is gated at [minIters, maxIters]. This replaces
    * round 13's per-repetition variant expansion for the bounded forms —
    * one variant instead of k, no per-repetition alias suffixes, no
    * auto-SUBSET join-back fan-out, and no repetition cap.
    *
    * Members may carry their own quantifiers (`(A B+)+`, `(A{1,3} B)+`),
    * gated PER ITERATION via [[graft.streaming.Partial.iterBase]].
    * A member predicate referencing another member of the same group
    * binds to the CURRENT iteration's event (per-repetition binding, the
    * ANSI reading) through the iteration-anchored comparand path in
    * [[nfaStep]]. A single-member group `(A)+` normalizes to the plain
    * quantifier token `A+` — degenerate loop groups and plain quantifiers
    * are equivalent by construction, not by parallel code paths.
    *
    * One level of NESTING is supported for inner groups with an EXACT
    * count — `((A B){2} C)+` inlines the inner group as `A__1 B__1 A__2
    * B__2 C`, each `__i` a looped member of the outer group with
    * intra-inner references bound to the same inner repetition; variable
    * inner counts (`{n,m}`, `+`) stay typed errors (they would need a
    * second, nested iteration frame).
    *
    * n = 0 adds the empty option (optional group) as a second variant.
    * State: unbounded maxIters requires a WITHIN ([[requireBoundedState]]);
    * bounded groups bound their own buffers at maxIters × member max.
    */
  private val GroupQuantRe =
    """(?s)^\((.*)\)\s*(\{\s*\d+\s*(?:,\s*\d*\s*)?\}\??|\+\??|\*\??)$""".r
  private[sql] val MaxInnerReps = 4

  /** One group member after parsing/inlining: alias + per-iteration count
    * bounds; `inner*` fields carry a variable-count NESTED group's frame
    * (round 15 — exact-count inner groups inline instead and leave them
    * at defaults). */
  private final case class Member(alt: StepAlt, min: Int, max: Int,
                                  inner: Boolean = false,
                                  innerLoopBack: Int = -1,
                                  innerMin: Int = 1,
                                  innerMax: Int = Int.MaxValue,
                                  innerRel: Boolean = false)

  private def expandGroup(gm: scala.util.matching.Regex.Match,
                          el: String): Seq[Seq[PatternStep]] = {
    val q0 = gm.group(2).replaceAll("\\s", "")
    // reluctant GROUP quantifier (round 14): `(A B){1,3}?` / `(A B)+?`
    // prefers the FEWEST iterations under skip-mode parse selection —
    // every member carries the reluctant flag, so the per-position
    // lex-MIN comparison reads fewest-iterations at each looped slot
    // (exact for fixed-count members; variable members would conflate
    // iteration count with member count, so they stay typed)
    val relGroup = q0.endsWith("?")
    val q = if (relGroup) q0.dropRight(1) else q0
    val (nMin, mMax) = q match {
      case "+" => (1, Int.MaxValue)
      case "*" => (0, Int.MaxValue)
      case _ =>
        val qm0 = """\{(\d+)(?:,(\d*))?\}""".r.findFirstMatchIn(q).get
        val n = qm0.group(1).toInt
        val m = Option(qm0.group(2)) match {
          case None => n                      // {n}
          case Some("") => Int.MaxValue       // {n,}
          case Some(s) => s.toInt             // {n,m}
        }
        if (m < math.max(n, 1)) throw GraftApp.SqlError(
          s"bad group repetition {$n,${qm0.group(2)}} in '$el' (max >= min, max >= 1)")
        (n, m)
    }
    // members: plain alts, quantified alts, or ONE level of inner exact
    // groups (inlined with __i suffixes before the loop chain is built)
    val memberToks = splitTopLevel(gm.group(1), "->").map(_.trim)
    // QUANTIFIED PERMUTE (round 15): `(A=S[...] AND B=S[...]){n,m}` — one
    // LOOPED chain per ordering of the AND operands, composed through the
    // ordinary multi-variant machinery (a concrete event sequence matches
    // exactly one ordering, so the variant union counts each match once).
    // The interleaving is chosen PER MATCH and repeats across iterations:
    // a per-iteration re-permutation would need orderings^iterations
    // variants. Reluctant / zero-min forms stay typed.
    if (memberToks.size == 1 && splitTopLevelWord(memberToks.head, "AND").size > 1) {
      if (relGroup) throw GraftApp.SqlError(
        s"reluctant quantified PERMUTE in '$el' is not supported — drop " +
          "the trailing '?'")
      if (nMin == 0) throw GraftApp.SqlError(
        s"zero-min quantifier on the PERMUTE element in '$el' is not " +
          "supported — use {1,m} or alternation")
      val ops = splitTopLevelWord(memberToks.head, "AND").map { t =>
        val (alt, q2, rel2) = parseAlt(t.trim)
        if (q2 != ((1, 1)) || rel2) throw GraftApp.SqlError(
          s"PERMUTE operand '${alt.alias}' under a group quantifier takes " +
            "no quantifier of its own")
        alt
      }
      // round 16: 4 operands = 24 looped-chain variants — exactly the
      // shared-NFA MaxVariants budget (one pass folds all orderings, the
      // same machinery as the unquantified 4-way AND element); 5 operands
      // would need 120
      if (ops.size > 4) throw GraftApp.SqlError(
        s"quantified PERMUTE over ${ops.size} operands expands to " +
          s"${(1 to ops.size).product} ordering variants — cap 4 operands " +
          s"(shared-NFA budget $MaxVariants)")
      return ops.permutations.toSeq.map { ord =>
        ord.zipWithIndex.map { case (alt, i) =>
          PatternStep(Seq(alt), 1, 1, looped = true,
            loopBack = if (i == ord.size - 1) ord.size - 1 else -1,
            minIters = math.max(nMin, 1), maxIters = mMax)
        }
      }
    }
    val members: Seq[Member] = memberToks.flatMap { tok =>
      GroupQuantRe.findFirstMatchIn(tok) match {
        case Some(igm) => expandInnerGroup(igm, tok, el)
        case None =>
          val (alt, (mn, mx), rel) = parseAlt(tok)
          if (rel) throw GraftApp.SqlError(
            s"reluctant quantifier on group member '${alt.alias}' in '$el' " +
              "is not supported — reluctance is resolved at the group level")
          if (mn == 0) throw GraftApp.SqlError(
            s"zero-min quantifier on group member '${alt.alias}' in '$el' " +
              "is not supported — split the optional member into " +
              "alternative patterns or use {1,m}")
          Seq(Member(alt, mn, mx))
      }
    }
    val aliases = members.map(_.alt.alias)
    aliases.groupBy(identity).collectFirst { case (a, as) if as.size > 1 => a }
      .foreach(a => throw GraftApp.SqlError(
        s"duplicate member alias '$a' in group '$el'"))
    // zero-min inner groups need a TAIL member after them: the NFA's
    // zero-iteration fork stands at the tail's first step — a trailing
    // zero-min inner group would leave the outer iteration with no
    // required member to fork to
    members.lastOption.filter(m => m.inner && m.innerMin == 0).foreach(_ =>
      throw GraftApp.SqlError(
        s"zero-min inner group at the END of '$el' is not supported — the " +
          "outer iteration needs a required member after it; move one " +
          "after the group or use {1,m}"))
    // reluctant OUTER group over a NESTED group (round 16): resolved by
    // the same hist-stream backtracking comparison as the reluctant inner
    // form (Cep.histPreferred with the outer direction flipped: a
    // completed parse beats one that looped again) — requires every
    // member fixed-count so record content stays parse-independent
    if (relGroup && members.exists(_.inner))
      members.find(m => m.min != m.max).foreach { m =>
        throw GraftApp.SqlError(
          s"reluctant group repetition in '$el' over a nested group with " +
            s"variable-count member '${m.alt.alias}' is not supported — " +
            "fix the member count or drop the group-level '?'")
      }
    // single plain member: (A)+ IS A+ — emit the plain quantifier step so
    // loop-group and quantifier semantics cannot drift apart (a single
    // NESTED-group member is excluded: its iteration bounds do not compose
    // into one quantifier by count arithmetic alone)
    if (members.size == 1) {
      val m = members.head
      if (m.min == 1 && m.max == 1 && !m.inner) {
        val step = PatternStep(Seq(m.alt), math.max(nMin, 1), mMax,
          reluctant = relGroup)
        return if (nMin >= 1) Seq(Seq(step))
          else Seq(Seq(step.copy(min = 1)), Seq.empty[PatternStep])
      }
      throw GraftApp.SqlError(
        s"single-member group '$el' quantifies both the member and the " +
          "group — compose the counts into one quantifier")
    }
    val chain = members.zipWithIndex.map { case (m, i) =>
      PatternStep(Seq(m.alt), min = m.min, max = m.max, looped = true,
        reluctant = relGroup,
        loopBack = if (i == members.size - 1) members.size - 1 else -1,
        minIters = math.max(nMin, 1), maxIters = mMax,
        inner = m.inner, innerLoopBack = m.innerLoopBack,
        innerMinIters = m.innerMin, innerMaxIters = m.innerMax,
        innerReluctant = m.innerRel)
    }
    if (nMin >= 1) Seq(chain) else Seq(chain, Seq.empty[PatternStep])
  }

  /** Inner group nested inside an outer group, two regimes:
    *  - EXACT count `(A B){k}`: inline k copies with `__i` alias suffixes
    *    (round 14 — references among the inner members rewrite to the SAME
    *    inner repetition's suffix); hashing and measures-union behavior
    *    unchanged.
    *  - VARIABLE count `(A B){n,m}` / `{n,}` / `+` (round 15): the inner
    *    members become real looped steps carrying their own NESTED
    *    iteration frame ([[graft.streaming.Partial.innerBase]]) — one
    *    buffer per member across ALL outer × inner iterations, so
    *    measures aggregate over them directly with no alias suffixes or
    *    auto-SUBSETs. Zero-min inner counts stay typed (an optional inner
    *    group would need an empty-variant expansion PER OUTER ITERATION).
    */
  private def expandInnerGroup(igm: scala.util.matching.Regex.Match,
                               tok: String, el: String): Seq[Member] = {
    val iq0 = igm.group(2).replaceAll("\\s", "")
    // round 16: reluctant INNER group — `(A B)+?` / `{n,m}?` prefers the
    // FEWEST inner iterations at each leave/continue choice (skip-mode
    // parse selection via the iterHist stream; Cep.histPreferred)
    val innerRel = iq0.endsWith("?") && iq0.length > 1
    val iq = if (innerRel) iq0.dropRight(1) else iq0
    val innerToks = splitTopLevel(igm.group(1), "->").map(_.trim)
    val parsedInner = innerToks.flatMap { t =>
      GroupQuantRe.findFirstMatchIn(t) match {
        // DEPTH-2 (round 16): an inner-inner group folds away without a
        // third live iteration frame — single-member groups move their
        // quantifier onto the member ((A){1,2} ≡ A{1,2}); multi-member
        // EXACT-count groups inline k suffixed copies (the round-14
        // regime one level down). Variable-count multi-member inner-inner
        // groups stay typed (third frame).
        case Some(g2) => expandInnerInner(g2, t, el)
        case None =>
          val (alt, (mn, mx), rel) = parseAlt(t)
          if (rel || mn == 0) throw GraftApp.SqlError(
            s"member '${alt.alias}' of nested group '$tok' in '$el': only " +
              "plain or {n,m}/+ quantifiers with min >= 1 are supported")
          Seq((alt, mn, mx))
      }
    }
    val innerAliases = parsedInner.map(_._1.alias)
    """^\{(\d+)\}$""".r.findFirstMatchIn(iq).map(_.group(1).toInt) match {
      case Some(k) => // exact: round-14 inlining
        if (innerRel) throw GraftApp.SqlError(
          s"reluctant marker on exact-count nested group '$tok?' in '$el' " +
            "is vacuous — a fixed iteration count leaves nothing to prefer")
        if (k < 1 || k > MaxInnerReps) throw GraftApp.SqlError(
          s"nested group count {$k} in '$el' out of range [1,$MaxInnerReps] — " +
            "each inner repetition inlines as a full member")
        (1 to k).flatMap { i =>
          parsedInner.map { case (alt, mn, mx) =>
            val pred2 = alt.pred.map { p =>
              innerAliases.foldLeft(p)((acc, a) =>
                acc.replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(a) + "\\s*\\.",
                  java.util.regex.Matcher.quoteReplacement(s"${a}__$i") + "."))
            }
            Member(StepAlt(s"${alt.alias}__$i", alt.stream, pred2), mn, mx)
          }
        }
      case None => // variable: nested iteration frame
        // zero-min inner counts (`*`, `{0,m}`) are supported since round
        // 16: the NFA derives a tail fork for the zero-iteration
        // derivation per outer iteration (Cep.zeroMinTails) — no variant
        // expansion; expandGroup checks a tail member exists
        val (inMin, inMax) = iq match {
          case "+" => (1, Int.MaxValue)
          case "*" => (0, Int.MaxValue)
          case _ =>
            val m0 = """\{(\d+),(\d*)\}""".r.findFirstMatchIn(iq).getOrElse(
              throw GraftApp.SqlError(
                s"bad nested group quantifier '$iq' on '$tok' in '$el'"))
            val n = m0.group(1).toInt
            val m = if (m0.group(2).isEmpty) Int.MaxValue else m0.group(2).toInt
            if (m < math.max(n, 1)) throw GraftApp.SqlError(
              s"bad nested repetition {$n,${m0.group(2)}} on '$tok' in '$el' (max >= min, max >= 1)")
            (n, m)
        }
        // reluctant zero-min composes: the hist-stream rules cover the
        // skip-inner choice too (an outer record where the other parse has
        // an inner record = skipped, preferred under the inner '?') —
        // pinned by the direction-matrix property test with inMin=0
        // reluctant inner: the hist-stream preference is structural, so
        // record CONTENT must be parse-independent — every inner member
        // fixed-count (a variable member would need yet another key level)
        if (innerRel) parsedInner.find { case (_, mn, mx) => mn != mx }
          .foreach { case (alt, _, _) => throw GraftApp.SqlError(
            s"reluctant nested group '$tok?' in '$el' with variable-count " +
              s"member '${alt.alias}' is not supported — fix the member " +
              "count or drop the inner '?'") }
        parsedInner.zipWithIndex.map { case ((alt, mn, mx), i) =>
          Member(alt, mn, mx, inner = true,
            innerLoopBack = if (i == parsedInner.size - 1) parsedInner.size - 1 else -1,
            innerMin = inMin, innerMax = inMax, innerRel = innerRel)
        }
    }
  }

  /** Inner-INNER group (depth 2, round 16): folds into depth-1 member
    * tuples without a third iteration frame.
    *  - single member `(A){n,m}` / `(A)+` / `(A){k}`: the group quantifier
    *    IS the member quantifier — normalize to `A{n,m}` (a member with
    *    its own quantifier would need count composition: typed, same rule
    *    as the outer single-member case).
    *  - multi member `(A B){k}` exact: inline k copies with `__i` alias
    *    suffixes, intra-group references rebound per repetition — the
    *    round-14 inlining one level down.
    *  - multi member variable (`(A B)+` two levels deep): typed — that is
    *    the genuine third-frame case.
    */
  private def expandInnerInner(g2: scala.util.matching.Regex.Match,
                               tok: String, el: String): Seq[(StepAlt, Int, Int)] = {
    val q0 = g2.group(2).replaceAll("\\s", "")
    if (q0.endsWith("?")) throw GraftApp.SqlError(
      s"reluctant quantifier on depth-2 group '$tok' in '$el' is not " +
        "supported — reluctance is resolved at the outer group level")
    val toks = splitTopLevel(g2.group(1), "->").map(_.trim)
    toks.foreach(t => if (GroupQuantRe.findFirstMatchIn(t).isDefined)
      throw GraftApp.SqlError(
        s"group nesting deeper than two levels in '$el' is not supported"))
    val parsed = toks.map { t =>
      val (alt, (mn, mx), rel) = parseAlt(t)
      if (rel || mn == 0) throw GraftApp.SqlError(
        s"member '${alt.alias}' of depth-2 group '$tok' in '$el': only " +
          "plain or {n,m}/+ quantifiers with min >= 1 are supported")
      (alt, mn, mx)
    }
    if (parsed.size == 1) {
      val (alt, mn, mx) = parsed.head
      if (mn != 1 || mx != 1) throw GraftApp.SqlError(
        s"single-member depth-2 group '$tok' in '$el' quantifies both the " +
          "member and the group — compose the counts into one quantifier")
      val (n, m) = q0 match {
        case "+" => (1, Int.MaxValue)
        case "*" => throw GraftApp.SqlError(
          s"zero-min depth-2 group '$tok*' in '$el' is not supported — " +
            "use {1,m} or restructure")
        case _ =>
          val m0 = """^\{(\d+)(?:,(\d*))?\}$""".r.findFirstMatchIn(q0).getOrElse(
            throw GraftApp.SqlError(
              s"bad depth-2 group quantifier '$q0' on '$tok' in '$el'"))
          val n0 = m0.group(1).toInt
          val m1 = Option(m0.group(2)) match {
            case None => n0
            case Some("") => Int.MaxValue
            case Some(s) => s.toInt
          }
          if (n0 == 0) throw GraftApp.SqlError(
            s"zero-min depth-2 group '$tok' in '$el' is not supported — " +
              "use {1,m} or restructure")
          if (m1 < n0) throw GraftApp.SqlError(
            s"bad depth-2 repetition {$n0,${m0.group(2)}} on '$tok' in " +
              s"'$el' (max >= min)")
          (n0, m1)
      }
      Seq((alt, n, m))
    } else {
      val k = """^\{(\d+)\}$""".r.findFirstMatchIn(q0).map(_.group(1).toInt)
        .getOrElse(throw GraftApp.SqlError(
          s"variable-count multi-member group two levels deep in '$el' " +
            "would need a third iteration frame — only exact counts {k} " +
            "inline at depth 2"))
      if (k < 1 || k > MaxInnerReps) throw GraftApp.SqlError(
        s"depth-2 group count {$k} in '$el' out of range [1,$MaxInnerReps] — " +
          "each repetition inlines as a full member")
      val aliases = parsed.map(_._1.alias)
      (1 to k).flatMap { i =>
        parsed.map { case (alt, mn, mx) =>
          val pred2 = alt.pred.map { p =>
            aliases.foldLeft(p)((acc, a) =>
              acc.replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(a) + "\\s*\\.",
                java.util.regex.Matcher.quoteReplacement(s"${a}__$i") + "."))
          }
          (StepAlt(s"${alt.alias}__$i", alt.stream, pred2), mn, mx)
        }
      }
    }
  }

  /** `alias=Stream[pred]<n:m>` (alias, bracket, quantifier all optional;
    * `{n,m}` accepted as quantifier spelling too). UNBOUNDED forms —
    * `+` (one-or-more), `*` (zero-or-more), `{n,}` / `<n:>` (n-or-more) —
    * compile to max = Int.MaxValue; the spec assembly then REQUIRES a
    * WITHIN bound ([[requireBoundedState]]), which the NFA's branching
    * quantifier supports directly (the reference rejects `A+`/`A*`
    * outright, CountPatternTestCase `#[ignore]`s — this is the
    * WITHIN-gated beyond-parity form). ZERO-min forms (`*`, `{0,m}`,
    * `<0:m>`) compile as a presence/absence variant pair in [[parseSteps]]
    * — `A* -> B` ≡ `B OR (A+ -> B)`, compiled directly. State contract
    * (pinned by WindowPropSpec): enumerate-all-prefixes semantics hold
    * ~h²/2 in-flight partials for a horizon of h matching events — bounded
    * by WITHIN and independent of stream length, quadratic in the horizon
    * population; size WITHIN tightly, and maxPartials is the hard cap
    * that counts (and warns about) drops past it.
    */
  private def parseAlt(s: String): (StepAlt, (Int, Int), Boolean) = {
    val re = """(?s)^\s*(?:(\w+)\s*=\s*)?(\w+)\s*(?:\[(.*)\]\s*)?(?:([+*])|[<{]\s*(\d+)\s*(?:([:,])\s*(\d+)?\s*)?[>}])?\s*(\?)?\s*$""".r
    s.trim match {
      case re(alias, stream, pred, plusStar, qn, sep, qm, rel) =>
        val (mn, mx) =
          if (plusStar == "+") (1, Int.MaxValue)
          else if (plusStar == "*") (0, Int.MaxValue)
          else {
            val n = Option(qn).map(_.toInt).getOrElse(1)
            val m =
              if (qn == null) 1
              else if (sep == null) n                      // {n}
              else Option(qm).map(_.toInt).getOrElse(Int.MaxValue) // {n,m} / {n,}
            (n, m)
          }
        if (mn < 0 || mx < mn || mx < 1)
          throw GraftApp.SqlError(
            s"bad count quantifier in '$s' (min >= 0, max >= min, max >= 1)")
        // reluctant marker `?` after a quantifier (`+?`, `{n,m}?`): lex-MIN
        // parse preference under skip-mode selection. A bare trailing `?`
        // with NO quantifier is not this form — reject (the MR surface
        // spells optionality as {0,1} before reaching here).
        if (rel != null && plusStar == null && qn == null)
          throw GraftApp.SqlError(
            s"bad pattern step '$s' — a reluctant marker needs a " +
              "quantifier (+?, {n,m}?)")
        (StepAlt(Option(alias).getOrElse(stream), stream,
          Option(pred).map(_.trim).filter(_.nonEmpty)), (mn, mx), rel != null)
      case other => throw GraftApp.SqlError(s"bad pattern step '$other'")
    }
  }

  /** Hard cap on the step-order variants one pattern may expand to. All
    * variant NFAs fold inside ONE per-key pass ([[compileBatch]] /
    * [[Cep.detectMulti]]) — the cap bounds the per-key CPU of that fold
    * and the compile cost, not shuffle count (3-way AND = 6,
    * (A->B) AND C = 3, one star step ×2 — real shapes sit far below it).
    */
  private val MaxVariants = 24

  /** One AND operand: a plain step, an OR group, or a parenthesized `->`
    * sub-chain of those. Count quantifiers stay unsupported on AND
    * operands (the pre-existing two-operand rule, kept for n-ary).
    */
  private def parseAndOperand(op: String): Seq[PatternStep] =
    splitTopLevel(stripOuterParens(op.trim), "->").map { e0 =>
      val e = stripOuterParens(e0.trim)
      if (splitTopLevelWord(e, "AND").size > 1)
        throw GraftApp.SqlError(
          s"nested AND inside AND operand '${op.trim}' is not supported")
      val alts = splitTopLevelWord(e, "OR").map(parseAlt)
      if (alts.exists(a => a._2 != (1, 1) || a._3))
        throw GraftApp.SqlError("count quantifiers on AND operands are not supported")
      PatternStep(alts.map(_._1))
    }

  /** Multinomial (Σsizes; sizes…) — how many order-preserving merges the
    * chains admit — computed exactly without building them.
    */
  private def interleavingCount(sizes: Seq[Int]): Long = {
    var c = 1L; var used = 0
    sizes.foreach { s =>
      var i = 1
      while (i <= s) { used += 1; c = c * used / i; i += 1 } // C(used,i) prefix — exact
    }
    c
  }

  /** All merges of the chains that preserve each chain's internal order. */
  private def interleavings(chains: Seq[Seq[PatternStep]]): Seq[Seq[PatternStep]] = {
    val live = chains.filter(_.nonEmpty)
    if (live.isEmpty) Seq(Seq.empty)
    else live.indices.flatMap { i =>
      interleavings(live.updated(i, live(i).tail)).map(live(i).head +: _)
    }
  }

  /** Text rewriter for aliases OMITTED from a variant (the min=0 no-step
    * branch): plain/indexed refs → typed NULL, count → 0, collection aggs
    * → NULL typed exactly like the present branch's agg result — so the
    * variant union's schemas line up column-for-column. Applied to select
    * items, WHERE, and step predicates (a predicate comparing against an
    * omitted alias evaluates NULL → no match, the zero-repeat semantics).
    */
  private def absentAliasRewriter(absent: Set[String],
                                  typeOf: String => Option[String]): String => String =
    if (absent.isEmpty) identity
    else {
      val as = absent.map(java.util.regex.Pattern.quote).mkString("|")
      val aggRe = ("""(?i)\b(sum|avg|min|max)\s*\(\s*(?:""" + as + """)\s*\.\s*(\w+)\s*\)""").r
      val cntColRe = ("""(?i)\bcount\s*\(\s*(?:""" + as + """)\s*(?:\.\s*\w+\s*)?\)""").r
      val refRe = ("""\b(?:""" + as + """)\s*(?:\[\s*(?:\d+|last)\s*\]\s*)?\.\s*(\w+)""").r
      def t(c: String): String = typeOf(c).getOrElse(
        throw GraftApp.SqlError(s"pattern select references unknown column '$c'"))
      text0 => {
        var text = cntColRe.replaceAllIn(text0, _ => "CAST(0 AS BIGINT)")
        text = aggRe.replaceAllIn(text, m => {
          val ty = m.group(1).toLowerCase match {
            case "avg" => "DOUBLE"
            case "sum" =>
              if (Set("TINYINT", "SMALLINT", "INT", "BIGINT")
                  .contains(t(m.group(2)).toUpperCase)) "BIGINT" else "DOUBLE"
            case _ => t(m.group(2)) // min/max keep the column type
          }
          s"CAST(NULL AS $ty)"
        })
        refRe.replaceAllIn(text, m => s"CAST(NULL AS ${t(m.group(1))})")
      }
    }

  /** Unbounded quantifiers keep an in-flight partial per possible match
    * start — decidable and bounded ONLY under a WITHIN horizon (plus the
    * kernel's maxPartials cap). Enforced at compile, like `NOT … FOR`.
    */
  private def requireBoundedState(spec: PatternSpec): Unit =
    if (spec.steps.exists(st => st.max == Int.MaxValue ||
          (st.loopBack >= 0 && st.maxIters == Int.MaxValue) ||
          (st.innerLoopBack >= 0 && st.innerMaxIters == Int.MaxValue)) &&
        spec.withinUs.isEmpty && spec.withinEvents.isEmpty)
      throw GraftApp.SqlError(
        "unbounded count quantifier ('+' / '{n,}' / a '(A B)+' loop group) " +
          "requires WITHIN <duration | n EVENTS> — in-flight pattern state " +
          "is otherwise unbounded (bounded groups '(A B){n,m}' with bounded " +
          "members bound their own buffers)")

  /** WITHIN duration/EVENTS → (micros, eventCount). */
  def parseWithin(n: String, unit: String): (Option[Long], Option[Long]) = {
    val base = n.trim.toLong
    unit.toUpperCase.stripSuffix("S") match {
      case "EVENT" => (None, Some(base))
      case "MILLISECOND" => (Some(base * 1000L), None)
      case "SECOND" => (Some(base * 1000000L), None)
      case "MINUTE" => (Some(base * 60000000L), None)
      case "HOUR" => (Some(base * 3600000000L), None)
      case "DAY" => (Some(base * 86400000000L), None)
      case other => throw GraftApp.SqlError(s"bad WITHIN unit $other")
    }
  }

  // ---- text utilities (depth-aware: parens, brackets, single quotes)

  /** Index just past the `)` closing a paren whose content starts at
    * `from`, skipping parens inside single-quoted literals; -1 when the
    * text ends first. */
  private[sql] def closeParen(s: String, from: Int): Int = {
    var depth = 1; var inQ = false; var i = from
    while (i < s.length && depth > 0) {
      val c = s.charAt(i)
      if (c == '\'') inQ = !inQ
      else if (!inQ && c == '(') depth += 1
      else if (!inQ && c == ')') depth -= 1
      i += 1
    }
    if (depth == 0) i else -1
  }

  private def stripOuterParens(s0: String): String = {
    val s = s0.trim
    // only strip if the opening paren closes at the very end
    if (s.startsWith("(") && closeParen(s, 1) == s.length)
      stripOuterParens(s.substring(1, s.length - 1))
    else s
  }

  /** Split on a symbol separator (`->`) at depth 0. */
  def splitTopLevel(s: String, sep: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var inQ = false; var i = 0; var start = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') inQ = !inQ
      else if (!inQ && (c == '(' || c == '[')) depth += 1
      else if (!inQ && (c == ')' || c == ']')) depth -= 1
      else if (!inQ && depth == 0 && s.regionMatches(i, sep, 0, sep.length)) {
        out += s.substring(start, i); start = i + sep.length; i += sep.length - 1
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Split on a keyword separator (OR/AND) at depth 0, word-bounded. */
  private[sql] def splitTopLevelWord(s: String, word: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var inQ = false; var i = 0; var start = 0
    def isW(c: Char) = c.isLetterOrDigit || c == '_'
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') inQ = !inQ
      else if (!inQ && (c == '(' || c == '[')) depth += 1
      else if (!inQ && (c == ')' || c == ']')) depth -= 1
      else if (!inQ && depth == 0 &&
          s.regionMatches(true, i, word, 0, word.length) &&
          (i == 0 || !isW(s.charAt(i - 1))) &&
          (i + word.length >= s.length || !isW(s.charAt(i + word.length)))) {
        out += s.substring(start, i); start = i + word.length; i += word.length - 1
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }
}
