package graft.cep

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** CEP / MATCH_RECOGNIZE-style sequence detection.
  *
  * Reference: the Flink CEP library — NFA over keyed streams
  * (flink-libraries/flink-cep .../nfa/NFA.java:86, CepOperator.java:82,
  * pattern/Pattern.java for the quantifier surface,
  * nfa/aftermatch/AfterMatchSkipStrategy.java for skip modes) and the SQL
  * MATCH_RECOGNIZE bridge (flink-table-runtime .../match/).
  *
  * Semantics implemented (each mapped from the Flink surface):
  *  - patterns of steps with quantifiers: exactly-one, `times(n)`,
  *    `oneOrMore`, `optional` — relaxed contiguity (FOLLOWED BY) between
  *    and inside steps: non-matching events are skipped;
  *  - `notFollowedBy` guards: an event matching a negated step while the
  *    run sits between its neighbors kills the run (Pattern.java
  *    notFollowedBy; negated steps cannot be first or last);
  *  - MULTIPLE simultaneous partial matches per key: every event matching
  *    the pattern head seeds a new candidate run, and quantified steps
  *    branch (consume-more vs advance), exactly like NFA.java's shared
  *    buffer of concurrent computations. Without this, A@0 A@5 B@12
  *    (within 10) would miss the (A@5,B@12) match that Flink finds;
  *  - after-match skip strategies: NO SKIP (emit everything, default of
  *    Flink's CEP library), SKIP TO NEXT (drop partials sharing the
  *    emitted match's start event), SKIP PAST LAST ROW (emit the
  *    earliest-started completed match, drop all runs);
  *  - optional `within` horizon: a run is pruned when an event arrives
  *    more than `within` past the run's first bound event (NFA window
  *    timeout).
  *
  * Events are pre-classified by the query: each row carries a bitmask of
  * the step predicates it satisfies (bit i = matches step i). This keeps
  * predicate evaluation inside Catalyst codegen — the matcher itself only
  * sees (t, mask).
  *
  * This object is the NFA only. Execution is one matcher type,
  * [[AltCep.CompiledAlt]] (a Pattern compiles to it via
  * `AltCep.compile(p)`), with one batch executor — Spark's secondary-sort
  * idiom, repartition by key + sortWithinPartitions(key, t, tie) + one
  * streaming pass per partition, so per-key history is NEVER
  * materialized on the heap and memory is O(live runs), bounded by
  * Pattern.maxRuns — and one watermark-gated streaming body holding the
  * run list in keyed group state. Keys are the distribution
  * unit exactly like Flink's keyed CEP.
  */
object Cep {

  sealed trait Quant
  object Quant {
    /** exactly one event (Flink's default step). */
    case object One extends Quant
    /** exactly n events, relaxed internal contiguity (Pattern.times(n)). */
    final case class Times(n: Int) extends Quant
    /** between min and max events inclusive (Pattern.times(from, to)):
      * a match branch advances at every count in [min, max]. */
    final case class TimesRange(min: Int, max: Int) extends Quant
    /** one or more events (Pattern.oneOrMore, un-greedy): a match is
      * emitted for every repetition count that completes downstream. */
    case object OneOrMore extends Quant
    /** zero or one event (Pattern.optional). */
    case object Opt extends Quant
  }

  /** Repetition mode of a quantified step, mirroring Flink's
    * greediness/contiguity variants (Pattern.java):
    *  - Combinations: every consume also branches an advanced run, so
    *    matches exist for every repetition PREFIX (oneOrMore:
    *    prefix-branching — see note below; times(m,n): Flink's default
    *    all-counts branching);
    *  - Relaxed (Flink's default oneOrMore): the loop consumes every
    *    matching event and advances lazily when an event matches the NEXT
    *    step; an event matching both branches both interpretations;
    *  - Greedy (greedy()): like Relaxed, but an event matching both this
    *    step and the next is consumed here only — maximal repetitions.
    *    On times(m,n) this yields the maximal count instead of all counts;
    *    on optional it binds an ambiguous event to the optional step
    *    instead of branching.
    *
    * NOTE on Combinations vs Flink's allowCombinations (NFA.java): a run
    * parked at a loop here always consumes a matching event — only
    * repetition PREFIXES branch, so non-contiguous subsets like {A1,A3}
    * that Flink's nondeterministic-relaxed mode also emits are not
    * enumerated. (Subset branching is exponential in matching events; the
    * prefix semantics is the deliberate, documented scope.) */
  sealed trait Rep
  object Rep {
    case object Combinations extends Rep
    case object Relaxed extends Rep
    case object Greedy extends Rep
    /** TRUE allowCombinations parity (NFA.java nondeterministic-relaxed):
      * a run parked at the loop branches CONSUME and SKIP on every
      * matching event, so non-contiguous repetition subsets like {A1,A3}
      * match too. Exponential in matching events by nature — bounded by
      * Pattern.maxRuns exactly as Flink's state is bounded only by its
      * own pruning. OneOrMore only. */
    case object Subsets extends Rep
  }

  /** One pattern step. `negated` marks a notFollowedBy guard (quantifier
    * must be One; cannot be the first or last step). `rep` selects the
    * OneOrMore repetition mode (ignored for other quantifiers).
    * `strict` = strict contiguity (Pattern.next / oneOrMore.consecutive):
    * a run parked at this position is KILLED by any event it does not
    * consume — no skipping of intermediate events. For a OneOrMore loop
    * this ends the loop's expansion on the first gap (already-branched
    * prefixes survive, Flink's consecutive+combinations blend).
    * `untilBit` (Pattern.java until(), oneOrMore only): index of a mask
    * bit carrying the STOP condition — when an offered event has that bit
    * set, runs parked at this loop are SEALED: they bind no further loop
    * events (the stop event itself is never bound to the loop, exactly
    * Flink's contract) but stay alive to advance on a next-step event;
    * the stop event itself may be that advancing event. Runs seeded
    * AFTER the stop event never saw it, so their loop is open — matching
    * Flink, where until is evaluated against live computations only. */
  final case class StepDef(
      quant: Quant = Quant.One, negated: Boolean = false,
      rep: Rep = Rep.Combinations, strict: Boolean = false,
      untilBit: Int = -1)

  /** AfterMatchSkipStrategy.java analogs. SkipToFirst/SkipToLast prune
    * partial matches that started before the first/last event the emitted
    * (earliest-started) match bound to any of the logical `steps` — every
    * leaf a pattern variable labels (a name repeats across alternation
    * branches). */
  sealed trait AfterMatch
  object AfterMatch {
    case object NoSkip extends AfterMatch
    case object SkipToNext extends AfterMatch
    case object SkipPastLast extends AfterMatch
    final case class SkipToFirst(steps: Set[Int]) extends AfterMatch
    final case class SkipToLast(steps: Set[Int]) extends AfterMatch
  }

  /** `skipTo`/`loopTo` are the GROUP-pattern hooks (GroupPattern.java —
    * quantifiers over a sub-pattern), wired by the GroupCep compiler:
    *  - skipTo(i) = js: a run being placed at step i may instead ε-skip to
    *    any step j in js — the ALL-OR-NOTHING skip of an optional group
    *    copy (each target is past a group's last chained copy, so
    *    repetition counts are canonical prefixes, never resumed gaps).
    *    Multiple targets arise from NESTED groups: one position can open
    *    both an optional inner group and an optional outer copy, and
    *    `place` recursion makes chained skips compose transitively;
    *  - loopTo(i) = ss: when a consume at step i completes the step, the
    *    run ALSO branches back to each start s — the NFA cycle of a
    *    oneOrMore group; every full traversal emits its own match
    *    downstream, exactly Flink's un-greedy group repetition. */
  final case class Pattern(
      steps: IndexedSeq[StepDef],
      within: Long = 0L, // max(t_last - t_first) per match; 0 = unbounded
      after: AfterMatch = AfterMatch.SkipPastLast,
      maxRuns: Int = 64,
      skipTo: Map[Int, Seq[Int]] = Map.empty,
      loopTo: Map[Int, Seq[Int]] = Map.empty,
      // expanded-step -> LOGICAL-step fold (GroupCep): SkipToFirst/Last's
      // step index is a logical id, and the boundary must consider every
      // expanded copy of that variable. null = identity (linear patterns).
      stepClass: IndexedSeq[Int] = null) {
    /** Logical id of expanded step j for skip-boundary purposes. */
    def classOf(j: Int): Int = if (stepClass == null) j else stepClass(j)
    require(steps.nonEmpty, "pattern needs at least one step")
    require(!steps.head.negated && !steps.last.negated,
      "notFollowedBy cannot be the first or last step (Flink contract)")
    require(steps.forall(s => !s.negated || s.quant == Quant.One),
      "negated steps are guards: quantifier must be One")
    require(steps.collect { case StepDef(Quant.Times(n), _, _, _, _) => n }.forall(_ >= 1),
      "times(n) needs n >= 1")
    require(steps.collect { case StepDef(Quant.TimesRange(mn, mx), _, _, _, _) => (mn, mx) }
      .forall { case (mn, mx) => mn >= 1 && mx >= mn },
      "times(min,max) needs 1 <= min <= max")
    require(steps.forall(s => s.rep match {
      case Rep.Combinations => true
      case Rep.Subsets => s.quant == Quant.OneOrMore
      case Rep.Relaxed | Rep.Greedy => s.quant match {
        case Quant.OneOrMore | Quant.TimesRange(_, _) => true
        case Quant.Times(_) => true // exact count: greedy/relaxed are no-ops
        case Quant.Opt => s.rep == Rep.Greedy
        case Quant.One => false
      }
    }), "repetition modes apply to quantified steps only (greedy optional " +
      "allowed; relaxed optional = default branching; Subsets = oneOrMore)")
    require(steps.forall(s => !s.strict || !s.negated),
      "strict contiguity cannot combine with notFollowedBy guards")
    require(steps.forall(s => !s.strict || s.rep == Rep.Combinations),
      "strict oneOrMore loops require the Combinations repetition mode")
    require(!steps.head.strict,
      "the first step cannot be strict (nothing precedes it)")
    require(steps.forall(s => s.untilBit < 0 || s.quant == Quant.OneOrMore),
      "until() stop conditions apply to oneOrMore loops only (Flink contract)")
    require(steps.forall(s => s.untilBit < 64),
      "untilBit is a mask bit index (< 64)")
    require(steps.forall(s => s.untilBit < 0 || s.untilBit >= steps.length),
      "untilBit must not collide with a step's own predicate bit")
    require(steps.length <= 64,
      s"pattern has ${steps.length} steps — the 64-bit event mask is the limit")
    val nSteps: Int = steps.length
    /** precomputed so offer()'s hot loop skips greedy-optional
      * suppression bookkeeping entirely for the common patterns */
    val hasGreedyOpt: Boolean =
      steps.exists(s => s.quant == Quant.Opt && s.rep == Rep.Greedy)
  }
  object Pattern {
    /** A -> B -> ... -> Z of n singleton steps, AFTER MATCH SKIP PAST LAST
      * ROW — the funnel shape of round 1's matcher. */
    def linear(n: Int, within: Long): Pattern =
      Pattern(IndexedSeq.fill(n)(StepDef()), within)
  }

  /** One bound event of a partial match. `tie` is the event's
    * deterministic order key, kept so MEASURES evaluation can join a
    * match's bound events back to their payload rows exactly. */
  final case class BoundEv(step: Int, t: Long, tie: Long = 0L)

  /** A live partial match: position in the pattern, events consumed at the
    * current position, active notFollowedBy guards, bound events
    * (newest-first). `closed` = an until() stop condition fired while this
    * run was parked at its loop: no further loop events bind. */
  final case class Run(pos: Int, cnt: Int, guards: Seq[Int], bound: Seq[BoundEv],
      closed: Boolean = false)

  private[cep] def startT(r: Run): Long =
    if (r.bound.isEmpty) Long.MaxValue else r.bound.last.t

  /** Position a run at pattern index `from` after a successful consume,
    * collecting notFollowedBy guards and ε-expanding Optional steps (a run
    * parked at an optional step also exists at the next position without
    * consuming). Returns (live placements, completed bound lists — the
    * position ran off the end of the pattern). */
  private def place(p: Pattern, bound: List[BoundEv], from: Int,
      inherited: List[Int]): (List[Run], List[List[BoundEv]]) = {
    var i = from
    var guards = inherited
    while (i < p.nSteps && p.steps(i).negated) { guards ::= i; i += 1 }
    if (i >= p.nSteps) (Nil, List(bound))
    else {
      val here = Run(i, 0, guards.sorted, bound)
      val (rs0, ds0) = p.steps(i).quant match {
        case Quant.Opt =>
          val (rs, ds) = place(p, bound, i + 1, guards)
          (here :: rs, ds)
        case _ => (List(here), Nil)
      }
      // group-pattern ε-skip: position i opens an OPTIONAL GROUP COPY —
      // the run also exists past the whole chained span (all-or-nothing;
      // entering the copy and abandoning it mid-way is not a placement)
      p.skipTo.get(i) match {
        case Some(js) =>
          val (rs1, ds1) = js.map(j => place(p, bound, j, guards))
            .foldLeft((List.empty[Run], List.empty[List[BoundEv]])) {
              case ((ra, da), (rb, db)) => (ra ++ rb, da ++ db)
            }
          ((rs0 ++ rs1).distinct, (ds0 ++ ds1).distinct)
        case None => (rs0, ds0)
      }
    }
  }

  /** Feed one event (time t, step-predicate bitmask) to one key's live
    * runs. Returns (surviving runs, completed matches as bound lists),
    * with the after-match skip strategy already applied. */
  private[graft] def offer(p: Pattern, runs0: List[Run], t: Long, mask: Long,
      tie: Long = 0L): (List[Run], List[List[BoundEv]]) = {
    val (nr, done, _) = offerT(p, runs0, t, mask, tie)
    (nr, done)
  }

  /** `offer` variant that also surfaces TIMED-OUT PARTIAL MATCHES — runs
    * whose within horizon expired at this event, with at least one bound
    * event (flink-cep TimedOutPartialMatchHandler.java: the "order placed
    * but never paid" side output). */
  private[graft] def offerT(p: Pattern, runs0: List[Run], t: Long, mask: Long,
      tie: Long = 0L): (List[Run], List[List[BoundEv]], List[List[BoundEv]]) = {
    // within-horizon pruning happens before the event is offered: an
    // expired run can neither consume nor complete. One partition pass;
    // the timed-out view materializes only when something actually expired.
    val (alive, timedOut) =
      if (p.within > 0) {
        val (a, expired) = runs0.partition(r => t - startT(r) <= p.within)
        (a, if (expired.isEmpty) Nil
            else expired.filter(_.bound.nonEmpty).map(_.bound.toList).distinct)
      } else (runs0, Nil)
    if (mask == 0L) // relaxed steps skip the event; strict positions die
      return (alive.filterNot(r => p.steps(r.pos).strict), Nil, timedOut)

    // notFollowedBy: the event kills runs whose active guard it matches.
    val guarded = alive.filterNot(r => r.guards.exists(g => (mask >>> g & 1L) == 1L))

    val next = List.newBuilder[Run]
    val done = List.newBuilder[List[BoundEv]]

    /** Lazy (Relaxed/Greedy) loops advance on a LATER event instead of
      * branching eagerly at every satisfying count. */
    def isLazy(step: StepDef): Boolean =
      (step.rep == Rep.Relaxed || step.rep == Rep.Greedy) &&
      (step.quant match {
        case Quant.OneOrMore | Quant.TimesRange(_, _) => true
        case _ => false
      })

    def consume(r: Run): Unit = {
      val bound2 = BoundEv(r.pos, t, tie) :: r.bound.toList
      val cnt2 = r.cnt + 1
      val step = p.steps(r.pos)
      val minMet = step.quant match {
        case Quant.Times(n) => cnt2 >= n
        case Quant.TimesRange(mn, _) => cnt2 >= mn
        case _ => true
      }
      val canMore = step.quant match {
        case Quant.Times(n) => cnt2 < n
        case Quant.TimesRange(_, mx) => cnt2 < mx
        case Quant.OneOrMore => true
        case _ => false
      }
      val lazyLoop = isLazy(step)
      if (minMet) {
        val (rs, ds) = place(p, bound2, r.pos + 1, Nil)
        // Relaxed/Greedy loops advance lazily (below), so no eager
        // advanced runs — but ε-reachable completions (pattern end /
        // trailing optionals) still emit on every satisfying consume.
        if (!lazyLoop) rs.foreach(next += _)
        ds.foreach(done += _)
        // group-pattern loop-back: completing the group's last step also
        // branches a run at the group head — the NFA cycle of a oneOrMore
        // GROUP (GroupPattern.java); each traversal count emits downstream.
        p.loopTo.get(r.pos).toSeq.flatten.foreach { start =>
          place(p, bound2, start, Nil)._1.foreach(next += _)
        }
      }
      // a lazy times(m,n) run that hit max parks FULL: it stops binding
      // loop events but stays alive to advance on a next-step event.
      if (canMore || (lazyLoop && !canMore)) next += Run(r.pos, cnt2, r.guards, bound2)
    }

    /** Lazy proceed for Relaxed/Greedy loops: place past the loop and
      * consume the current event there if it matches. */
    def advanceConsume(r: Run): Unit = {
      val (rs, _) = place(p, r.bound.toList, r.pos + 1, r.guards.toList)
      rs.foreach { q => if ((mask >>> q.pos & 1L) == 1L) consume(q) }
    }

    // Greedy OPTIONAL: when the optional step itself matches this event,
    // the event binds there — the ε-advanced sibling (same bound, later
    // position, nothing consumed yet) is KILLED, exactly as Flink's
    // single computation takes only the greedy branch. When the optional
    // step does not match, the sibling lives on (optional-absent path).
    val seeds = place(p, Nil, 0, Nil)._1
    val greedyOptSup: List[(Seq[BoundEv], Int)] =
      if (!p.hasGreedyOpt) Nil
      else (guarded ++ seeds).collect {
        case r if p.steps(r.pos).quant == Quant.Opt &&
          p.steps(r.pos).rep == Rep.Greedy &&
          ((mask >>> r.pos & 1L) == 1L) => (r.bound, r.pos)
      }
    def suppressed(r: Run): Boolean = p.hasGreedyOpt && r.cnt == 0 &&
      greedyOptSup.exists { case (b, pos) => r.pos > pos && r.bound == b }

    guarded.foreach { r =>
      val step = p.steps(r.pos)
      val full = step.quant match {
        case Quant.Times(n) => r.cnt >= n
        case Quant.TimesRange(_, mx) => r.cnt >= mx
        case _ => false
      }
      val lazyLoop = isLazy(step)
      val satisfied = step.quant match {
        case Quant.OneOrMore => r.cnt >= 1
        case Quant.TimesRange(mn, _) => r.cnt >= mn
        case _ => false
      }
      // until() stop condition: seal a run parked at its loop the moment
      // the stop bit fires; a sealed run binds no further loop events.
      val closedNow = r.closed || (step.untilBit >= 0 &&
        ((mask >>> step.untilBit & 1L) == 1L))
      if ((mask >>> r.pos & 1L) == 1L && !full && !closedNow && !suppressed(r)) {
        consume(r)
        // Relaxed: an event matching both the loop and the next step
        // branches both interpretations; Greedy consumes here only.
        if (lazyLoop && step.rep == Rep.Relaxed && satisfied) advanceConsume(r)
        // Subsets (allowCombinations): also branch the SKIP reading — the
        // run survives unchanged to consume a later event instead.
        if (step.rep == Rep.Subsets && !step.strict) next += r
      } else {
        if (lazyLoop && satisfied) advanceConsume(r)
        // relaxed contiguity: the run survives an unconsumed event;
        // strict contiguity (or a greedy-opt sibling kill): it does not.
        // A sealed eager (Combinations) loop run is DEAD weight — its
        // advanced branches were already placed on each consume — so it
        // drops; a sealed lazy run must persist to advance later.
        val deadSealed = closedNow && !lazyLoop && step.quant == Quant.OneOrMore
        if (!step.strict && !suppressed(r) && !deadSealed)
          next += (if (closedNow == r.closed) r else r.copy(closed = closedNow))
      }
    }
    // every event is offered a fresh run seeded at the pattern head —
    // the NFA start state is always active (multiple partial matches).
    seeds.foreach { seed =>
      if ((mask >>> seed.pos & 1L) == 1L && !suppressed(seed)) consume(seed)
    }

    val completed = done.result().sortBy(b => (b.last.t, -b.size))
    val surviving0 = next.result().distinct
    val surviving =
      if (surviving0.size <= p.maxRuns) surviving0
      else surviving0.sortBy(r => (startT(r), r.pos, r.cnt, -r.bound.size))
        .take(p.maxRuns)

    val (surviving2, completed2) = p.after match {
      case AfterMatch.NoSkip => (surviving, completed)
      case AfterMatch.SkipPastLast =>
        if (completed.isEmpty) (surviving, Nil)
        // emit the earliest-started (then longest) match; discard ALL runs
        else (Nil, List(completed.head))
      case AfterMatch.SkipToNext =>
        if (completed.isEmpty) (surviving, Nil)
        else {
          val starts = completed.map(_.last.t).toSet
          (surviving.filterNot(r => starts.contains(startT(r))), completed)
        }
      case AfterMatch.SkipToFirst(ids) =>
        if (completed.isEmpty) (surviving, Nil)
        else {
          // fold-aware: any expanded copy of the logical variable counts
          val boundary = completed.head.filter(b => ids(p.classOf(b.step)))
            .map(_.t).minOption.getOrElse(Long.MaxValue)
          // the found (earliest-started) match emits; everything else —
          // completed or partial — starting before the boundary is skipped
          val emitted = completed.head ::
            completed.tail.filter(_.last.t >= boundary)
          (surviving.filter(r => startT(r) >= boundary), emitted)
        }
      case AfterMatch.SkipToLast(ids) =>
        if (completed.isEmpty) (surviving, Nil)
        else {
          val boundary = completed.head.filter(b => ids(p.classOf(b.step)))
            .map(_.t).maxOption.getOrElse(Long.MaxValue)
          val emitted = completed.head ::
            completed.tail.filter(_.last.t >= boundary)
          (surviving.filter(r => startT(r) >= boundary), emitted)
        }
    }
    (surviving2, completed2, timedOut)
  }

  /** The secondary-sort prologue of the batch executor
    * ([[AltCep.matchBatch]]): cast to the (key, t, mask, tie) contract,
    * ONE hash exchange on the key, in-place partition sort — so per-key
    * history streams in exact order without ever materializing on the
    * heap. */
  private[cep] def sortedEvents(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, Long, Long, Long)] = {
    import spark.implicits._
    events
      .select(col("key").cast("long"), col("t").cast("long"),
        col("mask").cast("long"), col("tie").cast("long"))
      .repartition(col("key"))
      .sortWithinPartitions(col("key"), col("t"), col("tie"))
      .as[(Long, Long, Long, Long)]
  }

  // ---- round-1 linear surface, now running on the full NFA ----

  private def stepToMask(df: DataFrame): DataFrame =
    df.withColumn("mask",
      expr("IF(step >= 0, shiftleft(1L, CAST(step AS INT)), 0L)"))

  /** Linear funnel A -> B -> ... -> Z with AFTER MATCH SKIP PAST LAST ROW.
    * Input columns: key, t, step (index of the step this event satisfies,
    * -1 if none), tie. Output: (key, step_times: array<long>). */
  def detectBatch(
      spark: SparkSession, events: DataFrame,
      nSteps: Int, within: Long): DataFrame = {
    AltCep.matchBatch(spark, stepToMask(events),
        AltCep.compile(Pattern.linear(nSteps, within)))
      .select(col("key"), flatten(col("step_times")).as("step_times"))
  }
}
