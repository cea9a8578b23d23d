package graft.cep

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Row-pattern ALTERNATION (`A | B`) and PERMUTE — the SQL:2016
  * MATCH_RECOGNIZE grammar beyond Flink 1.16's own scope (its
  * parserImpls.ftl has no alternation production; Oracle's row-pattern
  * matching and the standard define both).
  *
  * Compilation is VARIANT ENUMERATION, which is the standard's own
  * definitional semantics: SQL:2016 19075-5 defines
  * `PERMUTE(P1, ..., Pn)` as exactly the alternation of all n!
  * permutations in lexicographic order, and an alternation matches when
  * any one branch matches, preferring earlier branches. So a pattern
  * tree containing [[GroupCep.Alt]]/[[Permute]] nodes expands into an
  * ordered list of alternation-free variants, each compiled onto the
  * existing linear NFA ([[GroupCep.compileWithBases]]) — quantifiers,
  * nested groups, strict contiguity and until() all compose for free.
  * All variants fold onto the SAME logical step ids (ids are assigned by
  * leaf position in the ORIGINAL tree; a PERMUTE operand keeps one id
  * across every permutation), so callers see one mask/step contract.
  *
  * Execution runs the variants in LOCKSTEP over each key's events: one
  * run-list per variant, every event offered to each variant's NFA with
  * per-variant `AfterMatch.NoSkip`, and the query's after-match skip
  * strategy applied GLOBALLY — a match found by one variant prunes the
  * other variants' runs too, exactly as the standard treats alternation
  * as one pattern, not independent patterns. Preference order for the
  * emitted match under SKIP PAST LAST ROW: earliest start, then longest,
  * then earliest variant (= leftmost alternation branch, the standard's
  * preferment). This order holds ACROSS completion events, not only among
  * completions landing on the same row: a completed match is HELD (not
  * emitted) while any live run could still produce a preferred match —
  * one starting strictly earlier, or one with the same start whose
  * variant's maximum match length could beat the held (length, branch)
  * key. `(A B | A)` over rows a,b therefore emits the left branch's
  * two-row match even though the right branch completes one event
  * earlier. Variants of bounded length unblock as soon as the held match
  * reaches the bound; unbounded (oneOrMore) same-start runs hold the
  * match until they die — by contiguity, `until`, or the `within`
  * horizon — so streaming patterns with unbounded quantifiers should set
  * WITHIN for prompt emission (batch flushes at end of key regardless).
  *
  * Scope: alternation inside an UNBOUNDED group (`(A | B)+`) is
  * rejected — a variant fixes the branch choice across loop traversals,
  * which would silently under-match; bounded repetition `(A | B){m,n}`
  * is supported by inlining copies (each copy chooses independently).
  * Cost: the variant count multiplies NFA state; it is capped (720 =
  * PERMUTE of 6) and each variant's expansion keeps the 64-step mask
  * bound.
  */
object AltCep {
  import Cep._
  import GroupCep._

  val MaxVariants = 720

  /** A completed-but-unemitted match awaiting cross-variant preferment
    * arbitration (SkipPastLast only; empty for the other strategies). */
  type Held = List[(Int, List[BoundEv])]

  final case class CompiledAlt(variants: IndexedSeq[Compiled], nLogical: Int,
      after: AfterMatch) {
    require(variants.nonEmpty, "alternation enumerated zero non-empty variants")
    def within: Long = variants.head.pattern.within

    /** Upper bound on a completed match's bound-event count per variant —
      * the unblock test for held matches. Long.MaxValue when a loop makes
      * the length unbounded (oneOrMore step or group loop-back). */
    private[graft] lazy val maxLens: IndexedSeq[Long] = variants.map { v =>
      val p = v.pattern
      if (p.loopTo.nonEmpty ||
          p.steps.exists(s => !s.negated && s.quant == Cep.Quant.OneOrMore))
        Long.MaxValue
      else p.steps.filterNot(_.negated).map(_.quant match {
        case Cep.Quant.Times(n) => n.toLong
        case Cep.Quant.TimesRange(_, mx) => mx.toLong
        case _ => 1L // One / Opt
      }).sum
    }

    /** Merge LOGICAL bound events to per-step sorted time arrays. */
    def stepTimesOf(bound: Seq[BoundEv]): Seq[Seq[Long]] =
      (0 until nLogical).map(i => bound.filter(_.step == i).map(_.t).sorted)

    /** Fold a per-variant bound list onto LOGICAL step ids. */
    private def foldBound(v: Int, b: List[BoundEv]): List[BoundEv] =
      b.map(ev => BoundEv(variants(v).fold(ev.step), ev.t, ev.tie))

    // bound lists are newest-first: .last = match start, .head = match end
    private def startKey(b: Seq[BoundEv]): (Long, Long) = (b.last.t, b.last.tie)
    private def runStart(r: Run): (Long, Long) =
      if (r.bound.isEmpty) (Long.MaxValue, Long.MaxValue)
      else (r.bound.last.t, r.bound.last.tie)
    private def ltK(a: (Long, Long), b: (Long, Long)): Boolean =
      a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
    private def prefKey(vb: (Int, List[BoundEv])): (Long, Long, Long, Int) = {
      val (v, b) = vb
      (b.last.t, b.last.tie, -b.size.toLong, v)
    }

    /** SkipPastLast arbitration: emit the preferred held match once no
      * live run can still beat it — a run starting strictly earlier, or a
      * same-start run whose variant's max length could improve the
      * (length, branch) key. Emission prunes every run and held match
      * whose start is at or before the winner's last row, then retries
      * (later-starting helds may now be unblocked). */
    private def drainHeld(runs0: IndexedSeq[List[Run]], held0: Held)
        : (IndexedSeq[List[Run]], Held, List[(Int, List[BoundEv])]) = {
      var rs = runs0
      var held = held0
      val out = List.newBuilder[(Int, List[BoundEv])]
      var go = true
      while (go && held.nonEmpty) {
        val best = held.minBy(prefKey)
        val bStart = startKey(best._2)
        val bSize = best._2.size.toLong
        val blocked = rs.indices.exists { u =>
          rs(u).exists { r =>
            val rk = runStart(r)
            ltK(rk, bStart) || (rk == bStart &&
              (if (u < best._1) maxLens(u) >= bSize else maxLens(u) > bSize))
          }
        }
        if (blocked) go = false
        else {
          out += best
          val end = (best._2.head.t, best._2.head.tie)
          rs = rs.map(_.filter(r => ltK(end, runStart(r))))
          held = held.filter { case (_, b) => ltK(end, startKey(b)) }
        }
      }
      (rs, held, out.result())
    }

    /** Re-arbitrate held matches after runs died OUTSIDE offerAll (the
      * streaming within-horizon expiry): no event is offered, only the
      * block test re-runs against the surviving runs. */
    private[graft] def drainAfterExpiry(runs: IndexedSeq[List[Run]], held: Held)
        : (IndexedSeq[List[Run]], Held, List[List[BoundEv]]) = {
      if (held.isEmpty) (runs, held, Nil)
      else {
        val (rs2, held2, wins) = drainHeld(runs, held)
        (rs2, held2, foldEmit(wins))
      }
    }

    /** End-of-input flush: no further events can extend a live run, so
      * arbitrate the held matches among themselves (batch key end). */
    private[graft] def flushHeld(held0: Held): List[List[BoundEv]] = {
      var held = held0
      val out = List.newBuilder[List[BoundEv]]
      while (held.nonEmpty) {
        val best = held.minBy(prefKey)
        out += foldBound(best._1, best._2)
        val end = (best._2.head.t, best._2.head.tie)
        held = held.filter { case (_, b) => ltK(end, startKey(b)) }
      }
      out.result()
    }

    /** Feed one event to every variant's run-list; returns the new
      * per-variant runs, the carried held matches, and the emitted
      * matches as LOGICAL bound-event lists (expanded steps already
      * folded, duplicates across variants removed), in preference
      * order. */
    private[graft] def offerAll(runs: IndexedSeq[List[Run]], held: Held,
        t: Long, logicalMask: Long, tie: Long = 0L)
        : (IndexedSeq[List[Run]], Held, List[List[BoundEv]]) = {
      val results = variants.indices.map { v =>
        Cep.offer(variants(v).pattern, runs(v), t,
          variants(v).expandMask(logicalMask), tie)
      }
      var newRuns = results.map(_._1)
      val completed: List[(Int, List[BoundEv])] =
        variants.indices.flatMap(v => results(v)._2.map(b => (v, b))).toList
      after match {
        case AfterMatch.NoSkip =>
          (newRuns, Nil, foldEmit(completed))
        case AfterMatch.SkipPastLast =>
          val (rs2, held2, wins) = drainHeld(newRuns, held ++ completed)
          (rs2, held2, foldEmit(wins))
        case AfterMatch.SkipToNext =>
          if (completed.isEmpty) (newRuns, Nil, Nil)
          else {
            val starts = completed.map(_._2.last.t).toSet
            newRuns = newRuns.map(_.filterNot(r => starts.contains(startT(r))))
            (newRuns, Nil, foldEmit(completed))
          }
        // SkipToFirst/SkipToLast: the skip variable is a LOGICAL id
        // (shared across branches), so the boundary is computed on the
        // FOLDED bound list of the preferred match — same boundary/prune
        // rule as the linear executor (Cep.offer), branch-aware.
        case AfterMatch.SkipToFirst(stepIdx) =>
          if (completed.isEmpty) (newRuns, Nil, Nil)
          else {
            val pref = completed.minBy(prefKey)
            val boundary = foldBound(pref._1, pref._2)
              .filter(_.step == stepIdx).map(_.t)
              .minOption.getOrElse(Long.MaxValue)
            val emitted = pref :: completed.filterNot(_ eq pref)
              .filter(_._2.last.t >= boundary)
            newRuns = newRuns.map(_.filter(r => startT(r) >= boundary))
            (newRuns, Nil, foldEmit(emitted))
          }
        case AfterMatch.SkipToLast(stepIdx) =>
          if (completed.isEmpty) (newRuns, Nil, Nil)
          else {
            val pref = completed.minBy(prefKey)
            val boundary = foldBound(pref._1, pref._2)
              .filter(_.step == stepIdx).map(_.t)
              .maxOption.getOrElse(Long.MaxValue)
            val emitted = pref :: completed.filterNot(_ eq pref)
              .filter(_._2.last.t >= boundary)
            newRuns = newRuns.map(_.filter(r => startT(r) >= boundary))
            (newRuns, Nil, foldEmit(emitted))
          }
      }
    }

    private def foldEmit(emitted: List[(Int, List[BoundEv])]): List[List[BoundEv]] =
      emitted
        .sortBy(prefKey)
        .map { case (v, b) => foldBound(v, b) }
        .distinct
  }

  private def containsAlt(n: PatNode): Boolean = n match {
    case Leaf(_) => false
    case Alt(_) | Permute(_) => true
    case Group(ch, _, _) => ch.exists(containsAlt)
  }

  /** One logical-leaf counter for the whole compiler stack — the shared
    * logical-id contract between variant enumeration here and
    * GroupCep.compileWithBases depends on both using the same count. */
  private def leafCountAll(n: PatNode): Int = GroupCep.leafCountOf(n)

  /** Variant count WITHOUT enumerating, saturating at Cap — the guard
    * must run BEFORE enumeration, or a pattern like (A|B){1,40} would
    * materialize ~2^40 variants while building the list to reject. */
  private val Cap: Long = MaxVariants.toLong + 1
  private def satMul(a: Long, b: Long): Long =
    if (a >= Cap || b >= Cap) Cap else math.min(Cap, a * b)
  private def satAdd(a: Long, b: Long): Long = math.min(Cap, a + b)
  private def countSeq(nodes: Seq[PatNode]): Long =
    nodes.foldLeft(1L)((acc, n) => satMul(acc, countNode(n)))
  private def countNode(n: PatNode): Long = n match {
    case Leaf(_) => 1L
    case g @ Group(ch, min, max) =>
      if (!containsAlt(g)) 1L
      else if (max == -1) 1L // rejected later with its own message
      else {
        val body = countSeq(ch)
        var total = 0L
        var c = min
        var term = (1 until min).foldLeft(body)((t, _) => satMul(t, body))
        if (min == 0) { total = 1L; term = body; c = 1 }
        while (c <= max && total < Cap) {
          total = satAdd(total, term)
          term = satMul(term, body)
          c += 1
        }
        total
      }
    case Alt(bs) => bs.foldLeft(0L)((acc, b) => satAdd(acc, countSeq(b)))
    case Permute(ops) =>
      val fact = (2 to ops.size).foldLeft(1L)((a, k) => satMul(a, k.toLong))
      satMul(fact, countSeq(ops))
  }

  /** All ways to cross one choice per element, preserving element order;
    * earlier choices of earlier elements come first (preference order). */
  private def cross[A](xs: Seq[Seq[Seq[A]]]): Seq[Seq[A]] =
    xs.foldLeft(Seq(Seq.empty[A])) { (acc, choices) =>
      for (a <- acc; c <- choices) yield a ++ c
    }

  /** Enumerate a node's alternation-free variants as (node, logicalBase)
    * sequences. `base` is the node's logical id base in the ORIGINAL
    * tree; all variants of one node share it. */
  private def nodeVariants(n: PatNode, base: Int): Seq[Seq[(PatNode, Int)]] =
    n match {
      case l @ Leaf(_) => Seq(Seq((l, base)))
      case g @ Group(ch, min, max) =>
        if (!containsAlt(g)) Seq(Seq((g, base)))
        else if (max == -1) throw new IllegalArgumentException(
          "alternation inside an unbounded (oneOrMore) group is not " +
            "supported — a variant would fix the branch across loop " +
            "traversals; use a bounded repetition (A | B){m,n} instead")
        else {
          // inline the copies so each repetition chooses independently
          val bodyChoices = seqVariants(ch, base)
          (min to max).flatMap(c => cross(Seq.fill(c)(bodyChoices)))
        }
      case Alt(branches) =>
        var b = base
        branches.flatMap { br =>
          val out = seqVariants(br, b)
          b += br.map(leafCountAll).sum
          out
        }
      case Permute(ops) =>
        // operands keep their ORIGINAL-order logical bases in every
        // permutation; enumeration order is lexicographic on operand
        // indices — exactly the standard's PERMUTE expansion order
        val bases = ops.scanLeft(base)((b, o) => b + leafCountAll(o)).init
        val opChoices = ops.indices.map(i => nodeVariants(ops(i), bases(i)))
        ops.indices.toIndexedSeq.permutations.toSeq.flatMap { perm =>
          cross(perm.map(i => opChoices(i)))
        }
    }

  private def seqVariants(nodes: Seq[PatNode], base: Int): Seq[Seq[(PatNode, Int)]] = {
    var b = base
    val perNode = nodes.map { n =>
      val out = nodeVariants(n, b)
      b += leafCountAll(n)
      out
    }
    cross(perNode)
  }

  /** Compile a pattern tree that may contain Alt/Permute nodes. */
  def compile(nodes: Seq[PatNode], within: Long = 0L,
      after: AfterMatch = AfterMatch.SkipPastLast,
      maxRuns: Int = 64): CompiledAlt = {
    require(nodes.nonEmpty, "pattern needs at least one node")
    val nLogical = nodes.map(leafCountAll).sum
    after match {
      // the skip variable is a LOGICAL id shared across branches (same
      // name -> same id): validated here, resolved per match via the
      // variant's fold at emission (offerAll)
      case AfterMatch.SkipToFirst(i) =>
        require(i >= 0 && i < nLogical,
          s"SKIP TO FIRST: logical step $i out of range (0 until $nLogical)")
      case AfterMatch.SkipToLast(i) =>
        require(i >= 0 && i < nLogical,
          s"SKIP TO LAST: logical step $i out of range (0 until $nLogical)")
      case _ => ()
    }
    // the event mask carries one bit per LOGICAL leaf: without this guard
    // a >64-leaf alternation would wrap `1L << i` silently and classify
    // events onto the wrong variables instead of erroring
    require(nLogical <= 64,
      s"pattern has $nLogical logical variables across branches — the " +
        "64-bit event mask is the limit")
    val bound = countSeq(nodes)
    require(bound <= MaxVariants,
      s"alternation enumerates ${if (bound >= Cap) ">" + MaxVariants else bound} " +
        s"variants — the cap is $MaxVariants (PERMUTE of 6); simplify the pattern")
    val vs = seqVariants(nodes, 0).distinct
    val nonEmpty = vs.filter(_.nonEmpty)
    require(nonEmpty.nonEmpty,
      "alternation enumerated no non-empty variants (all-optional pattern)")
    require(nonEmpty.size <= MaxVariants,
      s"alternation enumerates ${nonEmpty.size} variants — the cap is " +
        s"$MaxVariants (PERMUTE of 6); simplify the pattern")
    // per-variant NoSkip: the global skip strategy is applied across
    // variants by CompiledAlt.offerAll
    CompiledAlt(
      nonEmpty.map(v => GroupCep.compileWithBases(
        v, nLogical, within, AfterMatch.NoSkip, maxRuns)).toIndexedSeq,
      nLogical, after)
  }

  /** Drive the compiled matcher over one key's time-ordered
    * (t, logicalMask) events — the spec surface, mirroring GroupCep.run. */
  private[graft] def run(c: CompiledAlt, events: Seq[(Long, Long)])
      : List[Seq[Seq[Long]]] = {
    var runs: IndexedSeq[List[Run]] = c.variants.map(_ => List.empty[Run])
    var held: Held = Nil
    val out = List.newBuilder[Seq[Seq[Long]]]
    events.foreach { case (t, mask) =>
      val (nr, nh, done) = c.offerAll(runs, held, t, mask)
      runs = nr; held = nh
      done.foreach(b => out += c.stepTimesOf(b))
    }
    c.flushHeld(held).foreach(b => out += c.stepTimesOf(b))
    out.result()
  }

  /** Batch executor: same (key, t, mask, tie) contract as Cep.matchBatch
    * with LOGICAL masks; same secondary-sort execution (one shuffle, one
    * ordered pass, memory O(variants * maxRuns) per key). */
  def matchBatch(spark: SparkSession, events: DataFrame, c: CompiledAlt): DataFrame = {
    import spark.implicits._
    Cep.sortedEvents(spark, events)
      .mapPartitions { it =>
        var curKey = 0L
        var started = false
        var runs: IndexedSeq[List[Run]] = c.variants.map(_ => List.empty[Run])
        var held: Held = Nil
        def flushKey(): List[(Long, Seq[Seq[Long]])] = {
          val out = c.flushHeld(held).map(b => (curKey, c.stepTimesOf(b)))
          held = Nil
          out
        }
        it.flatMap { case (k, t, mask, tie) =>
          val prior = if (started && k != curKey) flushKey() else Nil
          if (!started || k != curKey) {
            runs = c.variants.map(_ => List.empty[Run]); held = Nil
            curKey = k; started = true
          }
          val (nr, nh, done) = c.offerAll(runs, held, t, mask, tie)
          runs = nr; held = nh
          prior ++ done.map(b => (k, c.stepTimesOf(b)))
        } ++ Iterator.single(()).flatMap(_ => if (started) flushKey() else Nil)
      }
      .toDF("key", "step_times")
  }

  /** Like `matchBatch` but preserving each match's bound events with
    * LOGICAL step ids — (key, match_no, bound: array<struct<step, t,
    * tie>>), the MEASURES/ALL-ROWS raw material (mirrors
    * Cep.matchBatchBound; the fold already happened). */
  def matchBatchBound(spark: SparkSession, events: DataFrame, c: CompiledAlt): DataFrame = {
    import spark.implicits._
    Cep.sortedEvents(spark, events)
      .mapPartitions { it =>
        var curKey = 0L
        var started = false
        var runs: IndexedSeq[List[Run]] = c.variants.map(_ => List.empty[Run])
        var held: Held = Nil
        var matchNo = 0L
        def emit(k: Long, b: List[BoundEv]): (Long, Long, Seq[(Int, Long, Long)]) = {
          matchNo += 1
          (k, matchNo, b.map(ev => (ev.step, ev.t, ev.tie)))
        }
        def flushKey(): List[(Long, Long, Seq[(Int, Long, Long)])] = {
          val out = c.flushHeld(held).map(b => emit(curKey, b))
          held = Nil
          out
        }
        it.flatMap { case (k, t, mask, tie) =>
          val prior = if (started && k != curKey) flushKey() else Nil
          if (!started || k != curKey) {
            runs = c.variants.map(_ => List.empty[Run]); held = Nil
            curKey = k; started = true; matchNo = 0L
          }
          val (nr, nh, done) = c.offerAll(runs, held, t, mask, tie)
          runs = nr; held = nh
          prior ++ done.map(b => emit(k, b))
        } ++ Iterator.single(()).flatMap(_ => if (started) flushKey() else Nil)
      }
      .toDF("key", "match_no", "bound")
  }

  /** Streaming executor: same watermark-gated buffer as Cep.matchStream
    * (rows wait in state until the watermark passes, then feed the
    * lockstep NFAs in exact (t, tie) order). State carries one run-list
    * per variant. */
  def matchStream(ds: Dataset[(Long, Long, Long, Long)], c: CompiledAlt,
      delay: String = "0 seconds")(
      implicit ek: Encoder[Long],
      ets: Encoder[(Long, java.sql.Timestamp, Long, Long, Long)],
      es: Encoder[(Seq[(Long, Long, Long)], Seq[List[Run]], Seq[(Int, Seq[BoundEv])])],
      eo: Encoder[(Long, Seq[Seq[Long]])]): Dataset[(Long, Seq[Seq[Long]])] = {
    val withTs = ds
      .map(r => (r._1, new java.sql.Timestamp(r._2 / 1000), r._2, r._3, r._4))
      .withWatermark("_2", delay)
    withTs.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Long, Long)],
            state: GroupState[(Seq[(Long, Long, Long)], Seq[List[Run]], Seq[(Int, Seq[BoundEv])])]) =>
          val wm = state.getCurrentWatermarkMs()
          val st = state.getOption.getOrElse(
            (Seq.empty[(Long, Long, Long)],
              c.variants.map(_ => List.empty[Run]): Seq[List[Run]],
              Seq.empty[(Int, Seq[BoundEv])]))
          val pending0 = st._1
          var runs: IndexedSeq[List[Run]] = st._2.toIndexedSeq
          var held: Held = st._3.map { case (v, b) => (v, b.toList) }.toList
          val fresh = rows.map(r => (r._3, r._4, r._5)).filter(_._1 / 1000 > wm)
          val (ready, pending) = (pending0 ++ fresh).partition(_._1 / 1000 <= wm)
          val out = List.newBuilder[(Long, Seq[Seq[Long]])]
          ready.sortBy(r => (r._1, r._3)).foreach { case (t, mask, tie) =>
            val (nr, nh, done) = c.offerAll(runs, held, t, mask, tie)
            runs = nr; held = nh
            done.foreach(b => out += ((key, c.stepTimesOf(b))))
          }
          if (c.within > 0) {
            runs = runs.map(_.filter(r => wm * 1000 - startT(r) <= c.within))
            // expiry may have removed the runs blocking a held match:
            // arbitrate again on the surviving state (no new completions)
            val (nr, nh, done) = c.drainAfterExpiry(runs, held)
            runs = nr; held = nh
            done.foreach(b => out += ((key, c.stepTimesOf(b))))
          }
          if (pending.isEmpty && runs.forall(_.isEmpty) && held.isEmpty) state.remove()
          else {
            state.update((pending, runs, held.map { case (v, b) => (v, b: Seq[BoundEv]) }))
            val dataT = pending.map(_._1 / 1000).minOption
            val live = runs.flatten
            val cleanT = if (c.within > 0 && live.nonEmpty)
              Some(live.map(startT).min / 1000 + c.within / 1000 + 1)
            else None
            (dataT.toList ++ cleanT.toList).minOption
              .foreach(t0 => state.setTimeoutTimestamp(math.max(t0, wm + 1)))
          }
          out.result().iterator
      }
  }
}
