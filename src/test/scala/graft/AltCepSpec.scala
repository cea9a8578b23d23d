package graft

import graft.cep.{AltCep, Cep, GroupCep}
import graft.cep.Cep.{AfterMatch, Quant, StepDef}
import graft.cep.GroupCep.{Alt, Group, Leaf, Permute}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Row-pattern ALTERNATION and PERMUTE (SQL:2016 grammar beyond Flink
  * 1.16's MATCH_RECOGNIZE scope): variant enumeration onto the linear
  * NFA, lockstep execution, global after-match skip, batch/stream
  * equivalence. */
class AltCepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def m(bits: Int*): Long = bits.foldLeft(0L)((a, b) => a | (1L << b))
  private def leaf(q: Quant = Quant.One) = Leaf(StepDef(q))

  // S (A | B) P — logical ids S=0 A=1 B=2 P=3
  private val sAltP = Seq(
    leaf(), Alt(IndexedSeq(IndexedSeq(leaf()), IndexedSeq(leaf()))), leaf())

  test("S (A|B) P NO SKIP: each branch is its own way to match") {
    val c = AltCep.compile(sAltP, after = AfterMatch.NoSkip)
    assert(c.variants.size == 2 && c.nLogical == 4)
    val got = AltCep.run(c, Seq(
      (1L, m(0)), (2L, m(1)), (3L, m(2)), (4L, m(3)))).toSet
    assert(got == Set(
      Seq(Seq(1L), Seq(2L), Seq(), Seq(4L)),   // S A P
      Seq(Seq(1L), Seq(), Seq(3L), Seq(4L)))) // S B P
  }

  test("SKIP PAST LAST ROW is global: one winner, leftmost branch preferred") {
    val c = AltCep.compile(sAltP, after = AfterMatch.SkipPastLast)
    // both branches complete on p@4 with equal start and length: the A
    // branch (earlier alternation branch) must win, and ALL variants'
    // partial state must be discarded
    val got = AltCep.run(c, Seq(
      (1L, m(0)), (2L, m(1)), (3L, m(2)), (4L, m(3)), (5L, m(3))))
    assert(got == List(Seq(Seq(1L), Seq(2L), Seq(), Seq(4L))))
  }

  test("global skip prunes the OTHER variant's runs too") {
    val c = AltCep.compile(sAltP, after = AfterMatch.SkipPastLast)
    // s@1 a@2 p@3 completes via A; the B-variant run seeded at s@1 must
    // not survive to match b@4 p@5 (its start was consumed by the match)
    val got = AltCep.run(c, Seq(
      (1L, m(0)), (2L, m(1)), (3L, m(3)), (4L, m(2)), (5L, m(3))))
    assert(got == List(Seq(Seq(1L), Seq(2L), Seq(), Seq(3L))))
  }

  test("preferment holds ACROSS completion events: (A B | A) emits A B") {
    // logical ids: left-branch A=0 B=1, right-branch A=2
    val abOrA = Seq(Alt(IndexedSeq(
      IndexedSeq(leaf(), leaf()), IndexedSeq(leaf()))))
    val c = AltCep.compile(abOrA, after = AfterMatch.SkipPastLast)
    // the right branch completes one event earlier (a@1), but the left
    // branch's same-start run is still alive and its 2-step match is
    // preferred (longer, leftmost) — SQL:2016 preferment, not
    // first-completion-wins. The held right-branch match must be
    // discarded once the left branch lands.
    val got = AltCep.run(c, Seq((1L, m(0) | m(2)), (2L, m(1))))
    assert(got == List(Seq(Seq(1L), Seq(2L), Seq())))
    // when the left branch can no longer complete (no B ever arrives),
    // the held right-branch match flushes at end of input
    val fallback = AltCep.run(c, Seq((1L, m(0) | m(2))))
    assert(fallback == List(Seq(Seq(), Seq(), Seq(1L))))
    // and non-overlapping matches keep emitting after a preferment win
    val two = AltCep.run(c, Seq(
      (1L, m(0) | m(2)), (2L, m(1)), (3L, m(0) | m(2)), (4L, m(1))))
    assert(two == List(
      Seq(Seq(1L), Seq(2L), Seq()), Seq(Seq(3L), Seq(4L), Seq())))
  }

  test("(A | A B): longer right-branch match wins per documented preferment") {
    val aOrAb = Seq(Alt(IndexedSeq(
      IndexedSeq(leaf()), IndexedSeq(leaf(), leaf()))))
    val c = AltCep.compile(aOrAb, after = AfterMatch.SkipPastLast)
    // preferment is (earliest start, LONGEST, then leftmost): the right
    // branch's A B beats the left branch's A despite branch order
    val got = AltCep.run(c, Seq((1L, m(0) | m(1)), (2L, m(2))))
    assert(got == List(Seq(Seq(), Seq(1L), Seq(2L))))
  }

  test("PERMUTE(A,B): operands share logical ids across orderings") {
    val c = AltCep.compile(Seq(Permute.of(leaf(), leaf())),
      after = AfterMatch.NoSkip)
    assert(c.variants.size == 2 && c.nLogical == 2)
    val ab = AltCep.run(c, Seq((1L, m(0)), (2L, m(1))))
    assert(ab == List(Seq(Seq(1L), Seq(2L))))
    val ba = AltCep.run(c, Seq((1L, m(1)), (2L, m(0))))
    assert(ba == List(Seq(Seq(2L), Seq(1L)))) // A bound later, same column
    val aba = AltCep.run(c, Seq((1L, m(0)), (2L, m(1)), (3L, m(0)))).toSet
    assert(aba == Set(
      Seq(Seq(1L), Seq(2L)),   // A@1 B@2
      Seq(Seq(3L), Seq(2L)))) // B@2 A@3
  }

  test("PERMUTE(A,B,C): 6 variants, any arrival order matches") {
    val c = AltCep.compile(Seq(Permute.of(leaf(), leaf(), leaf())),
      after = AfterMatch.SkipPastLast)
    assert(c.variants.size == 6)
    val got = AltCep.run(c, Seq((1L, m(2)), (2L, m(0)), (3L, m(1))))
    assert(got == List(Seq(Seq(2L), Seq(3L), Seq(1L)))) // C@1 A@2 B@3
  }

  test("quantified branches: (A{2} | B)") {
    val c = AltCep.compile(Seq(
      Alt(IndexedSeq(IndexedSeq(leaf(Quant.Times(2))), IndexedSeq(leaf())))),
      after = AfterMatch.NoSkip)
    val viaA = AltCep.run(c, Seq((1L, m(0)), (2L, m(0))))
    assert(viaA.contains(Seq(Seq(1L, 2L), Seq())))
    val viaB = AltCep.run(c, Seq((1L, m(1))))
    assert(viaB == List(Seq(Seq(), Seq(1L))))
  }

  test("(A|B){2}: each bounded-group copy chooses independently") {
    val c = AltCep.compile(Seq(
      Group(IndexedSeq(Alt(IndexedSeq(IndexedSeq(leaf()), IndexedSeq(leaf())))), 2, 2)),
      after = AfterMatch.SkipPastLast)
    assert(c.variants.size == 4) // AA AB BA BB
    val got = AltCep.run(c, Seq((1L, m(0)), (2L, m(1))))
    assert(got == List(Seq(Seq(1L), Seq(2L)))) // A then B — mixed choice
  }

  test("lockstep NoSkip equals the union of independently-run variants") {
    val c = AltCep.compile(sAltP, after = AfterMatch.NoSkip)
    // independent ground truth: each alternation-free variant compiled
    // and run alone (shared logical ids), results unioned + deduped
    val vA = GroupCep.compileWithBases(
      Seq((leaf(), 0), (leaf(), 1), (leaf(), 3)), 4, after = AfterMatch.NoSkip)
    val vB = GroupCep.compileWithBases(
      Seq((leaf(), 0), (leaf(), 2), (leaf(), 3)), 4, after = AfterMatch.NoSkip)
    val rnd = new scala.util.Random(7)
    val events = (1L to 60L).map { t =>
      val bits = (0 to 3).filter(_ => rnd.nextDouble() < 0.35)
      (t, m(bits: _*))
    }
    val got = AltCep.run(c, events).toSet
    // each variant alone, as a one-variant matcher
    def alone(v: GroupCep.Compiled) =
      AltCep.CompiledAlt(IndexedSeq(v), v.nLogical, v.pattern.after)
    val want = (AltCep.run(alone(vA), events) ++ AltCep.run(alone(vB), events)).toSet
    assert(got == want)
  }

  test("lockstep SkipPastLast equals brute-force preferment over the NoSkip match set") {
    // ground truth: enumerate EVERY match of every variant independently
    // (NoSkip), then select greedily by the documented preferment —
    // earliest start, longest, leftmost variant — skipping past each
    // winner's last row. The incremental held-buffer engine must emit
    // exactly that selection, on randomized event streams.
    val c = AltCep.compile(sAltP, after = AfterMatch.SkipPastLast)
    val perVariant = Seq( // alternation-free variants with shared logical ids
      GroupCep.compileWithBases(
        Seq((leaf(), 0), (leaf(), 1), (leaf(), 3)), 4, after = AfterMatch.NoSkip),
      GroupCep.compileWithBases(
        Seq((leaf(), 0), (leaf(), 2), (leaf(), 3)), 4, after = AfterMatch.NoSkip))
    val rnd = new scala.util.Random(41)
    (1 to 30).foreach { trial =>
      val events = (1L to 40L).map { t =>
        val bits = (0 to 3).filter(_ => rnd.nextDouble() < 0.3)
        (t, m(bits: _*))
      }
      // every (variant, match) with its bound events, via the raw NFA
      val all = perVariant.zipWithIndex.flatMap { case (vc, v) =>
        var runs = List.empty[Cep.Run]
        val out = List.newBuilder[(Int, List[Cep.BoundEv])]
        events.foreach { case (t, mask) =>
          val (nr, done) = Cep.offer(vc.pattern, runs, t, vc.expandMask(mask))
          runs = nr
          done.foreach(b => out += ((v, b)))
        }
        out.result()
      }
      // greedy preferment selection (bound lists are newest-first)
      val selected = List.newBuilder[Seq[Seq[Long]]]
      var cur = Long.MinValue
      var remaining = all
      var go = true
      while (go) {
        val eligible = remaining.filter(_._2.last.t > cur)
        if (eligible.isEmpty) go = false
        else {
          val (v, b) = eligible.minBy { case (v, b) => (b.last.t, -b.size, v) }
          selected += c.stepTimesOf(
            b.map(ev => Cep.BoundEv(perVariant(v).fold(ev.step), ev.t, ev.tie)))
          cur = b.head.t
          remaining = eligible
        }
      }
      val got = AltCep.run(c, events)
      assert(got == selected.result(), s"trial $trial: events=$events")
    }
  }

  test("within horizon applies per match across variants") {
    val c = AltCep.compile(sAltP, within = 2L, after = AfterMatch.NoSkip)
    // s@1 expired by t=5; s@4 is in-horizon for b@5 p@6
    val got = AltCep.run(c, Seq(
      (1L, m(0)), (4L, m(0)), (5L, m(2)), (6L, m(3))))
    assert(got == List(Seq(Seq(4L), Seq(), Seq(5L), Seq(6L))))
  }

  test("SKIP TO FIRST/LAST with alternation: logical-id boundary, branch-aware") {
    // (A | B) P — logical ids A=0 B=1 P=2
    val altP = Seq(Alt(IndexedSeq(IndexedSeq(leaf()), IndexedSeq(leaf()))), leaf())
    val ev = Seq((1L, m(0)), (2L, m(1)), (3L, m(2)), (4L, m(2)))
    // SKIP TO FIRST A: the boundary is the A event (t=1), so the
    // B-variant run seeded at t=2 SURVIVES the first emission and both
    // completions at p@3 emit — where PAST LAST ROW prunes it
    val first = AltCep.run(
      AltCep.compile(altP, after = AfterMatch.SkipToFirst(Set(0))), ev)
    assert(first.toSet == Set(
      Seq(Seq(1L), Seq(), Seq(3L)), Seq(Seq(), Seq(2L), Seq(3L))), s"$first")
    val past = AltCep.run(
      AltCep.compile(altP, after = AfterMatch.SkipPastLast), ev)
    assert(past == List(Seq(Seq(1L), Seq(), Seq(3L))))
    // skip variable ABSENT from the winning branch: boundary is +inf —
    // every run is pruned and only the preferred match emits (the linear
    // executor's minOption.getOrElse(MaxValue) rule, branch-aware)
    val absent = AltCep.run(
      AltCep.compile(altP, after = AfterMatch.SkipToFirst(Set(1))), ev)
    assert(absent == List(Seq(Seq(1L), Seq(), Seq(3L))), s"$absent")
    // SKIP TO LAST P: boundary = the match end; nothing can rematch
    val last = AltCep.run(
      AltCep.compile(altP, after = AfterMatch.SkipToLast(Set(2))), ev)
    assert(last == List(Seq(Seq(1L), Seq(), Seq(3L))), s"$last")
  }

  test("compile guards: unbounded-group alternation, skip-to, variant cap") {
    val alt = Alt(IndexedSeq(IndexedSeq(leaf()), IndexedSeq(leaf())))
    assertThrows[IllegalArgumentException] { // (A|B)+ fixes the choice
      AltCep.compile(Seq(Group(IndexedSeq(alt), 1, -1)))
    }
    assertThrows[IllegalArgumentException] { // skip variable out of range
      AltCep.compile(sAltP, after = AfterMatch.SkipToFirst(Set(9)))
    }
    assertThrows[IllegalArgumentException] { // 2+4+...+2^10 variants
      AltCep.compile(Seq(Group(IndexedSeq(alt), 1, 10)))
    }
    // the cap must reject ARITHMETICALLY, before enumeration: (A|B){1,60}
    // would materialize ~2^60 variants if the guard ran on the built list
    val t0 = System.nanoTime()
    assertThrows[IllegalArgumentException] {
      AltCep.compile(Seq(Group(IndexedSeq(alt), 1, 60)))
    }
    assert((System.nanoTime() - t0) < 2e9, "variant cap enumerated before rejecting")
    // >64 logical variables across branches would wrap the 1L << i event
    // mask silently — must be a compile error, not wrong matches
    val wide = (1 to 33).map(_ =>
      IndexedSeq[GroupCep.PatNode](leaf(), leaf())) // 66 leaves, 33 variants
    assertThrows[IllegalArgumentException] {
      AltCep.compile(Seq(Alt(wide.toIndexedSeq)))
    }
  }

  test("batch executor: per-key lockstep over the secondary sort") {
    import spark.implicits._
    val c = AltCep.compile(sAltP, after = AfterMatch.SkipPastLast)
    val rows = Seq(
      (10L, 1L, m(0), 1L), (10L, 2L, m(1), 2L), (10L, 3L, m(3), 3L),
      (20L, 1L, m(0), 4L), (20L, 2L, m(2), 5L), (20L, 3L, m(3), 6L))
    val got = AltCep.matchBatch(spark,
        rows.toDF("key", "t", "mask", "tie"), c)
      .as[(Long, Seq[Seq[Long]])].collect().toSet
    assert(got == Set(
      (10L, Seq(Seq(1L), Seq(2L), Seq(), Seq(3L))),   // via A
      (20L, Seq(Seq(1L), Seq(), Seq(2L), Seq(3L)))))  // via B
  }

  test("matchBatchBound: logical step ids in the bound events") {
    import spark.implicits._
    val c = AltCep.compile(Seq(Permute.of(leaf(), leaf())),
      after = AfterMatch.SkipPastLast)
    val rows = Seq((1L, 1L, m(1), 1L), (1L, 2L, m(0), 2L))
    val got = AltCep.matchBatchBound(spark,
        rows.toDF("key", "t", "mask", "tie"), c)
      .as[(Long, Long, Seq[(Int, Long, Long)])].collect().toSeq
    // bound events are newest-first (AltCep.matchBatchBound contract);
    // B@1 is logical step 1, A@2 logical step 0 — folded per ordering
    assert(got == Seq((1L, 1L, Seq((0, 2L, 2L), (1, 1L, 1L)))))
  }

  test("SQL runStream routes alternation to the lockstep streaming NFA") {
    import graft.cep.MatchRecognize
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clause = """
      PARTITION BY k
      ORDER BY t, tie
      PATTERN (S (A | B) P)
      WITHIN 100000000
      AFTER MATCH SKIP PAST LAST ROW
      DEFINE S AS kind = 's', A AS kind = 'a', B AS kind = 'b', P AS kind = 'p'
    """
    def us(sec: Long): Long = sec * 1000000L
    val rows = Seq(
      (1L, us(1), "s", 1L), (1L, us(2), "a", 2L), (1L, us(3), "p", 3L),
      (2L, us(5), "s", 4L), (2L, us(6), "b", 5L), (2L, us(7), "p", 6L))
    val batch = MatchRecognize.run(spark,
        rows.toDF("k", "t", "kind", "tie"), clause)
      .as[(Long, Seq[Seq[Long]])].collect().toSet
    assert(batch == Set(
      (1L, Seq(Seq(us(1)), Seq(us(2)), Seq(), Seq(us(3)))),
      (2L, Seq(Seq(us(5)), Seq(), Seq(us(6)), Seq(us(7))))))
    val in = MemoryStream[(Long, Long, String, Long)]
    val out = MatchRecognize.runStream(in.toDF().toDF("k", "t", "kind", "tie"),
      clause, "10 seconds")
    val q = out.toDF("k", "m").writeStream
      .outputMode("append").format("memory").queryName("alt_mrs_out").start()
    try {
      rows.grouped(2).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      in.addData((0L, us(9999), "x", 7L)) // advance watermark to flush
      q.processAllAvailable()
      val streamed = spark.table("alt_mrs_out")
        .as[(Long, Seq[Seq[Long]])].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("q126/q127 pattern shapes: streaming SQL equals batch over a replayed stream") {
    // the StreamExecMatch role for the ORACLE-GATED grammar: the same
    // MATCH_RECOGNIZE clauses q126 (alternation, SKIP TO NEXT ROW,
    // WITHIN) and q127 (PERMUTE) run through runStream over a chunked
    // MemoryStream replay and must reproduce the batch result exactly.
    import graft.cep.MatchRecognize
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(2026)
    val kinds = Array("s", "c", "v", "p", "x")
    val rows: Seq[(Long, Long, String, Long)] = (1L to 240L).map { i =>
      (i % 8, i * 1000000L, kinds(rnd.nextInt(kinds.length)), i)
    }
    val clauses = Seq(
      // q126's shape: alternation + within + skip-to-next
      """PARTITION BY k
         ORDER BY t, tie
         PATTERN (S (C | V) P)
         WITHIN 60000000
         AFTER MATCH SKIP TO NEXT ROW
         DEFINE S AS kind = 's', C AS kind = 'c', V AS kind = 'v', P AS kind = 'p'""",
      // q127's shape: PERMUTE + within + skip-to-next
      """PARTITION BY k
         ORDER BY t, tie
         PATTERN (S PERMUTE(C, V) P)
         WITHIN 90000000
         AFTER MATCH SKIP TO NEXT ROW
         DEFINE S AS kind = 's', C AS kind = 'c', V AS kind = 'v', P AS kind = 'p'""",
      // the same alternation under SKIP PAST LAST ROW (cross-variant
      // preferment path) — within makes held-match emission prompt
      """PARTITION BY k
         ORDER BY t, tie
         PATTERN (S (C | V) P)
         WITHIN 60000000
         AFTER MATCH SKIP PAST LAST ROW
         DEFINE S AS kind = 's', C AS kind = 'c', V AS kind = 'v', P AS kind = 'p'""")
    clauses.zipWithIndex.foreach { case (clause, ci) =>
      val batch = MatchRecognize.run(spark,
          rows.toDF("k", "t", "kind", "tie"), clause)
        .as[(Long, Seq[Seq[Long]])].collect().toSet
      assert(batch.nonEmpty, s"clause $ci matched nothing — weak test data")
      val in = MemoryStream[(Long, Long, String, Long)]
      val out = MatchRecognize.runStream(
        in.toDF().toDF("k", "t", "kind", "tie"), clause, "0 seconds")
      val q = out.toDF("k", "m").writeStream
        .outputMode("append").format("memory").queryName(s"alt_e2e_$ci").start()
      try {
        rows.grouped(37).foreach { chunk =>
          in.addData(chunk); q.processAllAvailable()
        }
        in.addData((99L, 999000000000L, "x", 9999L)) // flush watermark
        q.processAllAvailable()
        val streamed = spark.table(s"alt_e2e_$ci")
          .as[(Long, Seq[Seq[Long]])].collect().toSet
        assert(streamed == batch,
          s"clause $ci: stream(${streamed.size}) != batch(${batch.size})")
      } finally q.stop()
    }
  }

  test("streaming matches batch across watermark-delayed batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // within matters for stream/batch equality: key 20 matches via the B
    // branch while the A branch's same-start run stays alive (relaxed
    // contiguity) — the held match can only emit once that run EXPIRES.
    // Batch flushes at end of key; streaming needs the within horizon to
    // retire the blocker when the watermark passes 12s+5s.
    val c = AltCep.compile(sAltP, within = 5000000L,
      after = AfterMatch.SkipPastLast)
    // key 20's event times sit past key 10's: batch 1 advances the
    // watermark to 3s, and rows at/below it would be (correctly)
    // dropped as late
    val rows = Seq(
      (10L, 1000000L, m(0), 1L), (10L, 2000000L, m(1), 2L),
      (10L, 3000000L, m(3), 3L),
      (20L, 11000000L, m(0), 4L), (20L, 12000000L, m(2), 5L),
      (20L, 13000000L, m(3), 6L))
    val in = MemoryStream[(Long, Long, Long, Long)]
    val q = AltCep.matchStream(in.toDS(), c, "0 seconds")
      .writeStream.format("memory").queryName("altcep_stream")
      .outputMode("append").start()
    try {
      in.addData(rows.take(3))
      q.processAllAvailable()
      in.addData(rows.drop(3))
      q.processAllAvailable()
      in.addData((99L, 99000000L, 0L, 9L)) // advance watermark past all rows
      q.processAllAvailable()
      val got = spark.table("altcep_stream")
        .as[(Long, Seq[Seq[Long]])].collect().toSet
      val want = AltCep.matchBatch(spark,
          rows.toDF("key", "t", "mask", "tie"), c)
        .as[(Long, Seq[Seq[Long]])].collect().toSet
      assert(got == want && want.size == 2)
    } finally q.stop()
  }
}
