package graft

import graft.cep.{AltCep, Cep}
import graft.cep.Cep.{AfterMatch, Pattern, Quant, Rep, StepDef}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class CepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def m(bits: Int*): Long = bits.foldLeft(0L)((a, b) => a | (1L << b))
  private val none = 0L

  test("linear A->B->C with relaxed contiguity") {
    val p = Pattern.linear(3, within = 100)
    val got = AltCep.run(AltCep.compile(p), Seq(1L -> m(0), 2L -> none, 3L -> m(1), 4L -> none, 5L -> m(2)))
    assert(got == List(Seq(Seq(1L), Seq(3L), Seq(5L))))
  }

  test("AFTER MATCH SKIP PAST LAST ROW: no overlapping matches") {
    val p = Pattern.linear(3, within = 100)
    val got = AltCep.run(AltCep.compile(p),
      Seq(1L -> m(0), 2L -> m(1), 3L -> m(2), 4L -> m(0), 5L -> m(1), 6L -> m(2)))
    assert(got == List(Seq(Seq(1L), Seq(2L), Seq(3L)), Seq(Seq(4L), Seq(5L), Seq(6L))))
  }

  test("within horizon prunes stale partials") {
    val p = Pattern.linear(3, within = 100)
    val got = AltCep.run(AltCep.compile(p),
      Seq(0L -> m(0), 200L -> m(1), 210L -> m(0), 220L -> m(1), 230L -> m(2)))
    assert(got == List(Seq(Seq(210L), Seq(220L), Seq(230L))))
  }

  test("multiple partial matches: later pattern-start survives expiry of the first") {
    // ADVICE round-1 scenario: A@0, A@5, B@12 with within=10 — the A@0 run
    // expires at t=12 but A@5 must still complete (Flink NFA behavior).
    val p = Pattern.linear(2, within = 10)
    val got = AltCep.run(AltCep.compile(p), Seq(0L -> m(0), 5L -> m(0), 12L -> m(1)))
    assert(got == List(Seq(Seq(5L), Seq(12L))))
  }

  test("skip-past-last emits the earliest-started of simultaneous completions") {
    val p = Pattern.linear(3, within = 100)
    val got = AltCep.run(AltCep.compile(p), Seq(1L -> m(0), 2L -> m(0), 3L -> m(1), 4L -> m(2)))
    assert(got == List(Seq(Seq(1L), Seq(3L), Seq(4L))))
  }

  test("times(2): exactly two events bind to the quantified step") {
    val p = Pattern(IndexedSeq(
      StepDef(), StepDef(Quant.Times(2)), StepDef()), within = 100,
      after = AfterMatch.NoSkip)
    val got = AltCep.run(AltCep.compile(p),
      Seq(1L -> m(0), 2L -> m(1), 3L -> m(1), 4L -> m(1), 5L -> m(2)))
    // the seed consumes clicks 2,3 (first two); click 4 is ignored by the
    // already-full step (relaxed contiguity), completes at 5
    assert(got == List(Seq(Seq(1L), Seq(2L, 3L), Seq(5L))))
  }

  test("strict contiguity (next): an intervening event kills the run") {
    val p = Pattern(IndexedSeq(StepDef(), StepDef(strict = true)), within = 100,
      after = AfterMatch.NoSkip)
    // a then immediately b -> match
    assert(AltCep.run(AltCep.compile(p), Seq(1L -> m(0), 2L -> m(1))) ==
      List(Seq(Seq(1L), Seq(2L))))
    // a, noise, b -> the noise event kills the strict wait; later a b works
    val got = AltCep.run(AltCep.compile(p),
      Seq(1L -> m(0), 2L -> none, 3L -> m(1), 6L -> m(0), 7L -> m(1)))
    assert(got == List(Seq(Seq(6L), Seq(7L))))
  }

  test("consecutive oneOrMore: a gap ends the loop, earlier prefixes survive") {
    val p = Pattern(IndexedSeq(
      StepDef(), StepDef(Quant.OneOrMore, strict = true), StepDef()),
      within = 100, after = AfterMatch.NoSkip)
    // a b1 b2 noise b3 c: the loop ends at the noise; prefixes {b1},{b1,b2}
    // had already branched and complete at c — b3 never binds
    val got = AltCep.run(AltCep.compile(p), Seq(1L -> m(0), 2L -> m(1), 3L -> m(1),
      4L -> none, 5L -> m(1), 6L -> m(2)))
    assert(got.toSet == Set(
      Seq(Seq(1L), Seq(2L), Seq(6L)),
      Seq(Seq(1L), Seq(2L, 3L), Seq(6L))))
  }

  test("times(min,max) range quantifier matches every count in the range") {
    val p = Pattern(IndexedSeq(
      StepDef(), StepDef(Quant.TimesRange(2, 3)), StepDef()), within = 100,
      after = AfterMatch.NoSkip)
    val got = AltCep.run(AltCep.compile(p),
      Seq(1L -> m(0), 2L -> m(1), 3L -> m(1), 4L -> m(1), 5L -> m(1), 6L -> m(2)))
    // branches advance at counts 2 and 3; count 4 exceeds max (never binds)
    assert(got.toSet == Set(
      Seq(Seq(1L), Seq(2L, 3L), Seq(6L)),
      Seq(Seq(1L), Seq(2L, 3L, 4L), Seq(6L))))
  }

  test("oneOrMore branches: one match per repetition count (NoSkip)") {
    val p = Pattern(IndexedSeq(
      StepDef(), StepDef(Quant.OneOrMore), StepDef()), within = 100,
      after = AfterMatch.NoSkip)
    val got = AltCep.run(AltCep.compile(p),
      Seq(1L -> m(0), 2L -> m(1), 3L -> m(1), 4L -> m(2)))
    assert(got.toSet == Set(
      Seq(Seq(1L), Seq(2L), Seq(4L)),
      Seq(Seq(1L), Seq(2L, 3L), Seq(4L))))
  }

  test("relaxed oneOrMore (Flink default): loop consumes every matching event") {
    // the AfterMatchSkipStrategy doc example: pattern a+ b, input
    // a1 a2 a3 b -> matches a1a2a3+b, a2a3+b, a3+b (no prefix matches —
    // a2 cannot be skipped by the a1-run's loop under relaxed contiguity)
    val p = Pattern(IndexedSeq(
      StepDef(Quant.OneOrMore, rep = Rep.Relaxed), StepDef()), within = 100,
      after = AfterMatch.NoSkip)
    val got = AltCep.run(AltCep.compile(p), Seq(1L -> m(0), 2L -> m(0), 3L -> m(0), 4L -> m(1)))
    assert(got.toSet == Set(
      Seq(Seq(1L, 2L, 3L), Seq(4L)),
      Seq(Seq(2L, 3L), Seq(4L)),
      Seq(Seq(3L), Seq(4L))))
  }

  test("greedy oneOrMore emits only the maximal repetition") {
    val p = Pattern(IndexedSeq(
      StepDef(), StepDef(Quant.OneOrMore, rep = Rep.Greedy), StepDef()),
      within = 100, after = AfterMatch.NoSkip)
    val got = AltCep.run(AltCep.compile(p),
      Seq(1L -> m(0), 2L -> m(1), 3L -> m(1), 4L -> m(2)))
    assert(got == List(Seq(Seq(1L), Seq(2L, 3L), Seq(4L))))
  }

  test("Subsets mode matches NON-CONTIGUOUS repetition subsets (allowCombinations)") {
    // A B+ C over A@1 B@2 B@3 B@4 C@5: true allowCombinations emits every
    // non-empty subset of {2,3,4} — including the non-contiguous {2,4}
    // that prefix-branching Combinations mode cannot produce
    val evs = Seq(1L -> m(0), 2L -> m(1), 3L -> m(1), 4L -> m(1), 5L -> m(2))
    val p = Pattern(IndexedSeq(
      StepDef(), StepDef(Quant.OneOrMore, rep = Rep.Subsets), StepDef()),
      within = 100, after = AfterMatch.NoSkip, maxRuns = 256)
    val got = AltCep.run(AltCep.compile(p), evs).toSet
    val subsets = Seq(Seq(2L), Seq(3L), Seq(4L), Seq(2L, 3L), Seq(2L, 4L),
      Seq(3L, 4L), Seq(2L, 3L, 4L))
    assert(got == subsets.map(b => Seq(Seq(1L), b, Seq(5L))).toSet, s"got $got")
    // prefix-branching Combinations on the same input: only runs that
    // consumed every matching event since their first bind, i.e. suffixes
    // of consumption — {2,4} absent
    val pc = p.copy(steps = IndexedSeq(
      StepDef(), StepDef(Quant.OneOrMore, rep = Rep.Combinations), StepDef()))
    val gotC = AltCep.run(AltCep.compile(pc), evs).toSet
    assert(!gotC.contains(Seq(Seq(1L), Seq(2L, 4L), Seq(5L))))
    assert(gotC.contains(Seq(Seq(1L), Seq(2L, 3L, 4L), Seq(5L))))
  }

  test("greedy times(m,n) emits only the maximal count; default branches all") {
    // pattern A B{1,3} C over A@1 B@2 B@3 C@4
    val evs = Seq(1L -> m(0), 2L -> m(1), 3L -> m(1), 4L -> m(2))
    val branching = Pattern(IndexedSeq(
      StepDef(), StepDef(Quant.TimesRange(1, 3)), StepDef()),
      within = 100, after = AfterMatch.NoSkip)
    assert(AltCep.run(AltCep.compile(branching), evs).toSet == Set(
      Seq(Seq(1L), Seq(2L), Seq(4L)),       // count 1 (3 skipped, relaxed)
      Seq(Seq(1L), Seq(2L, 3L), Seq(4L))))  // count 2
    val greedy = branching.copy(steps = IndexedSeq(
      StepDef(), StepDef(Quant.TimesRange(1, 3), rep = Rep.Greedy), StepDef()))
    assert(AltCep.run(AltCep.compile(greedy), evs) == List(Seq(Seq(1L), Seq(2L, 3L), Seq(4L))))
  }

  test("greedy times(m,n) parked at max still advances on the next step") {
    // B{1,2} greedy with THREE Bs: binds exactly the first two, then C
    val evs = Seq(1L -> m(0), 2L -> m(1), 3L -> m(1), 4L -> m(1), 5L -> m(2))
    val p = Pattern(IndexedSeq(
      StepDef(), StepDef(Quant.TimesRange(1, 2), rep = Rep.Greedy), StepDef()),
      within = 100, after = AfterMatch.SkipPastLast)
    assert(AltCep.run(AltCep.compile(p), evs) == List(Seq(Seq(1L), Seq(2L, 3L), Seq(5L))))
  }

  test("greedy optional binds an ambiguous event; default branches both") {
    // pattern A B? C where event@2 matches BOTH B and C, then C@3
    val evs = Seq(1L -> m(0), 2L -> m(1, 2), 3L -> m(2))
    val branching = Pattern(IndexedSeq(
      StepDef(), StepDef(Quant.Opt), StepDef()),
      within = 100, after = AfterMatch.NoSkip)
    assert(AltCep.run(AltCep.compile(branching), evs).toSet == Set(
      Seq(Seq(1L), Seq(), Seq(2L)),        // 2 read as C (B absent)
      Seq(Seq(1L), Seq(2L), Seq(3L))))     // 2 read as B, C at 3
    val greedy = branching.copy(steps = IndexedSeq(
      StepDef(), StepDef(Quant.Opt, rep = Rep.Greedy), StepDef()))
    // the ambiguous event binds to B; the ε-sibling (B-absent reading)
    // is killed, so exactly ONE maximal match remains
    assert(AltCep.run(AltCep.compile(greedy), evs) == List(Seq(Seq(1L), Seq(2L), Seq(3L))))
  }

  test("greedy optional still matches absent when the optional never fires") {
    val evs = Seq(1L -> m(0), 2L -> m(2)) // A then C, no B at all
    val p = Pattern(IndexedSeq(
      StepDef(), StepDef(Quant.Opt, rep = Rep.Greedy), StepDef()),
      within = 100, after = AfterMatch.NoSkip)
    assert(AltCep.run(AltCep.compile(p), evs) == List(Seq(Seq(1L), Seq(), Seq(2L))))
  }

  test("ambiguous event: relaxed branches both readings, greedy consumes in-loop") {
    // pattern A B+ C where event@3 matches BOTH B and C
    val evs = Seq(1L -> m(0), 2L -> m(1), 3L -> m(1, 2), 4L -> m(2))
    val relaxed = Pattern(IndexedSeq(
      StepDef(), StepDef(Quant.OneOrMore, rep = Rep.Relaxed), StepDef()),
      within = 100, after = AfterMatch.NoSkip)
    assert(AltCep.run(AltCep.compile(relaxed), evs).toSet == Set(
      Seq(Seq(1L), Seq(2L), Seq(3L)),       // 3 read as C
      Seq(Seq(1L), Seq(2L, 3L), Seq(4L)))) // 3 read as B, C at 4
    val greedy = relaxed.copy(steps = IndexedSeq(
      StepDef(), StepDef(Quant.OneOrMore, rep = Rep.Greedy), StepDef()))
    assert(AltCep.run(AltCep.compile(greedy), evs) == List(Seq(Seq(1L), Seq(2L, 3L), Seq(4L))))
  }

  test("SKIP_TO_LAST / SKIP_TO_FIRST prune by the quantified step's boundary") {
    // doc example: a+ b with SKIP_TO_LAST[a] -> a1a2a3+b and a3+b only
    val base = IndexedSeq(StepDef(Quant.OneOrMore, rep = Rep.Relaxed), StepDef())
    val evs = Seq(1L -> m(0), 2L -> m(0), 3L -> m(0), 4L -> m(1))
    val toLast = Pattern(base, within = 100, after = AfterMatch.SkipToLast(Set(0)))
    assert(AltCep.run(AltCep.compile(toLast), evs).toSet == Set(
      Seq(Seq(1L, 2L, 3L), Seq(4L)),
      Seq(Seq(3L), Seq(4L))))
    // SKIP_TO_FIRST[a]: boundary is a1 -> nothing pruned, all three emit
    val toFirst = Pattern(base, within = 100, after = AfterMatch.SkipToFirst(Set(0)))
    assert(AltCep.run(AltCep.compile(toFirst), evs).size == 3)
  }

  test("optional middle step matches with and without the optional event") {
    val p = Pattern(IndexedSeq(
      StepDef(), StepDef(Quant.Opt), StepDef()), within = 100,
      after = AfterMatch.NoSkip)
    // without the optional event
    assert(AltCep.run(AltCep.compile(p), Seq(1L -> m(0), 5L -> m(2))) ==
      List(Seq(Seq(1L), Seq(), Seq(5L))))
    // with it: BOTH the skipped and the taken path complete (NFA branches)
    val got = AltCep.run(AltCep.compile(p), Seq(1L -> m(0), 2L -> m(1), 3L -> m(2)))
    assert(got.toSet == Set(
      Seq(Seq(1L), Seq(), Seq(3L)),
      Seq(Seq(1L), Seq(2L), Seq(3L))))
  }

  test("trailing optional step: match emitted immediately, extended later") {
    val p = Pattern(IndexedSeq(StepDef(), StepDef(Quant.Opt)), within = 100,
      after = AfterMatch.NoSkip)
    val got = AltCep.run(AltCep.compile(p), Seq(1L -> m(0), 2L -> m(1)))
    assert(got.toSet == Set(Seq(Seq(1L), Seq()), Seq(Seq(1L), Seq(2L))))
  }

  test("notFollowedBy guard kills the run") {
    val p = Pattern(IndexedSeq(
      StepDef(), StepDef(negated = true), StepDef()), within = 100,
      after = AfterMatch.NoSkip)
    // A then C with no B between -> match
    assert(AltCep.run(AltCep.compile(p), Seq(1L -> m(0), 5L -> m(2))) ==
      List(Seq(Seq(1L), Seq(), Seq(5L))))
    // A, B (guard!), C -> the A@1 run dies; A@6 C@7 still matches
    val got = AltCep.run(AltCep.compile(p),
      Seq(1L -> m(0), 2L -> m(1), 3L -> m(2), 6L -> m(0), 7L -> m(2)))
    assert(got == List(Seq(Seq(6L), Seq(), Seq(7L))))
  }

  test("skip strategies differ on overlapping completions") {
    val evs = Seq(1L -> m(0), 2L -> m(0), 3L -> m(1), 4L -> m(1))
    // pattern A -> B; runs: (1,_),(2,_); B@3 completes both (NoSkip)
    val noSkip = Pattern.linear(2, 100).copy(after = AfterMatch.NoSkip)
    assert(AltCep.run(AltCep.compile(noSkip), evs).toSet == Set(
      Seq(Seq(1L), Seq(3L)), Seq(Seq(2L), Seq(3L))))
    // SkipPastLast: earliest only, all runs dropped -> B@4 matches nothing
    val spl = Pattern.linear(2, 100).copy(after = AfterMatch.SkipPastLast)
    assert(AltCep.run(AltCep.compile(spl), evs) == List(Seq(Seq(1L), Seq(3L))))
    // SkipToNext: both completions emit (different start events)
    val stn = Pattern.linear(2, 100).copy(after = AfterMatch.SkipToNext)
    assert(AltCep.run(AltCep.compile(stn), evs).toSet == Set(
      Seq(Seq(1L), Seq(3L)), Seq(Seq(2L), Seq(3L))))
  }

  test("maxRuns caps live state, keeping earliest-started runs") {
    val p = Pattern.linear(2, within = 0).copy(maxRuns = 2)
    val evs = (1L to 10L).map(t => t -> m(0)) :+ (20L -> m(1))
    // 10 seeds, capped at the 2 earliest; SkipPastLast emits the earliest
    assert(AltCep.run(AltCep.compile(p), evs) == List(Seq(Seq(1L), Seq(20L))))
  }

  test("matchBatch agrees with the in-memory matcher on a quantified pattern") {
    import spark.implicits._
    val p = Pattern(IndexedSeq(
      StepDef(), StepDef(Quant.OneOrMore), StepDef()), within = 1000,
      after = AfterMatch.NoSkip)
    val evs = Seq( // key 1: a b b c ; key 2: a c (no b -> no match)
      (1L, 10L, m(0), 1L), (1L, 20L, m(1), 2L), (1L, 30L, m(1), 3L), (1L, 40L, m(2), 4L),
      (2L, 10L, m(0), 5L), (2L, 40L, m(2), 6L))
    val got = AltCep.matchBatch(spark, evs.toDF("key", "t", "mask", "tie"), AltCep.compile(p))
      .as[(Long, Seq[Seq[Long]])].collect().toSet
    val want = AltCep.run(AltCep.compile(p), Seq(10L -> m(0), 20L -> m(1), 30L -> m(1), 40L -> m(2)))
      .map(st => (1L, st)).toSet
    assert(got == want && want.size == 2)
  }

  test("MATCH_RECOGNIZE clause compiles onto the NFA (funnel parity)") {
    import graft.cep.MatchRecognize
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, TestSpark.sf)
      .select($"user_id", $"ts_us", $"event_type", $"event_id")
    val clause = """
      PARTITION BY user_id
      ORDER BY ts_us, event_id
      PATTERN (S C+ P)
      WITHIN 604800000000
      AFTER MATCH SKIP PAST LAST ROW
      DEFINE S AS event_type = 'signup',
             C AS event_type = 'click',
             P AS event_type = 'purchase'
    """
    val got = MatchRecognize.run(spark, ev, clause)
      .as[(Long, Seq[Seq[Long]])].collect().toSet
    // the same pattern through the direct API: + is greedy per SQL default
    val direct = AltCep.matchBatch(spark,
      ev.select($"user_id".as("key"), $"ts_us".as("t"),
        expr("""CAST(CASE event_type WHEN 'signup' THEN 1 WHEN 'click' THEN 2
                WHEN 'purchase' THEN 4 ELSE 0 END AS BIGINT)""").as("mask"),
        $"event_id".as("tie")),
      AltCep.compile(Pattern(IndexedSeq(StepDef(),
        StepDef(Quant.OneOrMore, rep = Rep.Greedy), StepDef()),
        within = 604800L * 1000000L, after = AfterMatch.SkipPastLast)))
      .as[(Long, Seq[Seq[Long]])].collect().toSet
    assert(got.nonEmpty && got == direct)
  }

  test("MATCH_RECOGNIZE drives the streaming NFA with batch-equal results") {
    import graft.cep.MatchRecognize
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // t in epoch-µs: the streaming NFA derives its watermark clock from t
    val clause = """
      PARTITION BY k
      ORDER BY t, tie
      PATTERN (A B)
      WITHIN 100000000
      AFTER MATCH SKIP PAST LAST ROW
      DEFINE A AS kind = 'a', B AS kind = 'b'
    """
    def us(sec: Long): Long = sec * 1000000L
    val rows = Seq((1L, us(1), "a", 1L), (1L, us(2), "x", 2L), (1L, us(3), "b", 3L),
      (2L, us(5), "a", 4L), (2L, us(300), "b", 5L)) // key 2: beyond WITHIN
    val batch = MatchRecognize.run(spark,
      rows.toDF("k", "t", "kind", "tie"), clause)
      .as[(Long, Seq[Seq[Long]])].collect().toSet
    val in = MemoryStream[(Long, Long, String, Long)]
    val out = MatchRecognize.runStream(in.toDF().toDF("k", "t", "kind", "tie"),
      clause, "10 seconds")
    val q = out.toDF("k", "m").writeStream
      .outputMode("append").format("memory").queryName("mrs_out").start()
    rows.grouped(2).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
    in.addData((0L, us(9999), "x", 6L)) // advance watermark to flush
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("mrs_out").as[(Long, Seq[Seq[Long]])].collect().toSet
    assert(batch == Set((1L, Seq(Seq(us(1)), Seq(us(3))))) && streamed == batch)
  }

  test("MEASURES: FIRST/LAST/COUNT/MIN/MAX/SUM over bound events") {
    import graft.cep.MatchRecognize
    import spark.implicits._
    // one key; A@1(v=10), B@2(v=20), B@4(v=40), C@6(v=60): reluctant loop
    // binds both Bs, completes at C
    val rows = Seq(
      (1L, 1L, 1L, "a", 10L), (1L, 2L, 2L, "b", 20L),
      (1L, 3L, 3L, "x", 0L), (1L, 4L, 4L, "b", 40L),
      (1L, 6L, 5L, "c", 60L))
      .toDF("k", "t", "tie", "kind", "v")
    val out = MatchRecognize.runMeasures(spark, rows, """
      PARTITION BY k
      ORDER BY t, tie
      MEASURES A.v AS a_v, COUNT(B.*) AS n_b, MIN(B.v) AS min_b,
               MAX(B.v) AS max_b, SUM(B.v) AS sum_b, FIRST(B.v) AS first_b,
               LAST(B.v) AS last_b, LAST(C.t) AS c_t
      ONE ROW PER MATCH
      PATTERN (A B+? C)
      AFTER MATCH SKIP TO NEXT ROW
      DEFINE A AS kind = 'a', B AS kind = 'b', C AS kind = 'c'
    """)
    val got = out.select("k", "a_v", "n_b", "min_b", "max_b", "sum_b",
      "first_b", "last_b", "c_t")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSet
    assert(got == Set((1L, 10L, 2L, 20L, 40L, 60L, 20L, 40L, 6L)))
  }

  test("MEASURES on an absent optional variable are NULL, not an ANSI error") {
    import graft.cep.MatchRecognize
    import spark.implicits._
    // B? binds zero events: FIRST/LAST(B.v) must be NULL (try_element_at —
    // ANSI mode would throw on element_at of the empty array), COUNT = 0
    val rows = Seq((1L, 1L, 1L, "a", 10L), (1L, 2L, 2L, "c", 30L))
      .toDF("k", "t", "tie", "kind", "v")
    val out = MatchRecognize.runMeasures(spark, rows, """
      PARTITION BY k
      ORDER BY t, tie
      MEASURES A.v AS a_v, COUNT(B.*) AS n_b, FIRST(B.v) AS first_b,
               LAST(B.v) AS last_b
      ONE ROW PER MATCH
      PATTERN (A B? C)
      AFTER MATCH SKIP TO NEXT ROW
      DEFINE A AS kind = 'a', B AS kind = 'b', C AS kind = 'c'
    """)
    val got = out.select("k", "a_v", "n_b", "first_b", "last_b")
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().toSet
    assert(got == Set((1L, 10L, 0L, None, None)))
  }

  test("ALL ROWS PER MATCH emits one row per bound event with CLASSIFIER") {
    import graft.cep.MatchRecognize
    import spark.implicits._
    val rows = Seq(
      (1L, 1L, 1L, "a", 10L), (1L, 2L, 2L, "b", 20L),
      (1L, 3L, 3L, "x", 0L), (1L, 4L, 4L, "b", 40L),
      (1L, 6L, 5L, "c", 60L))
      .toDF("k", "t", "tie", "kind", "v")
    val out = MatchRecognize.runAllRows(spark, rows, """
      PARTITION BY k
      ORDER BY t, tie
      ALL ROWS PER MATCH
      PATTERN (A B+? C)
      AFTER MATCH SKIP TO NEXT ROW
      DEFINE A AS kind = 'a', B AS kind = 'b', C AS kind = 'c'
    """)
    val got = out.select($"match_no", $"classifier", $"t", $"v")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, "A", 1L, 10L), (1L, "B", 2L, 20L),
      (1L, "B", 4L, 40L), (1L, "C", 6L, 60L)))
  }

  test("DEFINE with top-level commas inside parens parses correctly") {
    import graft.cep.MatchRecognize
    val c = MatchRecognize.parse("""
      PARTITION BY k ORDER BY t
      PATTERN (A B)
      DEFINE A AS x IN (1, 2, 3), B AS coalesce(y, 0) > 5
    """)
    assert(c.defines("A") == "x IN (1, 2, 3)")
    assert(c.defines("B") == "coalesce(y, 0) > 5")
  }

  test("malformed DEFINE entries fail loudly, not silently") {
    import graft.cep.MatchRecognize
    // a fragment without AS (e.g. produced by a stray comma) must raise
    // the bad-DEFINE error instead of mis-parsing
    val bad = intercept[IllegalArgumentException](MatchRecognize.parse(
      "PARTITION BY k ORDER BY t PATTERN (A B) DEFINE A AS x > 1, B AS y, stray"))
    assert(bad.getMessage.contains("bad DEFINE entry"))
  }

  test("MATCH_RECOGNIZE parse errors are informative") {
    import graft.cep.MatchRecognize
    val bad = intercept[IllegalArgumentException](MatchRecognize.parse(
      "PARTITION BY k ORDER BY t PATTERN (A B) DEFINE A AS x > 1"))
    assert(bad.getMessage.contains("DEFINE"))
    val skipBad = intercept[IllegalArgumentException](MatchRecognize.parse(
      """PARTITION BY k ORDER BY t PATTERN (A B) AFTER MATCH SKIP TO FIRST Z
         DEFINE A AS x > 1, B AS x > 2"""))
    assert(skipBad.getMessage.contains("unknown pattern variable"))
  }

  test("batch and stream CEP agree on the events fixture, any batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, TestSpark.sf)
      .select($"user_id".as("key"), $"ts_us".as("t"),
        expr("""CASE event_type WHEN 'signup' THEN 0 WHEN 'click' THEN 1
                WHEN 'purchase' THEN 2 ELSE -1 END""").as("step"),
        $"event_id".as("tie"))
    val within = 604800L * 1000000L
    val batchRes = Cep.detectBatch(spark, ev, 3, within)
      .as[(Long, Seq[Long])].collect().toSet
    assert(batchRes.nonEmpty, "fixture should contain funnel matches")

    // stream the same rows in event-time order, split into 3 micro-batches;
    // the NFA reads each step as its variable bitmask (step -1 = no variable)
    val rows = ev.select($"key", $"t", expr("IF(step >= 0, shiftleft(1L, step), 0L)"),
        $"tie")
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._2, r._4))
    val in = MemoryStream[(Long, Long, Long, Long)]
    val out = AltCep.matchStream(in.toDS(), AltCep.compile(Pattern.linear(3, within)), "10 seconds")
    val q = out.toDF("key", "times").writeStream
      .outputMode("append").format("memory").queryName("cep_out").start()
    rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
      in.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    // sentinel far past the data advances the watermark so every buffered
    // row releases (event-time timeouts flush idle keys)
    in.addData((0L, rows.map(_._2).max + within + 60L * 1000000L, 0L, 0L))
    q.processAllAvailable()
    q.stop()
    // one time per step of the linear pattern, flattened like detectBatch
    val streamRes = spark.table("cep_out").as[(Long, Seq[Seq[Long]])].collect()
      .map { case (k, steps) => (k, steps.flatten) }.toSet
    assert(streamRes == batchRes)
  }

  test("stream CEP: cross-batch OUT-OF-ORDER event matches the batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val p = Pattern.linear(3, 0L) // A -> B -> C
    def us(sec: Long): Long = sec * 1000000L
    // B@20 arrives a micro-batch AFTER C@40 — within the 30 s watermark
    // delay, so the buffer must reorder it ahead of C before the NFA.
    val all = Seq(
      (1L, us(10), 1L, 0L), // A@10  (batch 1)
      (1L, us(40), 4L, 1L), // C@40  (batch 1)
      (1L, us(20), 2L, 2L)) // B@20  (batch 2, out of order)
    val in = MemoryStream[(Long, Long, Long, Long)]
    val out = AltCep.matchStream(in.toDS(), AltCep.compile(p), "30 seconds")
    val q = out.toDF("key", "step_times").writeStream
      .outputMode("append").format("memory").queryName("cep_ooo").start()
    in.addData(all.take(2))
    q.processAllAvailable()
    in.addData(all.drop(2))
    q.processAllAvailable()
    in.addData((1L, us(1000), 0L, 3L)) // advance watermark to flush
    q.processAllAvailable()
    q.stop()
    val streamRes = spark.table("cep_ooo")
      .as[(Long, Seq[Seq[Long]])].collect().toSet
    val batchRes = AltCep.matchBatch(spark,
      all.toDF("key", "t", "mask", "tie"), AltCep.compile(p))
      .as[(Long, Seq[Seq[Long]])].collect().toSet
    assert(batchRes == Set((1L, Seq(Seq(us(10)), Seq(us(20)), Seq(us(40))))))
    assert(streamRes == batchRes)
  }

  test("stream CEP: a row below the watermark is dropped, not corrupting runs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val p = Pattern.linear(2, 0L) // A -> B
    def us(sec: Long): Long = sec * 1000000L
    val in = MemoryStream[(Long, Long, Long, Long)]
    val out = AltCep.matchStream(in.toDS(), AltCep.compile(p), "5 seconds")
    val q = out.toDF("key", "step_times").writeStream
      .outputMode("append").format("memory").queryName("cep_late").start()
    in.addData((1L, us(10), 1L, 0L), (1L, us(100), 0L, 1L)) // A@10; wm -> 95
    q.processAllAvailable()
    in.addData((1L, us(50), 1L, 2L)) // late A@50: dropped
    in.addData((1L, us(120), 2L, 3L)) // B@120 completes with A@10 only
    q.processAllAvailable()
    in.addData((1L, us(300), 0L, 4L)) // flush
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cep_late").as[(Long, Seq[Seq[Long]])].collect().toSet
    assert(got == Set((1L, Seq(Seq(us(10)), Seq(us(120))))))
  }

  // ---- until() stop conditions (Pattern.java until) ----
  // step bits: 0 = A (loop), 1 = B (finisher); stop bit 2 = C.

  test("until seals a relaxed oneOrMore: events after the stop never bind") {
    val p = Pattern(IndexedSeq(
      StepDef(Quant.OneOrMore, rep = Rep.Relaxed, untilBit = 2), StepDef()),
      after = AfterMatch.NoSkip)
    // A1 A2 C A3 B: loop seals at C, so A3 is skipped (run survives,
    // relaxed contiguity) and B completes with exactly {A1, A2}.
    val got = AltCep.run(AltCep.compile(p),
      Seq(1L -> m(0), 2L -> m(0), 3L -> m(2), 4L -> m(0), 5L -> m(1)))
    // every A seeds its own run (multiple partial matches): seed@A1 binds
    // {A1,A2}, seed@A2 binds {A2} — both sealed at C, so neither binds A3;
    // the A3-seeded run never saw C (its loop is open) -> {A3} B matches too
    assert(got.toSet == Set(
      Seq(Seq(1L, 2L), Seq(5L)), Seq(Seq(2L), Seq(5L)), Seq(Seq(4L), Seq(5L))))
    // control: without until, the maximal relaxed match binds A3 as well
    val p0 = Pattern(IndexedSeq(
      StepDef(Quant.OneOrMore, rep = Rep.Relaxed), StepDef()),
      after = AfterMatch.NoSkip)
    val got0 = AltCep.run(AltCep.compile(p0),
      Seq(1L -> m(0), 2L -> m(0), 3L -> m(2), 4L -> m(0), 5L -> m(1)))
    assert(got0.contains(Seq(Seq(1L, 2L, 4L), Seq(5L))))
  }

  test("until event can itself advance the sealed loop (stop + next-step)") {
    val p = Pattern(IndexedSeq(
      StepDef(Quant.OneOrMore, rep = Rep.Relaxed, untilBit = 2), StepDef()),
      after = AfterMatch.NoSkip)
    // the stop event also matches B: it seals the loop AND completes the
    // match — the stop event binds to B, never to the loop (Flink
    // contract); both the A1- and A2-seeded runs complete this way
    val got = AltCep.run(AltCep.compile(p), Seq(1L -> m(0), 2L -> m(0), 3L -> m(1, 2)))
    assert(got.toSet == Set(
      Seq(Seq(1L, 2L), Seq(3L)), Seq(Seq(2L), Seq(3L))))
  }

  test("until drops sealed eager (Combinations) loop runs; prefixes already branched") {
    val p = Pattern(IndexedSeq(
      StepDef(Quant.OneOrMore, rep = Rep.Combinations, untilBit = 2), StepDef()),
      after = AfterMatch.NoSkip)
    // A1 A2 C A3 B: prefix branches {A1} {A1 A2} {A2} advanced before C
    // survive; the parked loop runs die at C; A3 seeds a fresh open run.
    val got = AltCep.run(AltCep.compile(p),
      Seq(1L -> m(0), 2L -> m(0), 3L -> m(2), 4L -> m(0), 5L -> m(1)))
    assert(got.toSet == Set(
      Seq(Seq(1L), Seq(5L)), Seq(Seq(1L, 2L), Seq(5L)),
      Seq(Seq(2L), Seq(5L)), Seq(Seq(4L), Seq(5L))))
  }

  test("timed-out partial matches surface: order placed but never paid") {
    import spark.implicits._
    // A=placed (bit 0), B=paid (bit 1), within 10.
    // key 1: A@0 (never paid -> timeout via the A@20 event),
    //        A@20 B@25 (complete match);
    // key 2: A@5 and end-of-input (bounded +inf watermark flushes it).
    val events = Seq(
      (1L, 0L, m(0), 1L), (1L, 20L, m(0), 2L), (1L, 25L, m(1), 3L),
      (2L, 5L, m(0), 4L))
      .toDF("key", "t", "mask", "tie")
    val got = AltCep.matchBatchWithTimeouts(spark, events,
      AltCep.compile(Pattern.linear(2, within = 10)))
      .as[(Long, Boolean, Seq[Seq[Long]])].collect().toSet
    assert(got == Set(
      (1L, true, Seq(Seq(0L), Seq())),        // A@0 timed out, B never bound
      (1L, false, Seq(Seq(20L), Seq(25L))),   // the completed funnel
      (2L, true, Seq(Seq(5L), Seq()))))       // flushed at end of input
  }

  test("stream timeouts: an unpaid order times out via the cleanup timer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def us(sec: Long): Long = sec * 1000000L
    val in = MemoryStream[(Long, Long, Long, Long)]
    val out = AltCep.matchStreamWithTimeouts(in.toDS(),
      AltCep.compile(Pattern.linear(2, within = us(10))), "0 seconds")
    val q = out.toDF("key", "timed_out", "times").writeStream
      .outputMode("append").format("memory").queryName("cep_to").start()
    // key 1: A@10, never paid. key 2: A@12 B@15 completes.
    in.addData((1L, us(10), m(0), 1L), (2L, us(12), m(0), 2L), (2L, us(15), m(1), 3L))
    q.processAllAvailable()
    // traffic only on key 9 advances the watermark past 10+10: key 1's
    // cleanup timer fires and emits the timed-out partial WITHOUT key 1
    // ever seeing another event
    in.addData((9L, us(100), 0L, 4L))
    q.processAllAvailable()
    in.addData((9L, us(200), 0L, 5L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cep_to")
      .as[(Long, Boolean, Seq[Seq[Long]])].collect().toSet
    assert(got == Set(
      (2L, false, Seq(Seq(us(12)), Seq(us(15)))),
      (1L, true, Seq(Seq(us(10)), Seq()))))
  }

  test("MEASURES AVG over bound loop events") {
    import graft.cep.MatchRecognize
    import spark.implicits._
    val rows = Seq(
      (1L, 1L, 1L, "a", 10L), (1L, 2L, 2L, "b", 20L),
      (1L, 4L, 3L, "b", 40L), (1L, 6L, 4L, "c", 60L))
      .toDF("k", "t", "tie", "kind", "v")
    val out = MatchRecognize.runMeasures(spark, rows, """
      PARTITION BY k
      ORDER BY t, tie
      MEASURES AVG(B.v) AS avg_b
      ONE ROW PER MATCH
      PATTERN (A B+? C)
      AFTER MATCH SKIP TO NEXT ROW
      DEFINE A AS kind = 'a', B AS kind = 'b', C AS kind = 'c'
    """)
    val got = out.select("k", "avg_b").as[(Long, Double)].collect().toSet
    assert(got == Set((1L, 30.0)))
  }

  test("until is rejected on non-loop steps") {
    val e = intercept[IllegalArgumentException] {
      Pattern(IndexedSeq(StepDef(untilBit = 2), StepDef()))
    }
    assert(e.getMessage.contains("oneOrMore"))
    val e2 = intercept[IllegalArgumentException] {
      Pattern(IndexedSeq(
        StepDef(Quant.OneOrMore, untilBit = 0), StepDef()))
    }
    assert(e2.getMessage.contains("collide"))
  }
}
