package graft

import graft.cep.AltCep
import graft.cep.Cep.{AfterMatch, Quant, StepDef}
import graft.cep.GroupCep.{Group, Leaf, PatNode}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** GROUP patterns (GroupPattern.java): quantifiers over sub-patterns —
  * times(n) by inline expansion, oneOrMore by NFA loop-back, optional by
  * all-or-nothing ε-skip — with logical-step masks in and folded
  * step-time arrays out, batch/stream equivalent. */
class GroupCepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def m(bits: Int*): Long = bits.foldLeft(0L)((a, b) => a | (1L << b))

  /** Flat segment sugar: one step, or plain steps repeated as one group. */
  private object Seg {
    def step(s: StepDef = StepDef()): PatNode = Group(IndexedSeq(Leaf(s)))
    def times(n: Int, steps: StepDef*): PatNode = timesRange(n, n, steps: _*)
    def timesRange(m: Int, n: Int, steps: StepDef*): PatNode =
      Group(steps.map(Leaf(_)).toIndexedSeq, m, n)
    def optional(steps: StepDef*): PatNode = timesRange(0, 1, steps: _*)
    def oneOrMore(steps: StepDef*): PatNode = timesRange(1, -1, steps: _*)
  }

  test("(A B).times(2): one match binding both copies, folded to A/B") {
    val c = AltCep.compile(Seq(Seg.times(2, StepDef(), StepDef())))
    val got = AltCep.run(c, Seq(
      (1L, m(0)), (2L, m(1)), (3L, m(0)), (4L, m(1))))
    assert(got == List(Seq(Seq(1L, 3L), Seq(2L, 4L))))
    // relaxed contiguity: non-matching events between copies are skipped
    val noisy = AltCep.run(c, Seq(
      (1L, m(0)), (2L, 0L), (3L, m(1)), (4L, m(0)), (5L, m(1))))
    assert(noisy == List(Seq(Seq(1L, 4L), Seq(3L, 5L))))
  }

  test("(A B).times(1,2) NO SKIP: a match per repetition count") {
    val c = AltCep.compile(
      Seq(Seg.timesRange(1, 2, StepDef(), StepDef())), after = AfterMatch.NoSkip)
    val got = AltCep.run(c, Seq(
      (1L, m(0)), (2L, m(1)), (3L, m(0)), (4L, m(1)))).toSet
    assert(got == Set(
      Seq(Seq(1L), Seq(2L)),             // count 1 from a@1
      Seq(Seq(1L, 3L), Seq(2L, 4L)),     // count 2 from a@1
      Seq(Seq(3L), Seq(4L))))            // count 1 from a@3
  }

  test("(A B).oneOrMore C: un-greedy — every repetition count emits") {
    val c = AltCep.compile(
      Seq(Seg.oneOrMore(StepDef(), StepDef()), Seg.step()),
      after = AfterMatch.NoSkip)
    assert(c.variants.head.pattern.loopTo == Map(1 -> Seq(0)))
    val got = AltCep.run(c, Seq(
      (1L, m(0)), (2L, m(1)), (3L, m(0)), (4L, m(1)), (5L, m(2)))).toSet
    assert(got == Set(
      Seq(Seq(1L), Seq(2L), Seq(5L)),
      Seq(Seq(1L, 3L), Seq(2L, 4L), Seq(5L)),
      Seq(Seq(3L), Seq(4L), Seq(5L))))
  }

  test("(A B).optional C: present and absent group both match") {
    val c = AltCep.compile(
      Seq(Seg.optional(StepDef(), StepDef()), Seg.step()),
      after = AfterMatch.NoSkip)
    val absent = AltCep.run(c, Seq((1L, m(2))))
    assert(absent == List(Seq(Seq(), Seq(), Seq(1L))))
    val present = AltCep.run(c, Seq(
      (1L, m(0)), (2L, m(1)), (3L, m(2)))).toSet
    assert(present == Set(
      Seq(Seq(1L), Seq(2L), Seq(3L)),    // group taken
      Seq(Seq(), Seq(), Seq(3L))))       // group skipped (ε path)
  }

  test("no resumed gaps: optional copies are canonical prefixes") {
    // (A){1,3}: a a a must yield counts 1,2,3 — never a duplicate from
    // skip-copy-2-take-copy-3
    val c = AltCep.compile(
      Seq(Seg.timesRange(1, 3, StepDef())), after = AfterMatch.NoSkip)
    val got = AltCep.run(c, Seq((1L, m(0)), (2L, m(0)), (3L, m(0))))
    val fromA1 = got.filter(_.head.headOption.contains(1L))
    assert(fromA1 == List(
      Seq(Seq(1L)), Seq(Seq(1L, 2L)), Seq(Seq(1L, 2L, 3L))))
    assert(got.distinct.size == got.size, "duplicate matches from skip paths")
  }

  test("inner quantifiers inside a group: (A.times(2) B).times(2)") {
    val c = AltCep.compile(Seq(
      Seg.times(2, StepDef(Quant.Times(2)), StepDef())))
    val got = AltCep.run(c, Seq(
      (1L, m(0)), (2L, m(0)), (3L, m(1)),
      (4L, m(0)), (5L, m(0)), (6L, m(1))))
    assert(got == List(Seq(Seq(1L, 2L, 4L, 5L), Seq(3L, 6L))))
  }

  test("batch executor: logical masks in, folded step_times out") {
    import spark.implicits._
    val c = AltCep.compile(Seq(Seg.times(2, StepDef(), StepDef())))
    val events = Seq(
      (7L, 1L, m(0), 1L), (7L, 2L, m(1), 2L),
      (7L, 3L, m(0), 3L), (7L, 4L, m(1), 4L),
      (8L, 1L, m(0), 5L)) // key 8: incomplete, no match
      .toDF("key", "t", "mask", "tie")
    val got = AltCep.matchBatch(spark, events, c)
      .as[(Long, Seq[Seq[Long]])].collect().toSet
    assert(got == Set((7L, Seq(Seq(1L, 3L), Seq(2L, 4L)))))
  }

  test("stream equals batch for a oneOrMore group across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val c = AltCep.compile(
      Seq(Seg.oneOrMore(StepDef(), StepDef()), Seg.step()),
      within = 3600L * 1000000L, after = AfterMatch.NoSkip)
    def us(sec: Long): Long = sec * 1000000L
    val rows = Seq(
      (1L, us(1), m(0), 1L), (1L, us(2), m(1), 2L),
      (1L, us(3), m(0), 3L), (1L, us(4), m(1), 4L), (1L, us(5), m(2), 5L))
    val batch = AltCep.matchBatch(spark,
        rows.toDF("key", "t", "mask", "tie"), c)
      .as[(Long, Seq[Seq[Long]])].collect().toSet
    val in = MemoryStream[(Long, Long, Long, Long)]
    val q = AltCep.matchStream(in.toDS(), c, "10 seconds")
      .toDF("key", "step_times").writeStream
      .outputMode("append").format("memory").queryName("gcep_out").start()
    rows.grouped(2).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
    in.addData((0L, us(99999), 0L, 6L)) // advance watermark to flush
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("gcep_out")
      .as[(Long, Seq[Seq[Long]])].collect().toSet
    assert(batch.nonEmpty && streamed == batch)
  }

  test("NESTED groups: begin(begin(A).times(2).next(B)).oneOrMore()") {
    // GroupPattern composition: the inner group (A x2) nests inside an
    // unbounded outer group that also carries B. Logical steps: A=0, B=1.
    val c = AltCep.compile(
      Seq(Group.oneOrMore(Group.times(2, Leaf(StepDef())), Leaf(StepDef()))),
      after = AfterMatch.NoSkip)
    assert(c.variants.head.pattern.steps.length == 3) // A A B
    assert(c.variants.head.fold == IndexedSeq(0, 0, 1))
    assert(c.variants.head.pattern.loopTo == Map(2 -> Seq(0)))
    val got = AltCep.run(c, Seq(
      (1L, m(0)), (2L, m(0)), (3L, m(1)),
      (4L, m(0)), (5L, m(0)), (6L, m(1)))).toSet
    assert(got == Set(
      Seq(Seq(1L, 2L), Seq(3L)),                 // one traversal
      Seq(Seq(1L, 2L, 4L, 5L), Seq(3L, 6L)),     // two traversals
      Seq(Seq(2L, 4L), Seq(6L)),                 // relaxed: A@2 pairs A@4
      Seq(Seq(4L, 5L), Seq(6L))),                // one traversal from t=4
      s"nested oneOrMore wrong: $got")
  }

  test("NESTED optional inside times: multi-target ε-skip composes") {
    // ((A)? B).times(1,2): copy 2's head is BOTH an optional inner-group
    // head and an optional copy head — two skip targets from one position
    val c = AltCep.compile(
      Seq(Group.timesRange(1, 2,
        Group.optional(Leaf(StepDef())), Leaf(StepDef()))),
      after = AfterMatch.NoSkip)
    assert(c.variants.head.pattern.skipTo == Map(0 -> Seq(1), 2 -> Seq(4, 3)),
      s"skip map: ${c.variants.head.pattern.skipTo}")
    // A-present count-1, A-absent count-1, and the count-2 combinations
    val got = AltCep.run(c, Seq(
      (1L, m(0)), (2L, m(1)), (3L, m(1)))).toSet
    assert(got.contains(Seq(Seq(1L), Seq(2L))), s"A-present count-1: $got")
    assert(got.contains(Seq(Seq(), Seq(2L))), s"A-absent count-1: $got")
    assert(got.contains(Seq(Seq(1L), Seq(2L, 3L))), s"count-2 mixed: $got")
    assert(got.contains(Seq(Seq(), Seq(2L, 3L))), s"count-2 absent: $got")
    assert(got.contains(Seq(Seq(), Seq(3L))), s"count-1 from t=3: $got")
  }

  test("NESTED groups: batch and stream agree, skip strategies compose") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def us(sec: Long): Long = sec * 1000000L
    // ((A x2) B).oneOrMore under SkipPastLast AND NoSkip: nested
    // expansion must behave identically through the batch executor and
    // the streaming NFA, and after-match strategies apply unchanged
    for ((after, sink) <- Seq(
        (AfterMatch.NoSkip: AfterMatch, "gcep_nest_ns"),
        (AfterMatch.SkipPastLast: AfterMatch, "gcep_nest_sp"))) {
      val c = AltCep.compile(
        Seq(Group.oneOrMore(Group.times(2, Leaf(StepDef())), Leaf(StepDef()))),
        within = 3600L * 1000000L, after = after)
      val rows = Seq(
        (1L, us(1), m(0), 1L), (1L, us(2), m(0), 2L), (1L, us(3), m(1), 3L),
        (1L, us(4), m(0), 4L), (1L, us(5), m(0), 5L), (1L, us(6), m(1), 6L))
      val batch = AltCep.matchBatch(spark,
          rows.toDF("key", "t", "mask", "tie"), c)
        .as[(Long, Seq[Seq[Long]])].collect().toSet
      val in = MemoryStream[(Long, Long, Long, Long)]
      val q = AltCep.matchStream(in.toDS(), c, "10 seconds")
        .toDF("key", "step_times").writeStream
        .outputMode("append").format("memory").queryName(sink).start()
      rows.grouped(2).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      in.addData((0L, us(99999), 0L, 7L))
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table(sink)
        .as[(Long, Seq[Seq[Long]])].collect().toSet
      assert(batch.nonEmpty && streamed == batch,
        s"$after: batch $batch vs stream $streamed")
      if (after == AfterMatch.SkipPastLast)
        assert(batch.size < 3, s"SkipPastLast must suppress overlaps: $batch")
    }
  }

  test("SQL PATTERN group terms: ((A B){2} C) through MATCH_RECOGNIZE") {
    import spark.implicits._
    // two full (a b) rounds then a buy — one row per key 1 match
    Seq(
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"),
      (1L, 30L, 3L, "a"), (1L, 40L, 4L, "b"), (1L, 50L, 5L, "c"),
      (2L, 10L, 6L, "a"), (2L, 20L, 7L, "b"), (2L, 30L, 8L, "c")) // only 1 round
      .toDF("uid", "t", "eid", "typ").createOrReplaceTempView("gmr_events")
    val got = Engine.sql(spark, """
      SELECT uid, n_a, first_a, buy_t
      FROM gmr_events MATCH_RECOGNIZE (
        PARTITION BY uid
        ORDER BY t, eid
        MEASURES COUNT(A.*) AS n_a, MIN(A.t) AS first_a, LAST(C.t) AS buy_t
        ONE ROW PER MATCH
        PATTERN ((A B){2} C)
        AFTER MATCH SKIP PAST LAST ROW
        DEFINE A AS typ = 'a', B AS typ = 'b', C AS typ = 'c'
      ) ORDER BY uid
    """).as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 10L, 50L))) // key 2 lacks the second round
  }

  test("SQL PATTERN oneOrMore group: ALL ROWS classifier folds copies") {
    import spark.implicits._
    Seq(
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"),
      (1L, 30L, 3L, "a"), (1L, 40L, 4L, "b"), (1L, 50L, 5L, "c"))
      .toDF("uid", "t", "eid", "typ").createOrReplaceTempView("gmr_events2")
    val rows = graft.cep.MatchRecognize.runAllRows(spark,
      spark.table("gmr_events2"), """
        PARTITION BY uid
        ORDER BY t, eid
        ALL ROWS PER MATCH
        PATTERN ((A B)+ C)
        AFTER MATCH SKIP PAST LAST ROW
        DEFINE A AS typ = 'a', B AS typ = 'b', C AS typ = 'c'
      """)
      .select($"match_no", $"classifier", $"t")
      .as[(Long, String, Long)].collect().toSet
    // SkipPastLast emits the earliest-started (2-round) match; both (a b)
    // rounds classify under the same logical variables
    assert(rows == Set(
      (1L, "A", 10L), (1L, "B", 20L),
      (1L, "A", 30L), (1L, "B", 40L), (1L, "C", 50L)))
  }

  test("SKIP TO LAST of a quantified group variable is fold-aware across copies") {
    // A B{1,2} D — logical ids A=0 B=1 D=2; B expands to two copies
    val c = AltCep.compile(Seq(
      Seg.step(), Seg.timesRange(1, 2, StepDef()), Seg.step()),
      within = 1000L, after = AfterMatch.SkipToLast(Set(1)))
    val got = AltCep.run(c, Seq(
      (1L, m(0)), (2L, m(1)), (3L, m(0)), (4L, m(1)), (5L, m(2)),
      (6L, m(1)), (7L, m(2))))
    // the greedy match binds BOTH B copies (t=2 and t=4); the boundary is
    // the LAST bound B across copies (t=4) — the a@3 run (start < 4) is
    // pruned, so no second match forms. A boundary computed on the first
    // expanded copy only (t=2) would wrongly let a@3 b@4/6 d@7 emit.
    assert(got == List(Seq(Seq(1L), Seq(2L, 4L), Seq(5L))), s"$got")
  }

  test("compile guards: bit budget, skip targets, unsupported shapes") {
    val e1 = intercept[IllegalArgumentException](
      AltCep.compile(Seq(Seg.times(40, StepDef(), StepDef()))))
    assert(e1.getMessage.contains("64"))
    val e2 = intercept[IllegalArgumentException](AltCep.compile(
      Seq(Seg.oneOrMore(StepDef(), StepDef())),
      after = AfterMatch.SkipToFirst(Set(9)))) // out-of-range logical id
    assert(e2.getMessage.contains("out of range"))
    val c = AltCep.compile(Seq(
      Seg.step(), Seg.timesRange(1, 3, StepDef(), StepDef())))
    // copies 2 and 3 of the group are optional; both skip past copy 3
    assert(c.variants.head.pattern.skipTo == Map(3 -> Seq(7), 5 -> Seq(7)))
    assert(c.variants.head.fold == IndexedSeq(0, 1, 2, 1, 2, 1, 2))
  }
}
