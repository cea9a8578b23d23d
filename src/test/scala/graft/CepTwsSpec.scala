package graft

import graft.cep.AltCep
import graft.cep.Cep.{Pattern, Quant, StepDef}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** `AltCep.matchStream` on the RocksDB state store provider must emit
  * EXACTLY what it emits on the default provider for the same script —
  * the provider changes where the element queue / run list (the keyed
  * state of CepOperator.java:82) is stored, never the matches. Scripts
  * cover out-of-order release, late drops, quantifiers, and the
  * within-horizon pruning path. (Test names keep the "TWS" wording of
  * the transformWithState port these scripts were written for; that
  * port is gone and `AltCep.matchStream` is the one streaming body.) */
class CepTwsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def us(sec: Long): Long = sec * 1000000L

  private def withRocksDB[T](body: => T): T = TestSpark.withRocksDB(body)

  /** Replays `batches` through the executor and collects the sink. */
  private def run(sink: String, pattern: Pattern,
      delay: String, batches: Seq[Seq[(Long, Long, Long, Long)]])
      : Seq[(Long, Seq[Seq[Long]])] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, Long)]
    val out = AltCep.matchStream(in.toDS(), AltCep.compile(pattern), delay)
    val q = out.toDF("key", "step_times").writeStream
      .outputMode("append").format("memory").queryName(sink).start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
    } finally q.stop()
    spark.table(sink).as[(Long, Seq[Seq[Long]])].collect().toSeq
  }

  private def assertEqual(pattern: Pattern, delay: String,
      batches: Seq[Seq[(Long, Long, Long, Long)]], tag: String): Unit = {
    val ref = run(s"ctws_${tag}_ref", pattern, delay, batches)
    val rocks = withRocksDB { run(s"ctws_${tag}_new", pattern, delay, batches) }
    def perKey(rows: Seq[(Long, Seq[Seq[Long]])]) =
      rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(perKey(rocks) == perKey(ref), s"rocks=$rocks ref=$ref")
    assert(ref.nonEmpty, s"script '$tag' matched nothing — not probative")
  }

  test("TWS CEP: out-of-order release equals fMGWS executor") {
    val p = Pattern.linear(3, 0L) // A -> B -> C
    assertEqual(p, "30 seconds", Seq(
      Seq((1L, us(40), 4L, 0L), (1L, us(10), 1L, 1L)), // C@40, A@10 out of order
      Seq((1L, us(20), 2L, 2L), (2L, us(15), 1L, 3L)), // B@20 between them
      Seq((1L, us(1000), 0L, 4L), (2L, us(1000), 0L, 5L))), "ooo")
  }

  test("TWS CEP: late rows dropped identically") {
    val p = Pattern.linear(2, 0L)
    assertEqual(p, "5 seconds", Seq(
      Seq((1L, us(10), 1L, 0L), (1L, us(100), 0L, 1L)), // A@10; wm -> 95
      Seq((1L, us(50), 1L, 2L)),                        // late A@50: dropped
      Seq((1L, us(120), 2L, 3L)),                       // B@120 completes
      Seq((1L, us(300), 0L, 4L))), "late")
  }

  test("TWS CEP: watermark-equals-timestamp boundary releases in the same batch as fMGWS") {
    // wm lands EXACTLY on the pending row's timestamp (dummy@30s - 10s
    // delay = 20s): fMGWS event-time timeouts fire only when wm strictly
    // exceeds the timeout, so the row must NOT release yet on either
    // provider. Without the final advance both runs must have emitted
    // nothing; after it, both release the row (non-vacuous tail).
    val p = Pattern.linear(1, 0L)
    def script(sink: String, withTail: Boolean): Seq[(Long, Seq[Seq[Long]])] = {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long, Long)]
      val out = AltCep.matchStream(in.toDS(), AltCep.compile(p), "10 seconds")
      val q = out.toDF("key", "step_times").writeStream
        .outputMode("append").format("memory").queryName(sink).start()
      try {
        in.addData(Seq((1L, us(20), 1L, 0L), (1L, us(30), 0L, 1L)))
        q.processAllAvailable() // wm == 20s: boundary
        if (withTail) { in.addData(Seq((1L, us(100), 0L, 2L))); q.processAllAvailable() }
      } finally q.stop()
      spark.table(sink).as[(Long, Seq[Seq[Long]])].collect().toSeq
    }
    Seq(false, true).foreach { tail =>
      val ref = script(s"ctws_bnd_ref_$tail", tail)
      val rocks = withRocksDB { script(s"ctws_bnd_new_$tail", tail) }
      assert(rocks == ref, s"tail=$tail rocks=$rocks ref=$ref")
      if (tail) assert(ref.nonEmpty) else assert(ref.isEmpty,
        s"boundary row released at wm==t: $ref")
    }
  }

  test("TWS CEP: quantified pattern with within horizon prunes identically") {
    val p = Pattern(IndexedSeq(
      StepDef(quant = Quant.OneOrMore),
      StepDef()), within = us(50))
    assertEqual(p, "10 seconds", Seq(
      Seq((1L, us(10), 1L, 0L), (1L, us(20), 1L, 1L)),
      Seq((1L, us(40), 2L, 2L)),                        // completes A+ B
      Seq((1L, us(200), 1L, 3L)),                       // stale runs expired
      Seq((1L, us(230), 2L, 4L)),                       // fresh A -> B inside horizon
      Seq((1L, us(900), 0L, 5L))), "within")
  }
}
