package graft

import graft.cep.{AltCep, Cep, GroupCep}
import graft.cep.Cep.{AfterMatch, Quant, StepDef}
import graft.cep.GroupCep.{Alt, Leaf, Permute}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The LOCKSTEP alternation executor `AltCep.matchStream` on the RocksDB
  * state store provider must emit EXACTLY what it emits on the default
  * provider for the same script — the provider changes where the
  * run lists and held matches are stored, never the matches. Scripts
  * cover alternation under both skip strategies, PERMUTE, held-match
  * expiry re-arbitration, and out-of-order release. (Test names keep
  * the "TWS" wording of the transformWithState port these scripts were
  * written for; that port is gone and `AltCep.matchStream` is the one
  * streaming body.) */
class AltCepTwsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def us(sec: Long): Long = sec * 1000000L
  private def m(bits: Int*): Long = bits.foldLeft(0L)((a, b) => a | (1L << b))
  private def leaf(q: Quant = Quant.One) = Leaf(StepDef(q))

  private def withRocksDB[T](body: => T): T = TestSpark.withRocksDB(body)

  private def run(sink: String, c: AltCep.CompiledAlt,
      delay: String, batches: Seq[Seq[(Long, Long, Long, Long)]])
      : Seq[(Long, Seq[Seq[Long]])] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, Long)]
    val out = AltCep.matchStream(in.toDS(), c, delay)
    val q = out.toDF("key", "step_times").writeStream
      .outputMode("append").format("memory").queryName(sink).start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
    } finally q.stop()
    spark.table(sink).as[(Long, Seq[Seq[Long]])].collect().toSeq
  }

  private def assertEqual(c: AltCep.CompiledAlt, delay: String,
      batches: Seq[Seq[(Long, Long, Long, Long)]], tag: String): Unit = {
    val ref = run(s"atws_${tag}_ref", c, delay, batches)
    val rocks = withRocksDB { run(s"atws_${tag}_new", c, delay, batches) }
    def perKey(rows: Seq[(Long, Seq[Seq[Long]])]) =
      rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(perKey(rocks) == perKey(ref), s"rocks=$rocks ref=$ref")
    assert(ref.nonEmpty, s"script '$tag' matched nothing — not probative")
  }

  // S (A | B) P — logical ids S=0 A=1 B=2 P=3
  private val sAltP = Seq(
    leaf(), Alt(IndexedSeq(IndexedSeq(leaf()), IndexedSeq(leaf()))), leaf())

  test("TWS alternation: SKIP TO NEXT ROW equals fMGWS executor") {
    val c = AltCep.compile(sAltP, within = us(100),
      after = AfterMatch.SkipToNext)
    assertEqual(c, "5 seconds", Seq(
      Seq((1L, us(1), m(0), 0L), (1L, us(2), m(1), 1L)),
      Seq((1L, us(3), m(3), 2L), (2L, us(5), m(0), 3L)),
      Seq((2L, us(6), m(2), 4L), (2L, us(7), m(3), 5L)),
      Seq((1L, us(500), 0L, 6L), (2L, us(500), 0L, 7L))), "stn")
  }

  test("TWS alternation: held-match expiry re-arbitration equals fMGWS") {
    // s a p completes via the A branch while the B-variant run stays
    // alive; the held winner emits only once within expires the blocker
    val c = AltCep.compile(sAltP, within = us(20),
      after = AfterMatch.SkipPastLast)
    assertEqual(c, "0 seconds", Seq(
      Seq((1L, us(1), m(0), 0L), (1L, us(2), m(1) | m(2), 1L)),
      Seq((1L, us(3), m(3), 2L)),
      Seq((1L, us(50), 0L, 3L)), // watermark past within: blocker expires
      Seq((1L, us(900), 0L, 4L))), "held")
  }

  test("TWS PERMUTE: any arrival order, out-of-order release equals fMGWS") {
    val c = AltCep.compile(Seq(Permute.of(leaf(), leaf(), leaf())),
      within = us(100), after = AfterMatch.SkipToNext)
    assertEqual(c, "30 seconds", Seq(
      // C@10, A@5 arrive out of order; B@20 later
      Seq((1L, us(10), m(2), 0L), (1L, us(5), m(0), 1L)),
      Seq((1L, us(20), m(1), 2L), (2L, us(15), m(1), 3L)),
      Seq((2L, us(16), m(0), 4L), (2L, us(17), m(2), 5L)),
      Seq((1L, us(1000), 0L, 6L), (2L, us(1000), 0L, 7L))), "perm")
  }
}
