package graft

import graft.cep.{AltCep, MatchRecognize}
import graft.cep.Cep.{AfterMatch, Quant, Rep, StepDef}
import graft.cep.GroupCep.{Alt, Group, Leaf, PatNode, Permute}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Table-driven pin of the CEP surface: five PATTERN shapes (a relaxed
  * loop, a oneOrMore group, a bounded leaf quantifier, an alternation and
  * a PERMUTE) under the five after-match strategies, each cell through
  * `MatchRecognize.run`, `runMeasures` and `runAllRows` (NO SKIP has no
  * SQL syntax, so that column runs the same trees through
  * `AltCep.matchBatch`/`matchBatchBound`), plus every shape through
  * `runStream` under SKIP PAST LAST ROW and SKIP TO NEXT ROW. The
  * expected rows, `match_no` included, are golden text below; times
  * print in seconds. */
class CepMatrixSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def us(sec: Long): Long = sec * 1000000L

  /** (k, t µs, tie, kind, v): two keys, unique t per key. */
  private val rows: Seq[(Long, Long, Long, String, Long)] = {
    val byKey = Seq(1L -> "a b a b c s a p b d c b", 2L -> "s b a p a b b d c b a d")
    byKey.flatMap { case (k, kinds) =>
      kinds.split(" ").toSeq.zipWithIndex.map { case (kind, i) =>
        (k, us(i + 1L), k * 100 + i, kind, (i + 1L) * 10 + k)
      }
    }
  }

  private def input: DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "t", "tie", "kind", "v")
  }

  private def leaf(q: Quant = Quant.One, rep: Rep = Rep.Combinations) =
    Leaf(StepDef(q, rep = rep))

  /** (name, PATTERN body, variables in logical-id order, the same tree). */
  private val shapes: Seq[(String, String, Seq[String], Seq[PatNode])] = Seq(
    ("relaxed", "A B+? C", Seq("A", "B", "C"),
      Seq(leaf(), leaf(Quant.OneOrMore, Rep.Relaxed), leaf())),
    ("group", "(A B)+ C", Seq("A", "B", "C"),
      Seq(Group(IndexedSeq(leaf(), leaf()), 1, -1), leaf())),
    ("range", "A B{1,2} D", Seq("A", "B", "D"),
      Seq(leaf(), leaf(Quant.TimesRange(1, 2)), leaf())),
    ("alt", "S (A | B) P", Seq("S", "A", "B", "P"),
      Seq(leaf(), Alt(IndexedSeq(IndexedSeq(leaf()), IndexedSeq(leaf()))), leaf())),
    ("permute", "PERMUTE(A, B)", Seq("A", "B"),
      Seq(Permute(IndexedSeq(leaf(), leaf())))))

  private val strategies = Seq(
    "past" -> "SKIP PAST LAST ROW", "next" -> "SKIP TO NEXT ROW",
    "first" -> "SKIP TO FIRST B", "last" -> "SKIP TO LAST B")

  private val Within = 6000000L

  private def clause(body: String, vars: Seq[String], skip: String,
      measures: Boolean, allRows: Boolean): String = {
    val ms = if (measures)
      "MEASURES FIRST(A.t) AS fa, LAST(B.t) AS lb, COUNT(B.*) AS nb, MAX(A.v) AS mxa\n" +
        "ONE ROW PER MATCH\n" else ""
    val ar = if (allRows) "ALL ROWS PER MATCH\n" else ""
    s"""PARTITION BY k
       |ORDER BY t, tie
       |$ms$ar PATTERN ($body)
       |WITHIN $Within
       |AFTER MATCH $skip
       |DEFINE ${vars.map(v => s"$v AS kind = '${v.toLowerCase}'").mkString(", ")}
       |""".stripMargin
  }

  private def sec(t: Any): String = t match {
    case null => "null"
    case l: Long => (l / 1000000L).toString
    case other => other.toString
  }
  private def stepTimes(st: Seq[Seq[Long]]): String =
    st.map(_.map(sec).mkString("[", ",", "]")).mkString
  private def render(lines: Seq[String]): String = lines.sorted.mkString(" ")

  private def runRows(df: DataFrame): String = {
    val s = spark
    import s.implicits._
    render(df.as[(Long, Seq[Seq[Long]])].collect().toSeq.map { case (k, st) => s"$k:${stepTimes(st)}" })
  }
  private def measureRows(df: DataFrame): String =
    render(df.select("k", "match_no", "fa", "lb", "nb", "mxa").collect().toSeq.map { r =>
      s"${r.getLong(0)}/${r.getLong(1)}:${sec(r.get(2))},${sec(r.get(3))},${r.get(4)},${r.get(5)}"
    })
  private def allRowsRows(df: DataFrame): String =
    render(df.select("k", "match_no", "classifier", "t").collect().toSeq.map { r =>
      s"${r.getLong(0)}/${r.getLong(1)}:${r.getString(2)}@${sec(r.getLong(3))}"
    })

  /** NO SKIP column: the shape's tree, events masked by logical id. */
  private def noSkip(vars: Seq[String], tree: Seq[PatNode]): (String, String) = {
    import org.apache.spark.sql.functions.{col, expr}
    val mask = vars.zipWithIndex.map { case (v, i) =>
      s"IF(kind = '${v.toLowerCase}', ${1L << i}L, 0L)"
    }.mkString(" + ")
    val events = input.select(col("k").as("key"), col("t"), expr(mask).as("mask"), col("tie"))
    val c = AltCep.compile(tree, within = Within, after = AfterMatch.NoSkip)
    val run = runRows(AltCep.matchBatch(spark, events, c))
    val s = spark
    import s.implicits._
    val bound = render(AltCep.matchBatchBound(spark, events, c)
      .as[(Long, Long, Seq[(Int, Long, Long)])].collect().toSeq.flatMap { case (k, n, b) =>
        b.map { case (step, t, _) => s"$k/$n:${vars(step)}@${sec(t)}" }
      })
    (run, bound)
  }

  private def streamed(body: String, vars: Seq[String], skip: String, sink: String): String = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, String, Long)]
    val out = MatchRecognize.runStream(in.toDF().toDF("k", "t", "tie", "kind", "v"),
      clause(body, vars, skip, measures = false, allRows = false), "2 seconds")
    val q = out.toDF("k", "m").writeStream
      .outputMode("append").format("memory").queryName(sink).start()
    try {
      rows.sortBy(r => (r._2, r._3)).grouped(7).foreach { chunk =>
        in.addData(chunk); q.processAllAvailable()
      }
      in.addData((99L, us(1000), 9999L, "x", 0L)) // flush: watermark past every row
      q.processAllAvailable()
    } finally q.stop()
    runRows(spark.table(sink))
  }

  /** `cell = rows…`; a line without " =" continues the cell above. */
  private lazy val golden: Map[String, String] =
    Golden.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      .foldLeft(Vector.empty[(String, String)]) { (acc, l) =>
        l.indexOf(" =") match {
          case i if i > 0 => acc :+ (l.substring(0, i) -> l.substring(i + 2).trim)
          case _ => acc.init :+ (acc.last._1 -> s"${acc.last._2} $l")
        }
      }.toMap

  private def check(cell: String, got: String): Unit =
    assert(golden.get(cell).contains(got), s"\n$cell = $got\nexpected ${golden.get(cell)}")

  shapes.foreach { case (name, body, vars, tree) =>
    test(s"matrix $name: PATTERN ($body) under every after-match strategy") {
      val df = input
      strategies.foreach { case (sk, skip) =>
        check(s"$name.$sk.run",
          runRows(MatchRecognize.run(spark, df, clause(body, vars, skip, false, false))))
        check(s"$name.$sk.measures",
          measureRows(MatchRecognize.runMeasures(spark, df, clause(body, vars, skip, true, false))))
        check(s"$name.$sk.allrows",
          allRowsRows(MatchRecognize.runAllRows(spark, df, clause(body, vars, skip, false, true))))
      }
      val (run, bound) = noSkip(vars, tree)
      check(s"$name.noskip.run", run)
      check(s"$name.noskip.bound", bound)
    }

    test(s"matrix $name: runStream equals the pinned rows under PAST LAST and TO NEXT") {
      Seq("past" -> "SKIP PAST LAST ROW", "next" -> "SKIP TO NEXT ROW").foreach { case (sk, skip) =>
        check(s"$name.$sk.stream", streamed(body, vars, skip, s"cep_matrix_${name}_$sk"))
      }
    }
  }

  private val Golden = """
    relaxed.past.run = 1:[1][2,4][5] 1:[7][9][11] 2:[3][6,7][9]
    relaxed.past.measures = 1/1:1,4,2,11 1/2:7,9,1,71 2/1:3,7,2,32
    relaxed.past.allrows = 1/1:A@1 1/1:B@2 1/1:B@4 1/1:C@5 1/2:A@7 1/2:B@9 1/2:C@11 2/1:A@3
      2/1:B@6 2/1:B@7 2/1:C@9
    relaxed.next.run = 1:[1][2,4][5] 1:[3][4][5] 1:[7][9][11] 2:[3][6,7][9] 2:[5][6,7][9]
    relaxed.next.measures = 1/1:1,4,2,11 1/2:3,4,1,31 1/3:7,9,1,71 2/1:3,7,2,32 2/2:5,7,2,52
    relaxed.next.allrows = 1/1:A@1 1/1:B@2 1/1:B@4 1/1:C@5 1/2:A@3 1/2:B@4 1/2:C@5 1/3:A@7
      1/3:B@9 1/3:C@11 2/1:A@3 2/1:B@6 2/1:B@7 2/1:C@9 2/2:A@5 2/2:B@6 2/2:B@7 2/2:C@9
    relaxed.first.run = 1:[1][2,4][5] 1:[3][4][5] 1:[7][9][11] 2:[3][6,7][9]
    relaxed.first.measures = 1/1:1,4,2,11 1/2:3,4,1,31 1/3:7,9,1,71 2/1:3,7,2,32
    relaxed.first.allrows = 1/1:A@1 1/1:B@2 1/1:B@4 1/1:C@5 1/2:A@3 1/2:B@4 1/2:C@5 1/3:A@7
      1/3:B@9 1/3:C@11 2/1:A@3 2/1:B@6 2/1:B@7 2/1:C@9
    relaxed.last.run = 1:[1][2,4][5] 1:[7][9][11] 2:[3][6,7][9]
    relaxed.last.measures = 1/1:1,4,2,11 1/2:7,9,1,71 2/1:3,7,2,32
    relaxed.last.allrows = 1/1:A@1 1/1:B@2 1/1:B@4 1/1:C@5 1/2:A@7 1/2:B@9 1/2:C@11 2/1:A@3
      2/1:B@6 2/1:B@7 2/1:C@9
    relaxed.noskip.run = 1:[1][2,4][5] 1:[3][4][5] 1:[7][9][11] 2:[3][6,7][9] 2:[5][6,7][9]
    relaxed.noskip.bound = 1/1:A@1 1/1:B@2 1/1:B@4 1/1:C@5 1/2:A@3 1/2:B@4 1/2:C@5 1/3:A@7
      1/3:B@9 1/3:C@11 2/1:A@3 2/1:B@6 2/1:B@7 2/1:C@9 2/2:A@5 2/2:B@6 2/2:B@7 2/2:C@9
    relaxed.past.stream = 1:[1][2,4][5] 1:[7][9][11] 2:[3][6,7][9]
    relaxed.next.stream = 1:[1][2,4][5] 1:[3][4][5] 1:[7][9][11] 2:[3][6,7][9] 2:[5][6,7][9]
    group.past.run = 1:[1,3][2,4][5] 1:[7][9][11] 2:[3][6][9]
    group.past.measures = 1/1:1,4,2,31 1/2:7,9,1,71 2/1:3,6,1,32
    group.past.allrows = 1/1:A@1 1/1:A@3 1/1:B@2 1/1:B@4 1/1:C@5 1/2:A@7 1/2:B@9 1/2:C@11
      2/1:A@3 2/1:B@6 2/1:C@9
    group.next.run = 1:[1,3][2,4][5] 1:[1][2][5] 1:[3][4][5] 1:[7][9][11] 2:[3][6][9]
      2:[5][6][9]
    group.next.measures = 1/1:1,4,2,31 1/2:1,2,1,11 1/3:3,4,1,31 1/4:7,9,1,71 2/1:3,6,1,32
      2/2:5,6,1,52
    group.next.allrows = 1/1:A@1 1/1:A@3 1/1:B@2 1/1:B@4 1/1:C@5 1/2:A@1 1/2:B@2 1/2:C@5 1/3:A@3
      1/3:B@4 1/3:C@5 1/4:A@7 1/4:B@9 1/4:C@11 2/1:A@3 2/1:B@6 2/1:C@9 2/2:A@5 2/2:B@6 2/2:C@9
    group.first.run = 1:[1,3][2,4][5] 1:[3][4][5] 1:[7][9][11] 2:[3][6][9]
    group.first.measures = 1/1:1,4,2,31 1/2:3,4,1,31 1/3:7,9,1,71 2/1:3,6,1,32
    group.first.allrows = 1/1:A@1 1/1:A@3 1/1:B@2 1/1:B@4 1/1:C@5 1/2:A@3 1/2:B@4 1/2:C@5
      1/3:A@7 1/3:B@9 1/3:C@11 2/1:A@3 2/1:B@6 2/1:C@9
    group.last.run = 1:[1,3][2,4][5] 1:[7][9][11] 2:[3][6][9]
    group.last.measures = 1/1:1,4,2,31 1/2:7,9,1,71 2/1:3,6,1,32
    group.last.allrows = 1/1:A@1 1/1:A@3 1/1:B@2 1/1:B@4 1/1:C@5 1/2:A@7 1/2:B@9 1/2:C@11
      2/1:A@3 2/1:B@6 2/1:C@9
    group.noskip.run = 1:[1,3][2,4][5] 1:[1][2][5] 1:[3][4][5] 1:[7][9][11] 2:[3][6][9]
      2:[5][6][9]
    group.noskip.bound = 1/1:A@1 1/1:A@3 1/1:B@2 1/1:B@4 1/1:C@5 1/2:A@1 1/2:B@2 1/2:C@5 1/3:A@3
      1/3:B@4 1/3:C@5 1/4:A@7 1/4:B@9 1/4:C@11 2/1:A@3 2/1:B@6 2/1:C@9 2/2:A@5 2/2:B@6 2/2:C@9
    group.past.stream = 1:[1,3][2,4][5] 1:[7][9][11] 2:[3][6][9]
    group.next.stream = 1:[1,3][2,4][5] 1:[1][2][5] 1:[3][4][5] 1:[7][9][11] 2:[3][6][9]
      2:[5][6][9]
    range.past.run = 1:[7][9][10] 2:[3][6,7][8]
    range.past.measures = 1/1:7,9,1,71 2/1:3,7,2,32
    range.past.allrows = 1/1:A@7 1/1:B@9 1/1:D@10 2/1:A@3 2/1:B@6 2/1:B@7 2/1:D@8
    range.next.run = 1:[7][9][10] 2:[3][6,7][8] 2:[3][6][8] 2:[5][6,7][8] 2:[5][6][8]
    range.next.measures = 1/1:7,9,1,71 2/1:3,7,2,32 2/2:3,6,1,32 2/3:5,7,2,52 2/4:5,6,1,52
    range.next.allrows = 1/1:A@7 1/1:B@9 1/1:D@10 2/1:A@3 2/1:B@6 2/1:B@7 2/1:D@8 2/2:A@3
      2/2:B@6 2/2:D@8 2/3:A@5 2/3:B@6 2/3:B@7 2/3:D@8 2/4:A@5 2/4:B@6 2/4:D@8
    range.first.run = 1:[7][9][10] 2:[3][6,7][8]
    range.first.measures = 1/1:7,9,1,71 2/1:3,7,2,32
    range.first.allrows = 1/1:A@7 1/1:B@9 1/1:D@10 2/1:A@3 2/1:B@6 2/1:B@7 2/1:D@8
    range.last.run = 1:[7][9][10] 2:[3][6,7][8]
    range.last.measures = 1/1:7,9,1,71 2/1:3,7,2,32
    range.last.allrows = 1/1:A@7 1/1:B@9 1/1:D@10 2/1:A@3 2/1:B@6 2/1:B@7 2/1:D@8
    range.noskip.run = 1:[7][9][10] 2:[3][6,7][8] 2:[3][6][8] 2:[5][6,7][8] 2:[5][6][8]
    range.noskip.bound = 1/1:A@7 1/1:B@9 1/1:D@10 2/1:A@3 2/1:B@6 2/1:B@7 2/1:D@8 2/2:A@3
      2/2:B@6 2/2:D@8 2/3:A@5 2/3:B@6 2/3:B@7 2/3:D@8 2/4:A@5 2/4:B@6 2/4:D@8
    range.past.stream = 1:[7][9][10] 2:[3][6,7][8]
    range.next.stream = 1:[7][9][10] 2:[3][6,7][8] 2:[3][6][8] 2:[5][6,7][8] 2:[5][6][8]
    alt.past.run = 1:[6][7][][8] 2:[1][3][][4]
    alt.past.measures = 1/1:7,null,0,71 2/1:3,null,0,32
    alt.past.allrows = 1/1:A@7 1/1:P@8 1/1:S@6 2/1:A@3 2/1:P@4 2/1:S@1
    alt.next.run = 1:[6][7][][8] 2:[1][3][][4] 2:[1][][2][4]
    alt.next.measures = 1/1:7,null,0,71 2/1:3,null,0,32 2/2:null,2,1,null
    alt.next.allrows = 1/1:A@7 1/1:P@8 1/1:S@6 2/1:A@3 2/1:P@4 2/1:S@1 2/2:B@2 2/2:P@4 2/2:S@1
    alt.first.run = 1:[6][7][][8] 2:[1][3][][4]
    alt.first.measures = 1/1:7,null,0,71 2/1:3,null,0,32
    alt.first.allrows = 1/1:A@7 1/1:P@8 1/1:S@6 2/1:A@3 2/1:P@4 2/1:S@1
    alt.last.run = 1:[6][7][][8] 2:[1][3][][4]
    alt.last.measures = 1/1:7,null,0,71 2/1:3,null,0,32
    alt.last.allrows = 1/1:A@7 1/1:P@8 1/1:S@6 2/1:A@3 2/1:P@4 2/1:S@1
    alt.noskip.run = 1:[6][7][][8] 2:[1][3][][4] 2:[1][][2][4]
    alt.noskip.bound = 1/1:A@7 1/1:P@8 1/1:S@6 2/1:A@3 2/1:P@4 2/1:S@1 2/2:B@2 2/2:P@4 2/2:S@1
    alt.past.stream = 1:[6][7][][8] 2:[1][3][][4]
    alt.next.stream = 1:[6][7][][8] 2:[1][3][][4] 2:[1][][2][4]
    permute.past.run = 1:[1][2] 1:[3][4] 1:[7][9] 2:[11][7] 2:[3][2] 2:[5][6]
    permute.past.measures = 1/1:1,2,1,11 1/2:3,4,1,31 1/3:7,9,1,71 2/1:3,2,1,32 2/2:5,6,1,52
      2/3:11,7,1,112
    permute.past.allrows = 1/1:A@1 1/1:B@2 1/2:A@3 1/2:B@4 1/3:A@7 1/3:B@9 2/1:A@3 2/1:B@2
      2/2:A@5 2/2:B@6 2/3:A@11 2/3:B@7
    permute.next.run = 1:[1][2] 1:[3][2] 1:[3][4] 1:[7][4] 1:[7][9] 2:[11][10] 2:[11][6]
      2:[11][7] 2:[3][2] 2:[3][6] 2:[5][6]
    permute.next.measures = 1/1:1,2,1,11 1/2:3,2,1,31 1/3:3,4,1,31 1/4:7,4,1,71 1/5:7,9,1,71
      2/1:3,2,1,32 2/2:3,6,1,32 2/3:5,6,1,52 2/4:11,6,1,112 2/5:11,7,1,112 2/6:11,10,1,112
    permute.next.allrows = 1/1:A@1 1/1:B@2 1/2:A@3 1/2:B@2 1/3:A@3 1/3:B@4 1/4:A@7 1/4:B@4
      1/5:A@7 1/5:B@9 2/1:A@3 2/1:B@2 2/2:A@3 2/2:B@6 2/3:A@5 2/3:B@6 2/4:A@11 2/4:B@6 2/5:A@11
      2/5:B@7 2/6:A@11 2/6:B@10
    permute.first.run = 1:[1][2] 1:[3][2] 1:[3][4] 1:[7][4] 1:[7][9] 2:[11][10] 2:[11][6]
      2:[11][7] 2:[3][2] 2:[3][6]
    permute.first.measures = 1/1:1,2,1,11 1/2:3,2,1,31 1/3:3,4,1,31 1/4:7,4,1,71 1/5:7,9,1,71
      2/1:3,2,1,32 2/2:3,6,1,32 2/3:11,6,1,112 2/4:11,7,1,112 2/5:11,10,1,112
    permute.first.allrows = 1/1:A@1 1/1:B@2 1/2:A@3 1/2:B@2 1/3:A@3 1/3:B@4 1/4:A@7 1/4:B@4
      1/5:A@7 1/5:B@9 2/1:A@3 2/1:B@2 2/2:A@3 2/2:B@6 2/3:A@11 2/3:B@6 2/4:A@11 2/4:B@7 2/5:A@11
      2/5:B@10
    permute.last.run = 1:[1][2] 1:[3][2] 1:[3][4] 1:[7][4] 1:[7][9] 2:[11][10] 2:[11][6]
      2:[11][7] 2:[3][2] 2:[3][6]
    permute.last.measures = 1/1:1,2,1,11 1/2:3,2,1,31 1/3:3,4,1,31 1/4:7,4,1,71 1/5:7,9,1,71
      2/1:3,2,1,32 2/2:3,6,1,32 2/3:11,6,1,112 2/4:11,7,1,112 2/5:11,10,1,112
    permute.last.allrows = 1/1:A@1 1/1:B@2 1/2:A@3 1/2:B@2 1/3:A@3 1/3:B@4 1/4:A@7 1/4:B@4
      1/5:A@7 1/5:B@9 2/1:A@3 2/1:B@2 2/2:A@3 2/2:B@6 2/3:A@11 2/3:B@6 2/4:A@11 2/4:B@7 2/5:A@11
      2/5:B@10
    permute.noskip.run = 1:[1][2] 1:[3][2] 1:[3][4] 1:[7][4] 1:[7][9] 2:[11][10] 2:[11][6]
      2:[11][7] 2:[3][2] 2:[3][6] 2:[5][6]
    permute.noskip.bound = 1/1:A@1 1/1:B@2 1/2:A@3 1/2:B@2 1/3:A@3 1/3:B@4 1/4:A@7 1/4:B@4
      1/5:A@7 1/5:B@9 2/1:A@3 2/1:B@2 2/2:A@3 2/2:B@6 2/3:A@5 2/3:B@6 2/4:A@11 2/4:B@6 2/5:A@11
      2/5:B@7 2/6:A@11 2/6:B@10
    permute.past.stream = 1:[1][2] 1:[3][4] 1:[7][9] 2:[11][7] 2:[3][2] 2:[5][6]
    permute.next.stream = 1:[1][2] 1:[3][2] 1:[3][4] 1:[7][4] 1:[7][9] 2:[11][10] 2:[11][6]
      2:[11][7] 2:[3][2] 2:[3][6] 2:[5][6]
"""
}
