package graft.cep

/** GROUP patterns — quantifiers over a SUB-PATTERN (flink-cep
  * pattern/GroupPattern.java: `Pattern.begin(subPattern).times(n)`,
  * `.oneOrMore()`, `.optional()`), the round-3 Pattern-API parity gap.
  *
  * Compilation, not a second engine: a group pattern compiles onto the
  * existing linear NFA —
  *  - `times(m,n)`: the sub-pattern is INLINE-EXPANDED into n copies; the
  *    copies beyond the first m are optional-group SPANS wired through
  *    `Pattern.skipTo` (a run placed at an optional copy's head may ε-skip
  *    past ALL remaining copies — all-or-nothing per copy, and repetition
  *    counts are canonical prefixes so no duplicate matches);
  *  - `oneOrMore`: ONE copy plus a `Pattern.loopTo` cycle from the copy's
  *    last step back to its head — every traversal branches continue vs
  *    advance, emitting a match per repetition count (Flink's un-greedy
  *    group default);
  *  - `optional`: times(0,1).
  *
  * Events carry masks over LOGICAL steps (bit i = satisfies the i-th
  * leaf of the tree); `expandMask` replicates bits to the expanded copies
  * and the matcher ([[AltCep.CompiledAlt]], which `AltCep.compile` builds
  * from a tree) folds every bound event back onto its logical step, so
  * callers never see the expansion. Inner steps may themselves carry
  * quantifiers (`begin(A.times(2) B).oneOrMore` works), and groups NEST
  * arbitrarily (`begin(begin(A).times(2).next(B)).oneOrMore()` —
  * GroupPattern composition): nesting compiles recursively, with
  * multi-target ε-skips where an inner optional group head coincides
  * with an outer optional copy head. All five after-match strategies
  * compose with nesting; SKIP TO FIRST/LAST resolve their logical
  * variable through the fold (`Pattern.stepClass`), so every expanded
  * copy counts toward the boundary.
  */
object GroupCep {
  import Cep._

  /** Pattern tree: a Leaf is one NFA step, a Group repeats a sub-pattern
    * between `min` and `max` times as a whole (max = -1: oneOrMore —
    * Flink's GroupPattern, which composes recursively), an Alt matches
    * exactly one of its branches (SQL row-pattern alternation `A | B`;
    * PERMUTE is sugar — see AltCep). Alt compiles by variant enumeration
    * in AltCep; the linear compiler below rejects it. */
  sealed trait PatNode
  final case class Leaf(step: StepDef) extends PatNode
  final case class Alt(branches: IndexedSeq[IndexedSeq[PatNode]]) extends PatNode {
    require(branches.size >= 2, "alternation needs at least two branches")
    require(branches.forall(_.nonEmpty), "alternation branches cannot be empty")
  }
  /** PERMUTE(P1..Pn): matches the operands in any order, each exactly
    * once (SQL:2016 defines it as the alternation of all n! permutations
    * in lexicographic order). Unlike a raw [[Alt]] (whose branches carry
    * DISTINCT logical ids), permutation branches share each operand's
    * logical ids — the same operand is the same variable in every
    * ordering. Compiled by AltCep. */
  final case class Permute(operands: IndexedSeq[PatNode]) extends PatNode {
    require(operands.size >= 2, "PERMUTE needs at least two operands")
    require(operands.size <= 6,
      "PERMUTE beyond 6 operands explodes (n! variants) — cap is 6")
  }
  object Permute {
    def of(ops: PatNode*): Permute = Permute(ops.toIndexedSeq)
  }
  final case class Group(nodes: IndexedSeq[PatNode], min: Int = 1, max: Int = 1)
      extends PatNode {
    require(nodes.nonEmpty, "a group needs at least one node")
    require(min >= 0, "min repetitions must be >= 0")
    require(max == -1 || max >= math.max(min, 1),
      "max repetitions must be -1 (unbounded) or >= max(min, 1)")
    require(max != -1 || min == 1, "unbounded groups are oneOrMore: min must be 1")
  }
  object Group {
    def times(n: Int, nodes: PatNode*): Group = Group(nodes.toIndexedSeq, n, n)
    def timesRange(m: Int, n: Int, nodes: PatNode*): Group = Group(nodes.toIndexedSeq, m, n)
    def optional(nodes: PatNode*): Group = Group(nodes.toIndexedSeq, 0, 1)
    def oneOrMore(nodes: PatNode*): Group = Group(nodes.toIndexedSeq, 1, -1)
  }

  /** One compiled variant: the expanded linear NFA pattern, plus the
    * expanded-step -> logical-step fold map. */
  final case class Compiled(pattern: Pattern, fold: IndexedSeq[Int], nLogical: Int) {

    /** No expansion: expanded step j is logical step j. The event mask
      * then passes through untouched, so until() stop bits above the
      * step bits survive. */
    val identity: Boolean = fold == (0 until nLogical)

    /** Replicate a logical-step bitmask onto the expanded steps. */
    def expandMask(logical: Long): Long =
      if (identity) logical
      else {
        var m = 0L
        var j = 0
        while (j < fold.length) {
          if ((logical >>> fold(j) & 1L) == 1L) m |= 1L << j
          j += 1
        }
        m
      }
  }

  /** Logical (pre-expansion) leaf count of a node; Alt branches all
    * contribute — every branch's variables are distinct logical steps —
    * while Permute operands count once (shared across permutations). */
  def leafCountOf(n: PatNode): Int = n match {
    case Leaf(_) => 1
    case Alt(bs) => bs.map(_.map(leafCountOf).sum).sum
    case Permute(ops) => ops.map(leafCountOf).sum
    case Group(ch, _, _) => ch.map(leafCountOf).sum
  }

  /** Compile one alternation-free variant with EXPLICIT logical bases per
    * node and an explicit logical-step count — the entry AltCep's variant
    * enumeration uses so every variant folds onto the SAME logical ids as
    * the original (possibly alternation-bearing) tree, variables in
    * unchosen branches simply binding nothing. Expansion rules per node:
    *  - Leaf: one NFA step, one logical step;
    *  - Group times(m,n): the body is inline-expanded n times; each copy
    *    beyond the first m gets an ε-skip from its head past ALL
    *    remaining copies (all-or-nothing, canonical-prefix counts);
    *  - Group oneOrMore: one body copy + a loop-back cycle from the last
    *    expanded step to the copy head.
    * Nested optional groups can make one position open several optional
    * spans — the multi-target skip map + `place` recursion compose them.
    * Copies of the same body share logical step indices, so masks and
    * fold maps are nesting-oblivious. */
  def compileWithBases(based: Seq[(PatNode, Int)], nLogical: Int,
      within: Long = 0L, after: AfterMatch = AfterMatch.SkipPastLast,
      maxRuns: Int = 64): Compiled = {
    require(based.nonEmpty, "pattern needs at least one node")
    after match {
      // the skip variable is a LOGICAL id; the linear executor resolves
      // it through the fold (Pattern.stepClass), so every expanded copy
      // of the variable counts toward the boundary
      case AfterMatch.SkipToFirst(ids) =>
        require(ids.nonEmpty && ids.forall(i => i >= 0 && i < nLogical),
          s"SKIP TO FIRST: logical steps ${ids.mkString(", ")} out of range " +
            s"(0 until $nLogical)")
      case AfterMatch.SkipToLast(ids) =>
        require(ids.nonEmpty && ids.forall(i => i >= 0 && i < nLogical),
          s"SKIP TO LAST: logical steps ${ids.mkString(", ")} out of range " +
            s"(0 until $nLogical)")
      case _ => ()
    }
    val steps = scala.collection.mutable.ArrayBuffer.empty[StepDef]
    val fold = scala.collection.mutable.ArrayBuffer.empty[Int]
    val skipTo = scala.collection.mutable.Map.empty[Int, List[Int]]
    val loopTo = scala.collection.mutable.Map.empty[Int, List[Int]]

    def sizeOf(n: PatNode): Int = n match {
      case Leaf(_) => 1
      case Alt(_) | Permute(_) => throw new IllegalArgumentException(
        "alternation does not compile onto the linear NFA directly — " +
          "enumerate variants via AltCep.compile")
      case Group(ch, _, max) =>
        val body = ch.map(sizeOf).sum
        if (max == -1) body else max * body
    }
    def leafCount(n: PatNode): Int = leafCountOf(n)
    // the loop-back of an unbounded group anchors on its LAST expanded
    // step completing — that step must be mandatory (not inside an
    // optional copy span, not itself optional/unbounded), or traversals
    // could finish the group without ever arming the cycle
    def endsMandatory(n: PatNode): Boolean = n match {
      case Leaf(s) => s.quant == Quant.One && !s.negated
      case Alt(_) | Permute(_) => false
      case Group(ch, min, max) => max != -1 && min == max && endsMandatory(ch.last)
    }

    def emit(node: PatNode, logicalBase: Int): Unit = node match {
      case Alt(_) | Permute(_) => throw new IllegalArgumentException(
        "alternation does not compile onto the linear NFA directly — " +
          "enumerate variants via AltCep.compile")
      case Leaf(s) =>
        steps += s
        fold += logicalBase
      case Group(ch, min, max) =>
        if (max == -1) {
          // oneOrMore: one copy + NFA cycle last-step -> head
          require(endsMandatory(ch.last),
            "a oneOrMore group must end in a mandatory plain step " +
              "(the loop-back anchors on its completion)")
          val base = steps.length
          var lb = logicalBase
          ch.foreach { c => emit(c, lb); lb += leafCount(c) }
          val lastIdx = steps.length - 1
          loopTo.updateWith(lastIdx)(prev => Some(base :: prev.getOrElse(Nil)))
        } else {
          val bodyLen = ch.map(sizeOf).sum
          val base = steps.length
          val afterAll = base + max * bodyLen
          (0 until max).foreach { c =>
            if (c >= min)
              skipTo.updateWith(steps.length)(prev => Some(afterAll :: prev.getOrElse(Nil)))
            var lb = logicalBase
            ch.foreach { cc => emit(cc, lb); lb += leafCount(cc) }
          }
        }
    }

    based.foreach { case (n, b) => emit(n, b) }
    require(steps.length <= 64,
      s"expanded pattern has ${steps.length} steps — the 64-bit mask is the " +
        "limit (lower the repetition bound)")
    Compiled(
      Pattern(steps.toIndexedSeq, within, after, maxRuns,
        skipTo.view.mapValues(_.reverse.distinct: Seq[Int]).toMap,
        loopTo.view.mapValues(_.reverse.distinct: Seq[Int]).toMap,
        stepClass = fold.toIndexedSeq),
      fold.toIndexedSeq, nLogical)
  }
}
