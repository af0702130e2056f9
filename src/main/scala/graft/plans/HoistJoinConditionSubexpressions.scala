package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: hoist EXPENSIVE single-side subexpressions out of
  * a join condition into Projects under the join, so they are
  * computed once per input ROW instead of once per candidate PAIR.
  *
  * The motivating shape is a user-written similarity join:
  * `a JOIN b ON ... size(array_intersect(tok(ta), tok(tb))) / ... >= t`
  * where `tok(x) = array_distinct(filter(split(trim(x)), …))`. The
  * tokenization of each side references only that side, but sitting
  * inside the join condition Catalyst evaluates it per pair — a
  * 1000-row block join tokenizes each document ~1000 times. Hoisting
  * `tok(ta)` into a Project under the left child makes it a per-row
  * column; the condition then just reads the attribute (measured on
  * q345: 6.6 s → ~1 s at sf0.1). This is the logical-plan analogue
  * of PrefixJoin's build-the-token-table-first discipline, applied
  * automatically to user predicates. Trade: the hoisted value flows
  * through the join input (bigger rows through the exchange) in
  * exchange for O(rows) instead of O(pairs) evaluation — why only
  * provably expensive expressions are hoisted.
  *
  * Guards:
  *  - only deterministic subexpressions whose references sit entirely
  *    in one child;
  *  - only MAXIMAL such subexpressions (found top-down — nothing is
  *    hoisted twice, and a cheap wrapper over an expensive core, like
  *    `0.6 * size(tok(ta))`, hoists as one unit);
  *  - only expressions containing a provably costly node (a
  *    higher-order function, regex split, array_distinct, sort_array,
  *    or a per-character string scan) — attribute refs, literals, and
  *    plain arithmetic are never worth a schema change;
  *  - only subtrees that are provably NON-THROWING node-by-node
  *    ([[nonThrowing]]): opaque UDFs and ANSI-throwing expressions
  *    stay conditionally evaluated in the condition, because hoisting
  *    is speculative evaluation — it runs on rows the join might
  *    never pair;
  *  - join types whose condition is a FILTER over the cross space
  *    (Inner/Cross/LeftSemi/LeftAnti) — outer joins' null-extension
  *    rows never evaluate the condition anyway, but stay out of scope
  *    conservatively;
  *  - output schema preserved by an outer Project of the original
  *    join output; idempotent (after hoisting, the condition holds
  *    attribute refs, which are never expensive).
  *
  * Installed by [[GraftOptimizations.install]] AFTER the band rules:
  * within one optimizer pass the bands inject their conjuncts first,
  * then this rule hoists each side's heavy subtrees — including the
  * band's own `t·size(tok(x))` halves.
  */
object HoistJoinConditionSubexpressions extends Rule[LogicalPlan] {

  /** Provably costly to re-evaluate per pair. Opaque black boxes
    * (ScalaUDFs, arbitrary custom expressions) deliberately do NOT
    * qualify even when deterministic: see [[nonThrowing]].
    */
  private def expensive(e: Expression): Boolean = e.exists {
    case _: HigherOrderFunction => true
    case _: StringSplit => true
    case _: ArrayDistinct => true
    case _: SortArray => true
    case _: RegExpReplace => true
    case _: RegExpExtract => true
    case _: StringTranslate => true
    case _ => false
  }

  /** Every node of a hoisted subtree must be provably NON-THROWING on
    * any input row: hoisting moves the expression from conditional
    * per-pair evaluation (a row whose key matches nothing never
    * evaluates the condition's non-equi conjuncts) to UNCONDITIONAL
    * per-row evaluation in a Project — an expression that throws
    * value-dependently (a parsing UDF on malformed rows, an
    * ANSI-mode narrowing cast or element_at) would crash queries that
    * previously succeeded. Spark's own optimizer avoids exactly this
    * kind of speculative evaluation, so the rule hoists only a
    * whitelist of null-safe, never-throwing builtins (regex patterns
    * and group indices are value-INDEPENDENT: a bad literal pattern
    * throws identically under per-pair evaluation). Double arithmetic
    * never throws (no ANSI overflow on floating point); integral
    * arithmetic is excluded.
    */
  private def nonThrowing(e: Expression): Boolean = !e.exists {
    whitelisted(_) == false
  }

  private def whitelisted(e: Expression): Boolean = e match {
    case _: Attribute | _: Literal | _: Alias => true
    case _: StringTrim | _: StringTrimLeft | _: StringTrimRight => true
    // Regex-bearing builtins are value-independent ONLY when the
    // pattern (and group index) is a foldable literal: a pattern read
    // from a data column can be malformed on exactly the rows a
    // per-pair evaluation would have short-circuited past, and
    // hoisting would then throw where stock Spark succeeds.
    case s: StringSplit => s.regex.foldable
    case r: RegExpReplace => r.regexp.foldable
    case r: RegExpExtract => r.regexp.foldable && r.idx.foldable
    // translate() builds a character map, not a regex — it cannot
    // throw on any (from, to) operands, foldable or not.
    case _: StringTranslate | _: Lower | _: Upper => true
    case _: Concat | _: ConcatWs => true
    case _: ArrayDistinct | _: SortArray => true
    case _: ArrayFilter | _: ArrayTransform | _: ArrayExists => true
    case _: LambdaFunction | _: NamedLambdaVariable => true
    case _: Size | _: Length => true
    case _: Coalesce | _: IsNull | _: IsNotNull | _: Not | _: And | _: Or => true
    case _: EqualTo | _: EqualNullSafe | _: LessThan | _: LessThanOrEqual => true
    case _: GreaterThan | _: GreaterThanOrEqual | _: In | _: InSet => true
    case c: Cast => wideningCast(c)
    case b: BinaryArithmetic => b.dataType == org.apache.spark.sql.types.DoubleType
    case u: UnaryMinus => u.dataType == org.apache.spark.sql.types.DoubleType
    case _ => false
  }

  /** Casts that can never fail: numeric widening only. */
  private def wideningCast(c: Cast): Boolean = {
    import org.apache.spark.sql.types._
    (c.child.dataType, c.dataType) match {
      case (ByteType | ShortType | IntegerType | LongType | FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, LongType) => true
      case (ByteType | ShortType, IntegerType) => true
      case _ => false
    }
  }

  /** Maximal deterministic single-side subexpressions of `cond`
    * (top-down: a recorded node's children are not descended).
    */
  private def collectSided(cond: Expression, side: AttributeSet): Seq[Expression] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Expression]
    def walk(e: Expression): Unit = {
      val sided = e.references.nonEmpty && e.references.subsetOf(side)
      if (sided && e.deterministic && !e.isInstanceOf[Attribute] &&
          expensive(e) && nonThrowing(e)) {
        if (!out.exists(_.semanticEquals(e))) out += e
      } else e.children.foreach(walk)
    }
    walk(cond)
    out.toSeq
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(l, r, jt @ (Inner | Cross | LeftSemi | LeftAnti), Some(cond), hint) =>
      val leftEs = collectSided(cond, l.outputSet)
      val rightEs = collectSided(cond, r.outputSet)
      if (leftEs.isEmpty && rightEs.isEmpty) j
      else {
        val lAlias = leftEs.map(e => Alias(e, "_hoist_l")())
        val rAlias = rightEs.map(e => Alias(e, "_hoist_r")())
        val repl: Seq[(Expression, Attribute)] =
          leftEs.zip(lAlias.map(_.toAttribute)) ++
            rightEs.zip(rAlias.map(_.toAttribute))
        val newCond = cond.transformDown {
          case e if repl.exists(_._1.semanticEquals(e)) =>
            repl.find(_._1.semanticEquals(e)).get._2
        }
        val newL = if (lAlias.isEmpty) l else Project(l.output ++ lAlias, l)
        val newR = if (rAlias.isEmpty) r else Project(r.output ++ rAlias, r)
        Project(j.output, Join(newL, newR, jt, Some(newCond), hint))
      }
  }
}
