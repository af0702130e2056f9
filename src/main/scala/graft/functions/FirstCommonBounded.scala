package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `first_common_bounded(a, b, na, nb)` — the FIRST (smallest) common
  * element of two SORTED, DUPLICATE-FREE `array<bigint>` columns,
  * scanning only `a[0, na)` and `b[0, nb)`; NULL when the bounded
  * views share nothing.
  *
  * The prefix-join first-collision dedup (the
  * [[FirstBandCollision]] discipline applied to AllPairs/PPJoin
  * candidates): a qualifying pair shares k prefix tokens and the old
  * shape emitted k candidate rows and `distinct()`-ed them — a
  * candidate-stream-sized exchange. Filtering the prefix-token
  * self-join with `first_common_bounded(ranks_a, ranks_b, pa, pb) ===
  * current_token` emits each pair from exactly its first shared
  * token, in-task. Bounds as separate int columns avoid a per-probe
  * `slice` allocation; the merge stops at the first match (prefixes
  * are rarity-ordered, so qualifying pairs match early).
  */
case class FirstCommonBounded(
    left: Expression, right: Expression, boundA: Expression, boundB: Expression)
    extends QuaternaryExpression {

  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = boundA
  override def fourth: Expression = boundB

  override def checkInputDataTypes(): TypeCheckResult = {
    def la(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (la(left.dataType) && la(right.dataType) &&
        boundA.dataType == IntegerType && boundB.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "first_common_bounded requires (array<bigint>, array<bigint>, int, int), got " +
        Seq(left, right, boundA, boundB).map(_.dataType.sql).mkString(", "))
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "first_common_bounded"

  override def nullSafeEval(a: Any, b: Any, na: Any, nb: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = math.min(x.numElements(), na.asInstanceOf[Int])
    val ny = math.min(y.numElements(), nb.asInstanceOf[Int])
    var i = 0; var j = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) return xv
      else if (xv < yv) i += 1
      else j += 1
    }
    null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, na, nb) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $i = 0, $j = 0;
         |final int $nx = java.lang.Math.min($a.numElements(), $na);
         |final int $ny = java.lang.Math.min($b.numElements(), $nb);
         |${ev.isNull} = true;
         |while ($i < $nx && $j < $ny) {
         |  final long $xv = $a.getLong($i);
         |  final long $yv = $b.getLong($j);
         |  if ($xv == $yv) { ${ev.isNull} = false; ${ev.value} = $xv; break; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(left = f, right = s, boundA = t, boundB = q)
}

object FirstCommonBounded {
  def first_common_bounded(a: Column, b: Column, na: Column, nb: Column): Column =
    column(FirstCommonBounded(expression(a), expression(b), expression(na), expression(nb)))
}
