package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Count of common elements between two SORTED, DUPLICATE-FREE
  * `array<string>` or `array<bigint>` columns — the Jaccard-join
  * inner loop.
  *
  * `size(array_intersect(a, b))` builds a hash set and materializes
  * the full intersection array per row pair only to read its length;
  * this expression is a single allocation-free sorted-merge count.
  * Caller contract: both inputs sorted ascending (binary UTF8 order
  * for strings, numeric for bigint — i.e.
  * `sort_array(array_distinct(...))`) — unsorted input silently
  * undercounts, so keep the sort adjacent to this call.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(StringType, _) => true
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val sameElem = (left.dataType, right.dataType) match {
      case (ArrayType(a, _), ArrayType(b, _)) => a == b
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType) && sameElem) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count requires two array<string> or two array<bigint> arguments, got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  private def isLong: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == LongType

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var n = 0
    val nx = x.numElements(); val ny = y.numElements()
    val longs = isLong
    while (i < nx && j < ny) {
      val c =
        if (longs) java.lang.Long.compare(x.getLong(i), y.getLong(j))
        else x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val c = ctx.freshName("c")
      val cmp =
        if (isLong) s"java.lang.Long.compare($a.getLong($i), $b.getLong($j))"
        else s"$a.getUTF8String($i).compareTo($b.getUTF8String($j))"
      s"""
         |int $i = 0, $j = 0;
         |final int $nx = $a.numElements(), $ny = $b.numElements();
         |int ${ev.value}_acc = 0;
         |while ($i < $nx && $j < $ny) {
         |  final int $c = $cmp;
         |  if ($c == 0) { ${ev.value}_acc++; $i++; $j++; }
         |  else if ($c < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  def sorted_intersect_count(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))
}
