package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** One-pass sorted merge of two per-document fingerprint-span lists —
  * the verify kernel of the passage-localization join (q123,
  * `Winnow.winnowSpanPairs`).
  *
  * Inputs: two `array<struct<fp bigint, lo int, hi int>>` sorted
  * ascending by `fp` and duplicate-free in `fp` (the
  * `Winnower.fingerprintSpans` contract). Output: one
  * `struct<inter bigint, a_start bigint, a_end bigint, b_start
  * bigint, b_end bigint>` — the shared-fingerprint count plus the
  * min-lo / max-hi char bounds each side's SHARED values cover —
  * or NULL when the lists share nothing (a containment filter
  * downstream drops those pairs anyway).
  *
  * Why an expression: the compositional form joins each candidate
  * pair against both sides' EXPLODED span lists and re-aggregates —
  * |cands| × nf intermediate rows through a join and a groupBy (the
  * r5 bench read 19 s for q123 vs 5 s for q120's intersect-only
  * verify). This node is [[SortedIntersectCount]]'s merge with four
  * extra min/max registers: same candidates, same joins as q120,
  * zero allocation per pair, inside whole-stage codegen.
  */
case class SortedSpanMerge(left: Expression, right: Expression)
    extends BinaryExpression {

  private def okInput(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(fs), _) =>
      fs.length == 3 && fs(0).dataType == LongType &&
        fs(1).dataType == IntegerType && fs(2).dataType == IntegerType
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (okInput(left.dataType) && okInput(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "sorted_span_merge requires two array<struct<bigint,int,int>> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")

  override def dataType: DataType = StructType(Seq(
    StructField("inter", LongType, nullable = false),
    StructField("a_start", LongType, nullable = false),
    StructField("a_end", LongType, nullable = false),
    StructField("b_start", LongType, nullable = false),
    StructField("b_end", LongType, nullable = false)))

  override def nullable: Boolean = true
  override def prettyName: String = "sorted_span_merge"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0
    var inter = 0L
    var aLo = Int.MaxValue; var aHi = Int.MinValue
    var bLo = Int.MaxValue; var bHi = Int.MinValue
    val nx = x.numElements(); val ny = y.numElements()
    while (i < nx && j < ny) {
      val sx = x.getStruct(i, 3)
      val sy = y.getStruct(j, 3)
      val c = java.lang.Long.compare(sx.getLong(0), sy.getLong(0))
      if (c == 0) {
        inter += 1
        if (sx.getInt(1) < aLo) aLo = sx.getInt(1)
        if (sx.getInt(2) > aHi) aHi = sx.getInt(2)
        if (sy.getInt(1) < bLo) bLo = sy.getInt(1)
        if (sy.getInt(2) > bHi) bHi = sy.getInt(2)
        i += 1; j += 1
      }
      else if (c < 0) i += 1
      else j += 1
    }
    if (inter == 0L) null
    else InternalRow(inter, aLo.toLong, aHi.toLong, bLo.toLong, bHi.toLong)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rowCls = classOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow].getName
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val c = ctx.freshName("c")
      val sx = ctx.freshName("sx"); val sy = ctx.freshName("sy")
      val inter = ctx.freshName("inter")
      val aLo = ctx.freshName("aLo"); val aHi = ctx.freshName("aHi")
      val bLo = ctx.freshName("bLo"); val bHi = ctx.freshName("bHi")
      val vals = ctx.freshName("vals")
      s"""
         |int $i = 0, $j = 0;
         |final int $nx = $a.numElements(), $ny = $b.numElements();
         |long $inter = 0L;
         |int $aLo = Integer.MAX_VALUE, $aHi = Integer.MIN_VALUE;
         |int $bLo = Integer.MAX_VALUE, $bHi = Integer.MIN_VALUE;
         |while ($i < $nx && $j < $ny) {
         |  final InternalRow $sx = $a.getStruct($i, 3);
         |  final InternalRow $sy = $b.getStruct($j, 3);
         |  final int $c = java.lang.Long.compare($sx.getLong(0), $sy.getLong(0));
         |  if ($c == 0) {
         |    $inter++;
         |    if ($sx.getInt(1) < $aLo) $aLo = $sx.getInt(1);
         |    if ($sx.getInt(2) > $aHi) $aHi = $sx.getInt(2);
         |    if ($sy.getInt(1) < $bLo) $bLo = $sy.getInt(1);
         |    if ($sy.getInt(2) > $bHi) $bHi = $sy.getInt(2);
         |    $i++; $j++;
         |  } else if ($c < 0) { $i++; } else { $j++; }
         |}
         |if ($inter == 0L) {
         |  ${ev.isNull} = true;
         |  ${ev.value} = null;
         |} else {
         |  Object[] $vals = new Object[] {
         |    $inter, (long) $aLo, (long) $aHi, (long) $bLo, (long) $bHi };
         |  ${ev.value} = new $rowCls($vals);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedSpanMerge {
  def sorted_span_merge(a: Column, b: Column): Column =
    column(SortedSpanMerge(expression(a), expression(b)))
}
