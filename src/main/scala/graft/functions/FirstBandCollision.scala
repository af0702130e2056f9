package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `first_band_collision(keys_a, keys_b, megas, band)` — true iff
  * `band` is the FIRST band where two rows' LSH band keys collide in
  * a joinable (non-mega) bucket: ∀ b' < band, keys_a[b'] ≠ keys_b[b']
  * OR megas[b'].
  *
  * This is the allocation-free in-task dedup for banded-LSH pair
  * generation: a near-dup pair collides in most of its bands (a pair
  * at Jaccard 0.9 agrees on ~26 of 32 two-hash bands), so emitting
  * from every collision and `distinct()`-ing afterwards shuffles
  * ~26× the true pair count. Filtering the bucket self-join with this
  * predicate emits each pair from exactly one band — no distinct
  * shuffle, no per-row lambda allocations (a `transform`+`exists`
  * formulation builds an array per candidate row; this is a codegen
  * loop over ints).
  *
  * `megas` marks bands whose bucket exceeded the mega-bucket cap:
  * those buckets produce star pairs instead of all pairs, so a
  * collision there must NOT suppress emission from a later normal
  * bucket. Both rows of a collision share the bucket, hence the flag
  * — passing either side's `megas` is equivalent at the bands that
  * matter (where keys are equal).
  */
case class FirstBandCollision(
    keysA: Expression, keysB: Expression, megas: Expression, band: Expression)
    extends QuaternaryExpression {

  override def first: Expression = keysA
  override def second: Expression = keysB
  override def third: Expression = megas
  override def fourth: Expression = band

  override def checkInputDataTypes(): TypeCheckResult = {
    def intArr(dt: DataType) = dt match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    val ok = intArr(keysA.dataType) && intArr(keysB.dataType) &&
      (megas.dataType match { case ArrayType(BooleanType, _) => true; case _ => false }) &&
      band.dataType == IntegerType
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "first_band_collision requires (array<int>, array<int>, array<boolean>, int), got " +
        Seq(keysA, keysB, megas, band).map(_.dataType.sql).mkString(", "))
  }

  override def dataType: DataType = BooleanType
  override def nullable: Boolean =
    keysA.nullable || keysB.nullable || megas.nullable || band.nullable
  override def prettyName: String = "first_band_collision"

  override def nullSafeEval(a: Any, b: Any, m: Any, bd: Any): Any = {
    val ka = a.asInstanceOf[ArrayData]
    val kb = b.asInstanceOf[ArrayData]
    val mg = m.asInstanceOf[ArrayData]
    val upto = bd.asInstanceOf[Int]
    var i = 0
    while (i < upto) {
      if (ka.getInt(i) == kb.getInt(i) && !mg.getBoolean(i)) return false
      i += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, m, bd) => {
      val i = ctx.freshName("i")
      s"""
         |${ev.value} = true;
         |for (int $i = 0; $i < $bd; $i++) {
         |  if ($a.getInt($i) == $b.getInt($i) && !$m.getBoolean($i)) {
         |    ${ev.value} = false; break;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(keysA = f, keysB = s, megas = t, band = q)
}

object FirstBandCollision {
  def first_band_collision(ka: Column, kb: Column, megas: Column, band: Column): Column =
    column(FirstBandCollision(expression(ka), expression(kb), expression(megas), expression(band)))
}
