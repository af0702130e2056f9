package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BoundReference, Expression, Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst cosine similarity over two `array<float|double>`
  * columns (the hot inner loop of vector search, SURVEY.md §7.2(6)).
  *
  * The one cosine kernel of the engine: [[GraftFunctions.cosine_sim]]
  * (and through it the AnnSearch/IvfSearch reranks and the distributed
  * top-k scan) builds this expression directly, and the resident top-k path
  * evaluates it row by row through [[CosineSimilarity.bound]].
  * `doGenCode` generates a single fused primitive loop — no
  * allocations, no virtual calls — inside whole-stage codegen;
  * interpreted `eval` runs the same loop. Both accumulate left-to-right
  * in double, so they are bit-identical to each other and to DuckDB's
  * `list_cosine_similarity` on DOUBLE[].
  *
  * Returns null for null inputs, length mismatch, or any null ELEMENT
  * (an explicit isNullAt check, instead of reading a garbage 0 out of
  * the null slot — the SQL null-propagation of an element-wise
  * product); 0-norm inputs yield NaN (0/0).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (CosineSimilarity.accepts(left.dataType) && CosineSimilarity.accepts(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires array<float|double> arguments, got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double xv = (double) $a.$lGet($i);
         |    final double yv = (double) $b.$rGet($i);
         |    $dot += xv * yv; $na += xv * xv; $nb += yv * yv;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  def accepts(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** The kernel against a constant `query`, reading its vector from
    * column `ordinal` (of type `dataType`) of the row passed to `eval`. */
  def bound(ordinal: Int, dataType: DataType, query: Array[Double]): CosineSimilarity =
    CosineSimilarity(BoundReference(ordinal, dataType, nullable = true),
      Literal(UnsafeArrayData.fromPrimitiveArray(query), ArrayType(DoubleType, containsNull = false)))
}
