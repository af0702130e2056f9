package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BoundReference, Expression, ExpressionInfo, Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Native Catalyst cosine similarity over two `array<float|double>`
  * columns (the hot inner loop of vector search, SURVEY.md §7.2(6)).
  *
  * The one cosine kernel of the engine: `VectorSearch.cosineSim` (and
  * through it the AnnSearch/IvfSearch reranks and the distributed top-k
  * scan) builds this expression directly, and the resident top-k path
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

/** Registration: `GraftExtensions` for `spark.sql.extensions` config,
  * or [[GraftFunctions.register]] on a live session. Either way the
  * function is callable from SQL (`cosine_sim(a, b)`) and from the
  * DataFrame API via [[GraftFunctions.cosine_sim]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.cosineSimDescriptor)
    ext.injectFunction(GraftFunctions.quantL2Descriptor)
    ext.injectFunction(GraftFunctions.jaroWinklerDescriptor)
    // the whole text-function family rides the same injection: one
    // expression tree behind both the DataFrame and SQL surfaces
    TextFunctions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(TextFunctions.getClass.getName, name), builder))
    }
    // the full optimizer-rule set — GraftOptimizations.rules is the
    // single source of truth behind both injection paths, so the
    // spark.sql.extensions route can never run one rule short of
    // Graft.install
    graft.plans.GraftOptimizations.rules.foreach(r =>
      ext.injectOptimizerRule(_ => r))
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinNative.AsofJoinStrategy)
  }
}

object GraftFunctions {
  private[graft] val cosineSimDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
    (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1)))

  private[graft] val quantL2Descriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("quant_l2"),
    new ExpressionInfo(classOf[QuantL2].getName, "quant_l2"),
    (exprs: Seq[Expression]) => QuantL2(exprs(0), exprs(1), exprs(2)))

  private[graft] val jaroWinklerDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("jaro_winkler"),
    new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
    (exprs: Seq[Expression]) => JaroWinkler(exprs(0), exprs(1)))

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSimilarity(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "quant_l2", exprs => QuantL2(exprs(0), exprs(1), exprs(2)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "jaro_winkler", exprs => JaroWinkler(exprs(0), exprs(1)), "scala_udf")
  }

  /** DataFrame-API handle (requires prior registration on the session). */
  def cosine_sim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** DataFrame-API handle (requires prior registration on the session). */
  def quant_l2(a: Column, b: Column, quantum: Column): Column =
    call_function("quant_l2", a, b, quantum)

  /** DataFrame-API handle (requires prior registration on the session). */
  def jaro_winkler(a: Column, b: Column): Column =
    call_function("jaro_winkler", a, b)
}
