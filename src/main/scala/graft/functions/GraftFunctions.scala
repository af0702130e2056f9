package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `spark.sql.extensions` entry point: every [[GraftFunctions.catalogue]]
  * function, the optimizer rules and the as-of planner strategy, injected
  * at session build — the same set `Graft.install` adds to a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.catalogue.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(GraftFunctions.getClass.getName, name), builder))
    }
    // GraftOptimizations.rules is the single source of truth behind
    // both injection paths, so neither can run one rule short
    graft.plans.GraftOptimizations.rules.foreach(r =>
      ext.injectOptimizerRule(_ => r))
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinNative.AsofJoinStrategy)
  }
}

/** The SQL surface of the engine. DataFrame code never needs it: every
  * handle (`cosine_sim` below, `SortedIntersectCount.sorted_intersect_count`,
  * …) builds its expression directly, so it runs on any session. The
  * catalogue only makes the same expressions callable by name from SQL.
  */
object GraftFunctions {
  private[graft] type Builder = Seq[Expression] => Expression

  /** Every SQL-callable graft function as (name, builder): the native
    * kernels, the sketch aggregates and the text functions. Both
    * `GraftExtensions` and [[install]] read this one list.
    */
  private[graft] val catalogue: Seq[(String, Builder)] = Seq[(String, Builder)](
    "cosine_sim" -> (e => CosineSimilarity(e(0), e(1))),
    "quant_l2" -> (e => QuantL2(e(0), e(1), e(2))),
    "jaro_winkler" -> (e => JaroWinkler(e(0), e(1))),
    "sorted_intersect_count" -> (e => SortedIntersectCount(e(0), e(1))),
    "first_band_collision" -> (e => FirstBandCollision(e(0), e(1), e(2), e(3))),
    "first_common_bounded" -> (e => FirstCommonBounded(e(0), e(1), e(2), e(3))),
    // second argument is the n-gram size — must be a literal int
    "repetition_score" -> (e =>
      RepetitionScore(e(0), e(1).eval().asInstanceOf[Number].intValue)),
    "sorted_span_merge" -> (e => SortedSpanMerge(e(0), e(1))),
    "hll_sketch" -> (e => expression(HyperLogLog.sketch(column(e(0))))),
    "cms_sketch" -> (e => expression(CountMinSketch.sketch(column(e(0)))))
  ) ++ TextFunctions.sqlFunctions

  /** Register the catalogue names the session lacks. A name already
    * present is left alone, so a second install writes nothing.
    */
  private[graft] def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    catalogue.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  /** Cosine similarity of two `array<float|double>` columns
    * ([[CosineSimilarity]]).
    */
  def cosine_sim(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))

  /** Quantized squared L2 distance ([[QuantL2]]); `quantum` must be a
    * double literal.
    */
  def quant_l2(a: Column, b: Column, quantum: Column): Column =
    column(QuantL2(expression(a), expression(b), expression(quantum)))

  /** Jaro-Winkler similarity of two strings ([[JaroWinkler]]). */
  def jaro_winkler(a: Column, b: Column): Column =
    column(JaroWinkler(expression(a), expression(b)))
}
