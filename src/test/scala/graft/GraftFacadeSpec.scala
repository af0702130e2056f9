package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

class GraftFacadeSpec extends SparkSpec {

  test("install is idempotent and wires functions + optimizer rules") {
    Graft.install(spark)
    Graft.install(spark)
    assert(spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)))")
      .head().getDouble(0) === 1.0)
    assert(spark.sql(
      "SELECT sorted_intersect_count(array('a','b'), array('b','c'))")
      .head().getInt(0) === 1)
    assert(spark.experimental.extraOptimizations
      .count(_ == plans.PushPredicateThroughExplode) === 1)
    assert(spark.experimental.extraStrategies
      .count(_ == plans.AsofJoinNative.AsofJoinStrategy) === 1)
    // sketches reachable from pure SQL
    val regs = spark.sql(
      "SELECT hll_sketch(k) FROM (SELECT explode(sequence(1, 500)) AS k)")
      .head().getSeq[Int](0)
    assert(regs.length === functions.HyperLogLog.M && regs.exists(_ > 0))
    val cms = spark.sql(
      "SELECT cms_sketch(CAST(k AS STRING)) FROM (SELECT explode(sequence(1, 50)) AS k)")
      .head().getSeq[Long](0)
    assert(cms.sum === 50L * functions.CountMinSketch.Depth)
  }

  private val names = functions.GraftFunctions.catalogue.map(_._1)
  private def registered(s: SparkSession): Seq[String] =
    names.filter(n => s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))

  test("every DataFrame handle evaluates on a session that registered none of the names") {
    val s = spark.newSession()
    assert(registered(s).isEmpty)
    import s.implicits._
    import functions._
    val df = Seq((1L, "martha", "a b a b")).toDF("id", "x", "text")
      .select($"id", $"x", $"text",
        array(lit(1.0), lit(0.0)).as("va"), array(lit(1.0), lit(1.0)).as("vb"),
        array(lit("a"), lit("b")).as("sa"), array(lit("b"), lit("c")).as("sb"),
        array(lit(1L), lit(4L), lit(7L)).as("la"), array(lit(4L), lit(7L)).as("lb"),
        array(lit(1), lit(2)).as("ka"), array(lit(3), lit(2)).as("kb"),
        array(lit(false), lit(false)).as("megas"),
        array(struct(lit(1L), lit(0), lit(5))).as("pa"),
        array(struct(lit(1L), lit(2), lit(9))).as("pb"))
    val row = df.select(
      GraftFunctions.cosine_sim($"va", $"va"),
      GraftFunctions.quant_l2($"va", $"vb", lit(1024.0)),
      GraftFunctions.jaro_winkler($"x", $"x"),
      SortedIntersectCount.sorted_intersect_count($"sa", $"sb"),
      FirstBandCollision.first_band_collision($"ka", $"kb", $"megas", lit(1)),
      FirstCommonBounded.first_common_bounded($"la", $"lb", lit(3), lit(2)),
      RepetitionScore.repetition_score($"text", 1),
      SortedSpanMerge.sorted_span_merge($"pa", $"pb").getField("inter")).head()
    assert(row === Row(1.0, 1024L, 1.0, 1, true, 4L, 0.5, 1L))
    val sketches = df.agg(HyperLogLog.sketch($"id"), CountMinSketch.sketch($"x")).head()
    assert(sketches.getSeq[Int](0).exists(_ > 0))
    assert(sketches.getSeq[Long](1).sum === CountMinSketch.Depth.toLong)
    assert(registered(s).isEmpty, "a handle registered a function")
  }

  test("a second install leaves the function registry unchanged") {
    val s = spark.newSession()
    Graft.install(s)
    val registry = s.sessionState.functionRegistry
    def snapshot() = names.map(n => registry.lookupFunction(FunctionIdentifier(n)).get)
    val before = snapshot()
    val listed = registry.listFunction().toSet
    Graft.install(s)
    snapshot().zip(before).zip(names).foreach { case ((now, was), n) =>
      assert(now eq was, s"$n was re-registered")
    }
    assert(registry.listFunction().toSet === listed)
  }
}
