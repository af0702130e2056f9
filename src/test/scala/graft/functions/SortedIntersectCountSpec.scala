package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

class SortedIntersectCountSpec extends SparkSpec {

  test("equals size(array_intersect) on sorted distinct arrays — property") {
    import spark.implicits._
    graft.Graft.install(spark)
    val gen = Gen.listOf(Gen.oneOf((1 to 40).map(i => s"w$i")))
    val prop = Prop.forAll(gen, gen) { (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
        .select(
          sort_array(array_distinct($"a")).as("sa"),
          sort_array(array_distinct($"b")).as("sb"))
        .select(
          SortedIntersectCount.sorted_intersect_count($"sa", $"sb").as("fast"),
          size(array_intersect($"sa", $"sb")).as("ref"))
      val r = df.head()
      r.getInt(0) == r.getInt(1)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  test("nulls, empties, SQL registration") {
    import spark.implicits._
    graft.Graft.install(spark)
    val r = Seq((Seq("a", "b"), Seq.empty[String])).toDF("a", "b")
      .select(SortedIntersectCount.sorted_intersect_count($"a", $"b")).head()
    assert(r.getInt(0) === 0)
    assert(spark.sql("SELECT sorted_intersect_count(array('a','b','c'), array('b','c','d'))")
      .head().getInt(0) === 2)
    assert(spark.sql("SELECT sorted_intersect_count(CAST(NULL AS ARRAY<STRING>), array('a'))")
      .head().isNullAt(0))
  }
}
