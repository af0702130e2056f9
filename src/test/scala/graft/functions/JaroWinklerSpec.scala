package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the JW op sequence to the DuckDB-verified reference values
  * (the q216 cross-engine contract): each expected literal below was
  * confirmed equal to DuckDB's `jaro_winkler_similarity` output
  * bit-for-bit before being inlined here.
  */
class JaroWinklerSpec extends SparkSpec {
  import spark.implicits._

  private val cases = Seq(
    ("martha", "marhta", 0.9611111111111111),   // one transposition
    ("dixon", "dicksonx", 0.8133333333333332),  // mixed lengths
    ("hello", "hallo", 0.88),                   // prefix boost l=1
    ("abc", "abc", 1.0),
    ("abc", "xyz", 0.0),
    ("forest green", "forestgreen", 0.9833333333333333),
    ("metallic blue", "metalic blue", 0.9512820512820512),
    ("promise", "prmoise", 0.9619047619047619),
    // boost-gate boundary (RapidFuzz/DuckDB convention): jaro = 2/3
    // ≤ 0.7, so the 1-char common prefix earns NO bonus — DuckDB
    // returns 0.6667 here, and an ungated boost would say 0.7
    ("ab", "ax", 2.0 / 3.0),
    ("a", "", 0.0))

  test("scalar core matches the DuckDB-verified reference values bit-for-bit") {
    cases.foreach { case (a, b, want) =>
      assert(JaroWinklerAlgo.sim(a, b) === want, s"($a, $b)")
      assert(JaroWinklerAlgo.sim(b, a) === want, s"symmetric ($b, $a)")
    }
  }

  test("expression evaluates through codegen and SQL identically to the core") {
    graft.Graft.install(spark)
    val df = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
    val viaCol = df.select(GraftFunctions.jaro_winkler($"a", $"b"))
      .as[Double].collect()
    val viaSql = df.selectExpr("jaro_winkler(a, b)").as[Double].collect()
    assert(viaCol.toSeq === cases.map(_._3))
    assert(viaSql.toSeq === cases.map(_._3))
  }

  test("null inputs yield null, not an exception") {
    graft.Graft.install(spark)
    val df = Seq(("x", Option.empty[String]), ("x", Some("x")))
      .toDF("a", "b")
    val got = df.selectExpr("jaro_winkler(a, b)").collect()
    assert(got(0).isNullAt(0))
    assert(got(1).getDouble(0) === 1.0)
  }

  test("prefix boost caps at 4 characters") {
    // identical 6-char prefix, divergent tails: boost must use l=4
    val j = JaroWinklerAlgo.sim("prefixaaa", "prefixbbb")
    val jaro = (6.0 / 9 + 6.0 / 9 + 6.0 / 6) / 3
    assert(j === jaro + 4 * 0.1 * (1.0 - jaro))
  }
}
