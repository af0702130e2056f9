package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Native quant_l2 expression: bit-equality with the composed
  * zip_with+aggregate form, null semantics, codegen presence.
  */
class QuantL2Spec extends SparkSpec {

  private val Q = 1048576.0 // 2^20

  private def composed(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        floor(d * d * lit(Q)).cast("long")
      }),
      lit(0L), (acc, x) => acc + x)

  test("bit-identical to the composed form on corpus data") {
    import spark.implicits._
    graft.Graft.install(spark)
    val embs = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = embs.filter($"vec_id" === 3L).select($"embedding")
      .as[Array[Float]].first()
    val both = embs.select($"vec_id",
      GraftFunctions.quant_l2($"embedding", lit(q), lit(Q)).as("native"),
      composed($"embedding", lit(q)).as("composite"))
    assert(both.filter($"native" =!= $"composite").count() == 0L)
    // sanity: self-distance is exactly 0
    assert(both.filter($"vec_id" === 3L).select($"native").first().getLong(0) == 0L)
  }

  test("null semantics mirror the composed form's null-poisoning") {
    graft.Graft.install(spark)
    val df = spark.sql(
      """SELECT
        |  quant_l2(CAST(NULL AS ARRAY<FLOAT>), array(1.0F), 1024.0D) AS null_in,
        |  quant_l2(array(1.0F, 2.0F), array(1.0F), 1024.0D) AS mismatch,
        |  quant_l2(array(1.0F, CAST(NULL AS FLOAT)), array(1.0F, 2.0F), 1024.0D) AS null_elem,
        |  quant_l2(array(1.5F), array(0.5F), 1024.0D) AS plain
        |""".stripMargin)
    val r = df.first()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    assert(r.getLong(3) == 1024L) // floor(1.0 * 1024)
  }

  test("stays inside whole-stage codegen over a real scan") {
    import spark.implicits._
    graft.Graft.install(spark)
    val embs = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val df = embs.select(
      GraftFunctions.quant_l2($"embedding", $"embedding", lit(Q)).as("d"))
    df.collect()
    // "*(n)" prefixes mark operators fused into WholeStageCodegen
    // stage n — the projection carrying quant_l2 must be starred, not
    // a fallback Project
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [quant_l2"), plan.take(400))
  }
}
