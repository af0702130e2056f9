package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, FloatType}

class CosineSimilaritySpec extends SparkSpec {

  test("native kernel: codegen and eval match a double reference") {
    import spark.implicits._
    val r = new scala.util.Random(3)
    val data = (0 until 200).map { i =>
      (i.toLong, Array.fill(64)(r.nextGaussian().toFloat), Array.fill(64)(r.nextGaussian().toFloat))
    }
    // repartition keeps the projection out of ConvertToLocalRelation,
    // so it runs in whole-stage codegen
    val codegen = data.toDF("id", "a", "b").repartition(2)
      .select($"id", GraftFunctions.cosine_sim($"a", $"b"))
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    data.foreach { case (id, a, b) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        val (x, y) = (a(i).toDouble, b(i).toDouble)
        dot += x * y; na += x * x; nb += y * y
      }
      val reference = dot / (math.sqrt(na) * math.sqrt(nb))
      val interpreted = CosineSimilarity.bound(0, ArrayType(FloatType), b.map(_.toDouble))
        .eval(InternalRow(UnsafeArrayData.fromPrimitiveArray(a)))
      assert(bits(codegen(id)) === bits(reference))
      assert(bits(interpreted.asInstanceOf[Double]) === bits(reference))
    }
  }

  test("SQL registration, nulls, length mismatch, double arrays") {
    import spark.implicits._
    graft.Graft.install(spark)
    Seq((Seq(1.0, 0.0), Seq(1.0, 0.0))).toDF("a", "b").createOrReplaceTempView("v")
    assert(spark.sql("SELECT cosine_sim(a, b) FROM v").head().getDouble(0) === 1.0)
    val res = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f))).toDF("a", "b")
      .select(GraftFunctions.cosine_sim($"a", $"b")).head()
    assert(res.isNullAt(0))                       // length mismatch → null
    val nullRes = spark.sql("SELECT cosine_sim(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT)))").head()
    assert(nullRes.isNullAt(0))
  }

  test("null ELEMENT null-poisons to null, matching the composed form") {
    import spark.implicits._
    graft.Graft.install(spark)
    val df = spark.sql(
      "SELECT array(CAST(1.0 AS DOUBLE), CAST(NULL AS DOUBLE)) AS a, " +
        "array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE)) AS b")
    val native = df.select(GraftFunctions.cosine_sim($"a", $"b")).head()
    assert(native.isNullAt(0))
    // null on either side, interpreted path too
    val flipped = df.select(GraftFunctions.cosine_sim($"b", $"a")).head()
    assert(flipped.isNullAt(0))
  }

  test("extensions class injects the function into a fresh session") {
    val s2 = SparkSpec.session.newSession()
    new GraftExtensions().apply(
      new org.apache.spark.sql.SparkSessionExtensions) // construct smoke (injection API)
    graft.Graft.install(s2)
    assert(s2.sql("SELECT cosine_sim(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)))")
      .head().getDouble(0) === 1.0)
  }
}
