package graft

import org.apache.spark.sql.DataFrame

class ParSpec extends SparkSpec {

  test("spread: a shuffled input comes back as is, without running a job") {
    import spark.implicits._
    val shuffled = (1 to 200).map(i => (i % 7, i)).toDF("k", "v").groupBy("k").count()
    var out: DataFrame = null
    assert(jobsDuring { out = Par.spread(shuffled) } === 0)
    assert(out eq shuffled)
  }

  test("spread: a one-split input is widened to the default parallelism, without a job") {
    val narrow = spark.range(0, 100, 1, 1).toDF("id")
    var out: DataFrame = null
    assert(jobsDuring { out = Par.spread(narrow) } === 0)
    assert(out.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
    val wide = spark.range(0, 100, 1, spark.sparkContext.defaultParallelism).toDF("id")
    assert(Par.spread(wide) eq wide)
  }
}
