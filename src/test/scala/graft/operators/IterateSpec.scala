package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IterateSpec extends SparkSpec {

  test("truncate computes each round once under a reliable checkpoint dir") {
    val sc = spark.sparkContext
    val had = sc.getCheckpointDir
    sc.setCheckpointDir(Files.createTempDirectory("graft-ckpt").toString)
    try {
      val evals = sc.longAccumulator("iterate-evals")
      val step = udf { (v: Long) => evals.add(1); v + 1 }
      var df = spark.range(0, 10, 1, 2).toDF("v")
      for (round <- 1 to 3) {
        df = Iterate.truncate(df.select(step(col("v")).as("v")))
        assert(evals.value === 10L * round, s"round $round")
      }
      assert(df.agg(sum("v")).head().getLong(0) === (3 to 12).sum)
    } finally {
      // the shared session has no public way to unset the dir
      classOf[org.apache.spark.SparkContext].getMethod("checkpointDir_$eq", classOf[Option[_]])
        .invoke(sc, had)
    }
  }
}
