package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class SortedSpanMergeSpec extends SparkSpec {

  private def df(a: Seq[(Long, Int, Int)], b: Seq[(Long, Int, Int)]) = {
    import spark.implicits._
    Seq((a.toArray, b.toArray)).toDF("a", "b")
  }

  private def merge(a: Seq[(Long, Int, Int)], b: Seq[(Long, Int, Int)]): Option[Row] = {
    graft.Graft.install(spark)
    val rows = df(a, b)
      .select(SortedSpanMerge.sorted_span_merge(col("a"), col("b")).as("m"))
      .collect()
    Option(rows.head.getStruct(0))
  }

  test("merge equals the brute-force intersection with min/max bounds") {
    val a = Seq((2L, 10, 18), (5L, 0, 8), (9L, 40, 60), (12L, 3, 11))
    val b = Seq((1L, 7, 15), (5L, 100, 108), (12L, 50, 70), (20L, 2, 10))
    // shared fps: 5 and 12
    val got = merge(a, b).get
    assert(got.getLong(0) === 2L)              // inter
    assert(got.getLong(1) === 0L)              // a_start = min(0, 3)
    assert(got.getLong(2) === 11L)             // a_end   = max(8, 11)
    assert(got.getLong(3) === 50L)             // b_start = min(100, 50)
    assert(got.getLong(4) === 108L)            // b_end   = max(108, 70)
  }

  test("empty intersection and empty inputs yield NULL") {
    assert(merge(Seq((1L, 0, 5)), Seq((2L, 0, 5))).isEmpty)
    assert(merge(Seq.empty, Seq((2L, 0, 5))).isEmpty)
    assert(merge(Seq.empty, Seq.empty).isEmpty)
  }

  test("codegen and interpreted paths agree on random sorted inputs") {
    graft.Graft.install(spark)
    val rnd = new scala.util.Random(5)
    def rand(): Seq[(Long, Int, Int)] =
      (0 until rnd.nextInt(20)).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(100), rnd.nextInt(100)))
        .groupBy(_._1).map(_._2.head).toSeq.sortBy(_._1)
    (1 to 50).foreach { _ =>
      val (a, b) = (rand(), rand())
      val frame = df(a, b)
      val expr = SortedSpanMerge.sorted_span_merge(col("a"), col("b"))
      val codegen = frame.select(expr).collect().head
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.codegen.wholeStage", "false")
      s2.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      graft.Graft.install(s2)
      val interp = s2.createDataFrame(frame.rdd, frame.schema).select(expr).collect().head
      assert(codegen === interp, s"a=$a b=$b")
    }
  }
}
