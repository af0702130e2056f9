package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

class VectorSearchSpec extends SparkSpec {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** `body` with the resident path switched off (threshold −1). */
  private def scanned(body: => DataFrame): DataFrame = {
    val old = spark.conf.getOption(Threshold)
    spark.conf.set(Threshold, "-1")
    try body finally old.fold(spark.conf.unset(Threshold))(spark.conf.set(Threshold, _))
  }

  private def resident(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  test("cosineSim: exact values on known vectors") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),   // identical → 1
      (2L, Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),   // orthogonal → 0
      (3L, Seq(1.0f, 1.0f), Seq(-1.0f, -1.0f))  // opposite → -1
    ).toDF("id", "a", "b")
    val out = df.select($"id", graft.functions.GraftFunctions.cosine_sim($"a", $"b").as("sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(1L) - 1.0) < 1e-12)
    assert(math.abs(out(2L)) < 1e-12)
    assert(math.abs(out(3L) + 1.0) < 1e-12)
  }

  test("topK: returns k best, ties broken by id, matches full sort prefix") {
    import spark.implicits._
    val vecs = (0 until 50).map { i =>
      (i.toLong, Seq(math.cos(i * 0.1).toFloat, math.sin(i * 0.1).toFloat))
    }.toDF("vec_id", "embedding")
    val q = Seq(1.0, 0.0)
    val top = VectorSearch.topK(vecs, "embedding", "vec_id", q, 5)
      .select("vec_id").as[Long].collect()
    val full = vecs.withColumn("sim", graft.functions.GraftFunctions.cosine_sim($"embedding", VectorSearch.vecLit(q)))
      .orderBy($"sim".desc, $"vec_id").select("vec_id").as[Long].collect()
    assert(top.toSeq === full.take(5).toSeq)
    assert(top.head === 0L)  // cos(0) aligned with query
  }

  test("searchText: query embedded with index embedder; self-retrieval ranks first") {
    import spark.implicits._
    val e = HashingEmbedder(dim = 64)
    val texts = Seq(
      (1L, "spark sql join optimizer catalyst engine"),
      (2L, "tennis racket string tension guide"),
      (3L, "gardening tips for winter tomato plants"))
    val chunks = spark.createDataset(texts.map { case (id, t) => Chunk(id, 0, s"${id}_0", t) })
    val index = Inference.embedChunks(chunks, e).toDF()
    val top = VectorSearch.searchText(index, "embedding", "chunk_id",
      "spark sql join optimizer catalyst engine", e, k = 1)
      .select("doc_id").as[Long].collect()
    assert(top.toSeq === Seq(1L))
  }

  test("resident top-k equals the distributed scan: sim ties, NaN, null embedding, k > rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("resident-diff").resolve("index").toString
    val r = new scala.util.Random(7)
    val rows = (0 until 60).map { i =>
      val e: Option[Seq[Float]] =
        if (i == 0) None                                          // null sim: sorts last
        else if (i <= 2) Some(Seq.fill(8)(0f))                    // 0/0 = NaN: sorts first
        else if (i % 5 == 0) Some(Seq(1f, 2f, 3f, 4f, 0f, 0f, 0f, 0f)) // equal sims: id decides
        else Some(Seq.fill(8)(r.nextGaussian().toFloat))
      (f"c$i%03d", i.toLong, e, i % 3)
    }
    rows.toDF("chunk_id", "doc_id", "embedding", "batch")
      .write.partitionBy("batch").parquet(dir)
    val q = Seq(1.0, 2.0, 3.0, 4.0, 0.5, 0.0, 0.0, 0.0)
    for (k <- Seq(0, 1, 5, 20, 100)) {
      val fast = VectorSearch.topK(spark.read.parquet(dir), "embedding", "chunk_id", q, k)
      val slow = scanned(VectorSearch.topK(spark.read.parquet(dir), "embedding", "chunk_id", q, k))
      assert(resident(fast) && !resident(slow))
      assert(fast.schema === slow.schema)
      val (a, b) = (fast.collect().toSeq, slow.collect().toSeq)
      assert(a === b, s"k=$k")
      assert(a.size === math.min(k, rows.size))
    }
    // the fixture reaches every case the ordering has to agree on
    val all = VectorSearch.topK(spark.read.parquet(dir), "embedding", "chunk_id", q, 100).collect()
    assert(all.take(2).forall(_.getDouble(4).isNaN) && all.last.isNullAt(4))
    assert(all.slice(2, 13).map(_.getString(0)).toSeq === (5 until 60 by 5).map(i => f"c$i%03d"))
  }

  test("resident index follows refreshes and runs no job over unchanged files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("resident-refresh").resolve("index").toString
    def write(batch: Int, rows: (String, Seq[Float])*): Unit =
      rows.toDF("chunk_id", "embedding").write.mode("overwrite").parquet(s"$dir/batch=$batch")
    def top(index: DataFrame): DataFrame =
      VectorSearch.topK(index, "embedding", "chunk_id", Seq(1.0, 0.0), 2)
    def search(): Seq[String] =
      top(spark.read.parquet(dir)).select("chunk_id").as[String].collect().toSeq

    write(0, "a" -> Seq(1f, 0.1f), "b" -> Seq(0f, 1f))
    assert(search() === Seq("a", "b"))
    write(1, "c" -> Seq(1f, 0f))                  // a new batch directory
    assert(search() === Seq("c", "a"))
    write(0, "d" -> Seq(1f, 0.5f))                // a replayed batch: "a" (closer) is gone
    assert(search() === Seq("c", "d"))

    // the read lists and infers the schema; the search itself runs nothing
    val unchanged = spark.read.parquet(dir)
    assert(jobsDuring(top(unchanged).collect()) === 0)
    // after a refresh, one job loads the new file and nothing else
    write(2, "e" -> Seq(1f, 0.01f))
    val refreshed = spark.read.parquet(dir)
    var hits = Seq.empty[String]
    assert(jobsDuring { hits = top(refreshed).select("chunk_id").as[String].collect().toSeq } === 1)
    assert(hits === Seq("c", "e"))
  }
}
