package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
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

  test("resident index follows refreshes and runs no job, even after one") {
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
    // after a refresh, the driver reads the new file: no job either
    write(2, "e" -> Seq(1f, 0.01f))
    val refreshed = spark.read.parquet(dir)
    var hits = Seq.empty[String]
    assert(jobsDuring { hits = top(refreshed).select("chunk_id").as[String].collect().toSeq } === 0)
    assert(hits === Seq("c", "e"))
    // with the schema passed, the read infers nothing: read and search run no job
    write(3, "f" -> Seq(1f, 0f))
    val given = spark.read.schema(refreshed.schema)
    assert(jobsDuring { hits = top(given.parquet(dir)).select("chunk_id").as[String].collect().toSeq } === 0)
    assert(hits === Seq("c", "f"))
  }

  private val q4 = Seq(1.0, 0.5, -0.25, 2.0)

  /** `n` rows (chunk_id, doc_id, embedding) with distinct ids. */
  private def vectors(n: Int, seed: Int): DataFrame = {
    import spark.implicits._
    val r = new scala.util.Random(seed)
    (0 until n).map(i => (f"c$i%04d", i.toLong, Seq.fill(4)(r.nextGaussian().toFloat)))
      .toDF("chunk_id", "doc_id", "embedding")
  }

  /** All rows of `read()` ranked from resident rows and by the scan:
    * the resident path must be taken and agree row for row. */
  private def assertServedAsScanned(read: () => DataFrame): Seq[Row] = {
    def top(k: Int) = VectorSearch.topK(read(), "embedding", "chunk_id", q4, k)
    for (k <- Seq(3, 10000)) {
      val (fast, slow) = (top(k), scanned(top(k)))
      assert(resident(fast) && !resident(slow))
      assert(fast.schema === slow.schema)
      assert(fast.collect().toSeq === slow.collect().toSeq, s"k=$k")
    }
    top(10000).collect().toSeq
  }

  test("driver read equals the scan: string and date partition columns") {
    val dir = Files.createTempDirectory("resident-parts").resolve("index").toString
    vectors(40, 1)
      .withColumn("lang", element_at(array(lit("en"), lit("de"), lit("fr")), (col("doc_id") % 3 + 1).cast("int")))
      .withColumn("day", date_add(lit(java.sql.Date.valueOf("2024-02-27")), (col("doc_id") % 4).cast("int")))
      .write.partitionBy("lang", "day").parquet(dir)
    val rows = assertServedAsScanned(() => spark.read.parquet(dir))
    assert(rows.size === 40)
    assert(rows.map(_.getAs[String]("lang")).toSet === Set("en", "de", "fr"))
    assert(rows.map(_.getAs[java.sql.Date]("day").toString).toSet ===
      Set("2024-02-27", "2024-02-28", "2024-02-29", "2024-03-01"))
  }

  test("driver read equals the scan: a partition value wins over a data column of its name") {
    val dir = Files.createTempDirectory("resident-overlap").resolve("index").toString
    for (b <- 0 until 2)  // every file also stores batch = 99
      vectors(10, b).withColumn("batch", lit(99)).write.parquet(s"$dir/batch=$b")
    val rows = assertServedAsScanned(() => spark.read.parquet(dir))
    assert(rows.map(_.getAs[Int]("batch")).toSet === Set(0, 1))
  }

  test("driver read equals the scan: a Parquet file of several row groups, split by the scan") {
    val dir = Files.createTempDirectory("resident-groups").resolve("index").toString
    vectors(3000, 2).coalesce(1).write.option("parquet.block.size", 4096).parquet(s"$dir/batch=0")
    val file = new java.io.File(s"$dir/batch=0").listFiles().filter(_.getName.endsWith(".parquet")).head
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toURI), spark.sessionState.newHadoopConf()))
    try assert(footer.getRowGroups.size > 1) finally footer.close()
    val split = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.getOption(split)
    spark.conf.set(split, (file.length / 3).toString)
    try {
      assert(spark.read.parquet(dir).rdd.getNumPartitions > 1)
      assert(assertServedAsScanned(() => spark.read.parquet(dir)).size === 3000)
    } finally old.fold(spark.conf.unset(split))(spark.conf.set(split, _))
  }

  test("driver read equals the scan: ORC and JSON indexes") {
    for (format <- Seq("orc", "json")) {
      val dir = Files.createTempDirectory(s"resident-$format").resolve("index").toString
      vectors(30, 3).withColumn("batch", col("doc_id") % 3).write.partitionBy("batch").format(format).save(dir)
      val rows = assertServedAsScanned(() => spark.read.format(format).load(dir))
      assert(rows.size === 30, format)
    }
  }

  test("an index whose scan skips corrupt files is declined; without the skip both paths fail alike") {
    val dir = Files.createTempDirectory("resident-corrupt").resolve("index").toString
    for (b <- 0 until 2) vectors(10, b).write.parquet(s"$dir/batch=$b")
    val good = scanned(VectorSearch.topK(spark.read.parquet(dir), "embedding", "chunk_id", q4, 1000)).collect().toSeq
    val whole = new java.io.File(s"$dir/batch=0").listFiles().filter(_.getName.endsWith(".parquet")).head
    val bytes = Files.readAllBytes(whole.toPath)
    val bad = Files.createDirectories(java.nio.file.Paths.get(s"$dir/batch=2")).resolve("part-truncated.parquet")
    Files.write(bad, bytes.take(bytes.length / 2))
    def top(): DataFrame = VectorSearch.topK(spark.read.parquet(dir), "embedding", "chunk_id", q4, 1000)

    val skip = "spark.sql.files.ignoreCorruptFiles"
    spark.conf.set(skip, "true")
    try {
      val served = top()
      assert(!resident(served))
      assert(served.collect().toSeq === good)
      assert(scanned(top()).collect().toSeq === good)
    } finally spark.conf.unset(skip)
    // the same skip as a relation option
    val optioned = VectorSearch.topK(spark.read.option("ignoreCorruptFiles", "true").parquet(dir),
      "embedding", "chunk_id", q4, 1000)
    assert(!resident(optioned))
    assert(optioned.collect().toSeq === good)

    def rootCause(t: Throwable): Throwable = Option(t.getCause).fold(t)(rootCause)
    val fast = rootCause(intercept[Exception](top().collect()))
    val slow = rootCause(intercept[Exception](scanned(top()).collect()))
    assert(fast.getClass === slow.getClass)
    assert(fast.getMessage === slow.getMessage)
  }
}
