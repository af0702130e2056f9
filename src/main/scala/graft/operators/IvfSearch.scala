package graft.operators

import graft.pipeline.VectorSearch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest-neighbor search — the
  * data-adaptive complement to [[AnnSearch]]'s hyperplane LSH.
  *
  * Train: a deterministic k-means coarse quantizer — seed centroids
  * from a bounded hash-ordered sample, then DISTRIBUTED Lloyd
  * iterations over the full table ([[KMeans.lloydStep]]: the centroid
  * table is tiny; the DATA never leaves executors except the k seed
  * candidates). Index:
  * every vector assigned to its nearest centroid cell (narrow map,
  * no shuffle; centroids ride the closure as a broadcast-sized
  * array). Search: rank cells by centroid distance to the query,
  * scan only the `nProbe` nearest cells, exact-cosine rerank.
  *
  * At scale the index is written `partitionBy("cell")`: the cell
  * filter prunes partitions at the source, so a query touches
  * ~nProbe/k of the data. Unlike LSH, cells track the data
  * distribution, so recall holds on clustered corpora with far fewer
  * probes; LSH needs no training pass — the engine offers both.
  */
object IvfSearch {

  final case class IvfModel(centroids: Array[Array[Float]]) extends Serializable {
    def nearestCell(v: Array[Float]): Int = {
      var best = 0; var bestD = Float.MaxValue
      var c = 0
      while (c < centroids.length) {
        val ctr = centroids(c)
        var d = 0.0f; var i = 0
        val n = math.min(ctr.length, v.length)
        while (i < n) { val x = ctr(i) - v(i); d += x * x; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }

    /** Cells ordered by centroid distance to the query. */
    def rankedCells(q: Array[Float]): Seq[Int] =
      centroids.indices.sortBy { c =>
        val ctr = centroids(c)
        var d = 0.0; var i = 0
        val n = math.min(ctr.length, q.length)
        while (i < n) { val x = ctr(i) - q(i); d += x * x; i += 1 }
        d
      }
  }

  /** Deterministic DISTRIBUTED training: init from a seeded
    * hash-ordered sample (bounded by `sampleSize` — only the k seed
    * CANDIDATES ever reach the driver; sampling more than k lets the
    * distinct-filter skip duplicate vectors), then `iterations` full
    * Lloyd passes over the WHOLE table via [[KMeans.lloydStep]] — a
    * broadcast-assign narrow map plus a treeAggregate of quantized
    * per-cell (count, Σvec) longs per pass. Same inputs, same model,
    * on every run, every partition layout, and every cluster: the
    * quantized-integer accumulation makes the recurrence exactly
    * order-free (KMeans scaladoc), where the previous driver-side
    * sample trainer saw only `sampleSize` rows of the corpus.
    */
  def train(
      spark: SparkSession,
      embs: DataFrame,
      vecCol: String,
      k: Int = 16,
      iterations: Int = 10,
      sampleSize: Int = 2000,
      seed: Long = 42L): IvfModel = {
    import spark.implicits._
    // hash-ordered sample: deterministic regardless of partitioning
    // (orderBy(rand(seed)) varies with partition layout); the vector
    // itself breaks 32-bit hash ties at the limit() cutoff
    val sample = embs.select(col(vecCol)).as[Array[Float]]
      .orderBy(hash(col(vecCol), lit(seed)), col(vecCol))
      .limit(sampleSize)
      .collect()
    require(sample.nonEmpty, "cannot train IVF on an empty table")
    var model = KMeans.Model(
      sample.distinctBy(_.toSeq).take(k).map(_.map(_.toDouble)))
    val vecs = embs.select(col(vecCol)).as[Array[Float]].rdd
    vecs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var iter = 0
      while (iter < iterations) { model = KMeans.lloydStep(vecs, model); iter += 1 }
    } finally vecs.unpersist(blocking = false)
    IvfModel(model.centroids.map(_.map(_.toFloat)))
  }

  /** Materialize the cell assignment. At scale, write the result
    * `.partitionBy("cell")`.
    */
  def buildIndex(
      spark: SparkSession,
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfModel): DataFrame = {
    import spark.implicits._
    embs.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions(it => it.map { case (id, v) => (id, v, model.nearestCell(v)) })
      .toDF(idCol, vecCol, "cell")
  }

  /** Persist the trained quantizer as a tiny (cell, centroid) table —
    * the model is part of the materialized index artifact, so a query
    * session can probe without retraining.
    */
  def saveModel(spark: SparkSession, model: IvfModel, path: String): Unit = {
    import spark.implicits._
    model.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadModel(spark: SparkSession, path: String): IvfModel = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("cell"), col("centroid"))
      .as[(Int, Seq[Float])].collect().sortBy(_._1)
    IvfModel(rows.map(_._2.toArray))
  }

  /** Build-or-load the persisted index: quantizer + cell-partitioned
    * vector table, written once (the reference's index build is a
    * materialized artifact, `ocr-tesseract-unstructured.py:145-153`).
    * Re-read through partition discovery so `search`'s
    * `cell IN (...)` filter prunes partitions at the source. `path`
    * must encode (k, iterations, seed); a completed write (_SUCCESS)
    * is reused without retraining.
    */
  def persistedIndex(
      spark: SparkSession,
      embs: => DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      k: Int = 16,
      iterations: Int = 10,
      seed: Long = 42L): (DataFrame, IvfModel) = {
    val dataPath = s"$path/cells"
    val modelPath = s"$path/model"
    val marker = new org.apache.hadoop.fs.Path(dataPath, "_SUCCESS")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      val e = embs
      val model = train(spark, e, vecCol, k, iterations, seed = seed)
      saveModel(spark, model, modelPath)
      buildIndex(spark, e, idCol, vecCol, model)
        .repartition(col("cell"))   // one task per cell → one file per cell= dir
        .write.mode("overwrite").partitionBy("cell").parquet(dataPath)
    }
    val model = loadModel(spark, modelPath)
    val index = spark.read.parquet(dataPath)
      .select(col(idCol), col(vecCol), col("cell"))
    (index, model)
  }

  /** The shared probe-filtered exact-rerank tail of [[search]] and
    * [[searchQuant]]: [[VectorSearch.topK]] over the probed cells.
    */
  private def rerank(
      index: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int,
      probes: Seq[Int]): DataFrame =
    VectorSearch.topK(index.filter(col("cell").isin(probes: _*)), vecCol, idCol,
      query.map(_.toDouble).toSeq, k).select(col(idCol), col("sim"))

  /** Scan the nProbe nearest cells, exact-cosine rerank, top-k. */
  def search(
      index: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int,
      model: IvfModel,
      nProbe: Int = 4): DataFrame =
    rerank(index, idCol, vecCol, query, k,
      model.rankedCells(query).take(math.max(1, nProbe)))

  /** [[search]] over the REPLAYABLE quantizer ([[KMeans.Model]]:
    * portable-hash init, quantized-integer distances): probe cells
    * are ranked by the same exact quantDist ordinal the assignment
    * uses, so a SQL oracle re-derives the identical probe set and —
    * because the index assignment is the q118-replayed recurrence —
    * the identical candidate rows (q158). [[train]]'s float model
    * stays the production surface with the recall spec; this is the
    * oracle-replay twin surface.
    */
  def searchQuant(
      index: DataFrame,            // KMeans.assignCells output: id, vec, cell
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int,
      model: KMeans.Model,
      nProbe: Int): DataFrame =
    rerank(index, idCol, vecCol, query, k,
      model.centroids.indices
        .sortBy(c => (model.quantDist(query, c), c)).take(math.max(1, nProbe)))
}
