package graft.streaming

import graft.pipeline.{Chunk, Embedder, Inference}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Incremental propagation of new chunks into the vector index — the
  * Structured-Streaming re-expression of the reference's Delta Change
  * Data Feed + `pipeline_type="TRIGGERED"` delta-sync index
  * (`ocr-tesseract-unstructured.py:112,145-153`).
  *
  * `Trigger.AvailableNow` is the exact analogue of TRIGGERED sync:
  * each invocation drains all not-yet-processed input (checkpoint
  * tracks progress), embeds only the NEW chunks, and appends them to
  * the index — never a full rebuild. At scale this is the difference
  * between re-embedding 100 TB and embedding the day's delta.
  */
object IncrementalIndex {

  val chunkSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("chunk_idx", IntegerType),
    StructField("chunk_id", StringType),
    StructField("chunk", StringType)))

  /** Drain new chunk files from `chunksDir` into the index at
    * `indexDir`. Idempotent per input file via the checkpoint AND per
    * batch via the sink layout: each micro-batch overwrites its own
    * deterministic `batch=<id>` directory, so a crash between the
    * sink write and the checkpoint commit replays the batch onto the
    * same path instead of appending duplicates (foreachBatch is
    * at-least-once; a bare `append` there would be the classic
    * double-write — the reference gets the equivalent guarantee from
    * Delta's transactional sync). Read the index with
    * `spark.read.parquet(indexDir)` — `batch` is just a partition
    * column.
    */
  def syncOnce(
      spark: SparkSession,
      chunksDir: String,
      indexDir: String,
      checkpointDir: String,
      embedder: Embedder,
      batchSize: Int = 150): Unit = {
    import spark.implicits._
    // Fail fast on a lost checkpoint with a surviving index: batch ids
    // would restart at 0 and OVERWRITE old batch dirs while later ones
    // survive — an undetectable mix of index generations. Rebuilding
    // from scratch (empty index + empty checkpoint) is the safe reset.
    val conf = spark.sessionState.newHadoopConf()
    def exists(p: String) =
      new org.apache.hadoop.fs.Path(p).getFileSystem(conf)
        .exists(new org.apache.hadoop.fs.Path(p))
    if (!exists(checkpointDir) && exists(indexDir))
      throw new IllegalStateException(
        s"index $indexDir exists but checkpoint $checkpointDir does not: " +
          "restarting would interleave index generations; delete the index " +
          "to rebuild, or restore the checkpoint")
    val stream = spark.readStream.schema(chunkSchema).parquet(chunksDir)
    val query = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        Inference.embedChunks(batch.as[Chunk], embedder, batchSize)
          .coalesce(outputFiles(batch))
          .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")
        ()
      }
      .start()
    query.awaitTermination()
  }

  /** Files to write a micro-batch as: one per
    * `spark.sql.files.maxPartitionBytes` of its input, from planning
    * statistics (no count job). Without it the batch is written one
    * file per open-cost scan split — four files for a few kilobytes of
    * new chunks — and every later index read lists and opens them all.
    * Applied with `coalesce`, so no shuffle is added. */
  private def outputFiles(batch: DataFrame): Int = {
    val bytes = batch.queryExecution.optimizedPlan.stats.sizeInBytes
    val per = BigInt(batch.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    ((bytes + per - 1) / per).max(1).min(Int.MaxValue).toInt
  }

  /** Streaming exact deduplication (D1 on a stream): content-hash
    * dropDuplicates with watermark-bounded state — new documents are
    * deduped against everything seen within the watermark horizon,
    * and state older than the horizon is evicted (unbounded dedup
    * state is the classic streaming-pipeline OOM). Works in batch
    * mode too (plain dropDuplicates semantics).
    */
  def dedupStream(
      docs: DataFrame,
      tsCol: String,
      textCol: String,
      watermark: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.functions.md5
    val hashed = docs.withColumn("content_hash", md5(col(textCol)))
    if (docs.isStreaming)
      hashed.withWatermark(tsCol, watermark)
        .dropDuplicatesWithinWatermark("content_hash")
    else hashed.dropDuplicates("content_hash")
  }

  /** Event-time tumbling-window aggregation with a watermark (SURVEY
    * §2.11 D7). Same plan works in batch (q10 checks it against the
    * oracle) and streaming; the watermark bounds state: windows older
    * than it are finalized and evicted.
    */
  def windowedEventStats(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"), col("sum_value"))
}
