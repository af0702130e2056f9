package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, PrefixJoin}
import graft.pipeline._

/** The exact program being measured. Every constant is pinned here and
  * printed with each run, so a result names what produced it. */
object Program {
  /** the pure-JVM extractor with the deterministic stand-in behind it —
    * never `OcrRuntime.bestPartitioner()`, which swaps in tesseract
    * wherever the binary happens to be installed */
  val partitioner: AutoPartitioner = AutoPartitioner(TextPartitioner())
  val embedder: HashingEmbedder = HashingEmbedder(dim = 64, seed = 42)
  val batchSize = 150
  val k = 5
  val chunkWidth = 200
  val minChars = 50
  /** `OcrPipeline.extractTextAudited`'s default LPT partition count */
  val extractParallelism = 32

  def describe: Seq[(String, Any)] = Seq(
    "partitioner" -> "AutoPartitioner(TextPartitioner())",
    "embedder" -> s"HashingEmbedder(dim = ${embedder.dim}, seed = ${embedder.seed})",
    "embed_batch" -> batchSize, "k" -> k,
    "chunk_width" -> chunkWidth, "chunk_min_chars" -> minChars,
    "near_dup_threshold" -> Corpus.NearDupThreshold,
    "extract_parallelism" -> extractParallelism,
    "session" -> "Graft.session(local[cores], shufflePartitions = cores)")
}

/** One ingest pass from input files to a committed, readable index.
  *
  * `layered = false` is the measured form: one lazy plan, run by the
  * index write. `layered = true` is the traced form: each layer's
  * output is persisted and counted inside its own span, so each span
  * holds exactly that layer's work. Both return the index row count
  * read back from the written files. The caller clears the cache
  * once it has checked a pass: `jaccardPairsPrefix` persists its rank
  * table for its own readers and leaves its release to the caller, as
  * the engine's own drivers do.
  */
object Pipeline {

  private def mat[T](t: Tracer, layer: String)(ds: => Dataset[T]): Dataset[T] =
    t.span(layer) { val p = ds.persist(); p.count(); p }

  private def chunk(spark: SparkSession, docs: DataFrame): Dataset[Chunk] =
    Inference.chunkDocuments(spark, docs.select("doc_id", "text"),
      Program.chunkWidth, Program.minChars)

  private def embed(chunks: Dataset[Chunk]): Dataset[EmbeddedChunk] =
    Inference.embedChunks(chunks, Program.embedder, Program.batchSize)

  private def commit(spark: SparkSession, index: Dataset[EmbeddedChunk], out: String): Long = {
    index.write.parquet(out)
    spark.read.parquet(out).count()
  }

  def extract(spark: SparkSession, bin: DataFrame): DataFrame =
    OcrPipeline.extractTextAudited(spark, bin, Program.partitioner,
      parallelism = Program.extractParallelism)

  /** Exact then near-duplicate removal: `fingerprintDedup`, then drop
    * the higher id of every `jaccardPairsPrefix` pair above t = 0.7. */
  def nearDedup(spark: SparkSession, exact: DataFrame): (DataFrame, DataFrame) = {
    val pairs = PrefixJoin.jaccardPairsPrefix(spark, exact, "doc_id", "text",
      Corpus.NearDupThreshold)
    (pairs, exact.join(pairs.select(col("id_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti"))
  }

  /** What a layered pass hands back for checking. */
  final case class Pass(
      rows: Long,
      extracted: Option[DataFrame] = None,
      chunks: Option[Dataset[Chunk]] = None,
      pairs: Option[DataFrame] = None,
      kept: Option[DataFrame] = None)

  def pdf(spark: SparkSession, t: Tracer, dir: String, out: String, layered: Boolean): Pass =
    if (!layered) t.span("ingest") {
      val ex = extract(spark, OcrPipeline.readBinaryDocs(spark, dir))
      Pass(commit(spark, embed(chunk(spark, ex)), out))
    } else {
      val bin = mat(t, "read")(OcrPipeline.readBinaryDocs(spark, dir))
      val ex = mat(t, "extract")(extract(spark, bin))
      val chunks = mat(t, "chunk")(chunk(spark, ex))
      val index = mat(t, "embed")(embed(chunks))
      val rows = t.span("index_write")(commit(spark, index, out))
      Pass(rows, extracted = Some(ex), chunks = Some(chunks))
    }

  def curate(spark: SparkSession, t: Tracer, corpus: String, out: String, layered: Boolean): Pass =
    if (!layered) t.span("ingest") {
      val exact = Dedup.fingerprintDedup(spark.read.parquet(corpus), "doc_id", "text")
      val (_, kept) = nearDedup(spark, exact)
      Pass(commit(spark, embed(chunk(spark, kept)), out))
    } else {
      val exact = mat(t, "dedup.exact")(
        Dedup.fingerprintDedup(spark.read.parquet(corpus), "doc_id", "text"))
      val (pairs, kept) = t.span("dedup.near") {
        val (p, k) = nearDedup(spark, exact)
        p.persist().count(); k.persist().count()
        (p, k)
      }
      val chunks = mat(t, "chunk")(chunk(spark, kept))
      val index = mat(t, "embed")(embed(chunks))
      val rows = t.span("index_write")(commit(spark, index, out))
      Pass(rows, chunks = Some(chunks), pairs = Some(pairs), kept = Some(kept))
    }
}
