package graft

import graft.pipeline._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The reference pipeline end-to-end as one runnable program — what
  * `01-download-pdfs.py` → `02-parallel-ocr-with-ray.py` →
  * `03-model-inference-on-chunks.py` → vector search do across four
  * notebooks, as a single deterministic Spark job graph.
  *
  * Usage: `runMain graft.PipelineMain <sfDir> <outDir> [queryText]`
  * Writes: `graft.papers` / `graft.chunks` / `graft.index` /
  * `graft.search_results` catalog tables (data under outDir), and
  * prints stage counts.
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-pipeline"
    val queryText = if (args.length > 2) args(2) else "spark join performance"
    val spark = Graft.mainSession("graft-pipeline")
    run(spark, sfDir, outDir, queryText)
    spark.stop()
  }

  /** Managed-table sink (S4): `saveAsTable` into the `graft`
    * database, the engine-side form of the reference's
    * `df.write.mode("overwrite").saveAsTable(...)`
    * (`01-download-pdfs.py:180-182`, `02-parallel-ocr-with-ray
    * .py:294-296`). Tables are external with data under `outDir`
    * (same artifact layout as before, now catalogued — `SHOW TABLES
    * IN graft` reflects pipeline outputs); DROP first so a re-run
    * with a different outDir never writes through a stale location.
    */
  private def sink(spark: SparkSession, df: org.apache.spark.sql.DataFrame,
      outDir: String, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS graft.$name")
    df.write.mode("overwrite").option("path", s"$outDir/$name")
      .saveAsTable(s"graft.$name")
  }

  def run(spark: SparkSession, sfDir: String, outDir: String, queryText: String): Unit = {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS graft")

    // E1: metadata → papers (select/limit/filter/derive/sort)
    val papers = OcrPipeline.buildPapers(Tables.documents(spark, sfDir), limitN = 100)
    sink(spark, papers, outDir, "papers")
    println(s"[pipeline] papers: ${spark.table("graft.papers").count()}")

    // E2: chunking (the OCR stage collapses: fixture documents carry
    // their text; with binary input this is OcrPipeline.extractText
    // behind the PdfPartitioner seam, LPT-placed)
    val docsForChunks = Tables.documents(spark, sfDir)
      .join(papers.select($"doc_id"), Seq("doc_id"), "left_semi")
    val chunks = Inference.chunkDocuments(spark, docsForChunks)
    sink(spark, chunks.toDF(), outDir, "chunks")
    println(s"[pipeline] chunks: ${spark.table("graft.chunks").count()}")

    // E2-binary: the extraction seam driven over REAL binary inputs —
    // each paper's text wrapped in a deterministic container
    // (Type0/Identity-H PDF, simple PDF, PNG-predictor PDF, plain
    // bytes, ObjStm PDF, LZW/A85/AHx filter-chain PDF, image-only
    // PDF, encrypted PDF — by doc_id mod 8, PdfGen.demo), extracted
    // document-per-
    // task through the probed partitioner, and AUDITED: the sunk
    // table records WHICH ExtractPath produced each document's text
    // (the reference's partition step routes native-text PDFs through
    // the text layer before OCR, `ocr-tesseract-unstructured
    // .py:78-84`; this surfaces that routing per document).
    val binDocs = docsForChunks.select($"doc_id", $"text")
      .as[(Long, String)]
      .map { case (id, t) => (id, PdfGen.demo(id, t)) }
      .toDF("doc_id", "content")
      .withColumn("filesize", length($"content"))
    val extracted = OcrPipeline.extractTextAudited(
      spark, binDocs, OcrRuntime.bestPartitioner())
    sink(spark, extracted.select($"doc_id", $"extract_path",
      length($"text").as("n_chars_extracted")), outDir, "extraction_audit")
    val pathCounts = spark.table("graft.extraction_audit")
      .groupBy($"extract_path").count().orderBy($"extract_path").collect()
    println("[pipeline] extraction paths: " +
      pathCounts.map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" "))

    // E3: batched embedding inference → index table (U4/U10)
    val embedder = HashingEmbedder(dim = 64)
    val index = Inference.embedChunks(
      spark.table("graft.chunks").as[Chunk], embedder, batchSize = 150)
    sink(spark, index.toDF(), outDir, "index")
    println(s"[pipeline] index: ${spark.table("graft.index").count()}")

    // U11: similarity search over the materialized index
    val results = VectorSearch.searchText(
      spark.table("graft.index"), "embedding", "chunk_id",
      queryText, embedder, k = 5)
      .select($"chunk_id", $"doc_id", $"chunk", round($"sim", 6).as("sim"))
    sink(spark, results, outDir, "search_results")
    println(s"[pipeline] search('$queryText') top-5:")
    results.collect().foreach(r =>
      println(s"  ${r.getString(0)}  sim=${r.getDouble(3)}  ${r.getString(2).take(60)}…"))
  }
}
