package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** The reference's two heavy pipelines, Spark-first.
  *
  * E1 (metadata ingest, `01-download-pdfs.py:174-183`): select →
  * limit → filters → derived filename/filesize → sink. The reference
  * applies `limit(100)` BEFORE its filters (a semantic trap,
  * SURVEY.md §2.2) — preserved here, but over a total order so the
  * result is deterministic (a bare limit on a distributed scan isn't).
  *
  * E2 (OCR fan-out, `02-parallel-ocr-with-ray.py:125-296`): the
  * reference leaves Spark for Ray because per-document OCR is
  * minutes-heavy. We keep it in Spark: longest-processing-time-first
  * placement (its `ORDER BY filesize DESC`, rationale at `:4-8,125`)
  * is dealt on the driver from (doc_id, size), as the reference deals
  * its collected file list (`:125-130`), then document-per-task
  * `mapPartitions`. No positional re-join — chunks stay keyed by
  * doc_id throughout (replacing the fragile ordinal join at `:274-282`).
  */
object OcrPipeline {

  /** E1: the papers table derivation. `filename` mirrors
    * `{vol}pdfs/{date[:10]}_{title.replace(' ','_')}.pdf`
    * (`01-download-pdfs.py:135-136`) with fixture columns standing in
    * (FIXTURES.md role mapping); `filesize` ≈ `n_chars`.
    */
  def buildPapers(docs: DataFrame, limitN: Int = 100): DataFrame =
    docs
      .orderBy(col("doc_id"))
      .limit(limitN)                       // limit BEFORE filters, as in ref
      .filter(col("source").isNotNull)
      .filter(substring(col("source"), 1, 3) === "src")
      .withColumn("filename",
        concat(lit("pdfs/"), substring(col("source"), 1, 10), lit("_"),
          translate(substring(col("text"), 1, 20), " ", "_"), lit(".pdf")))
      .withColumn("filesize", col("n_chars"))
      .select("doc_id", "source", "filename", "filesize")
      .orderBy(col("filesize").desc, col("doc_id"))   // LPT order (O1)

  /** S10: filesystem glob → binary rows, the engine-side form of the
    * reference's directory listing at `ocr-tesseract-unstructured
    * .py:57-59`. `binaryFile` gives (path, modificationTime, length,
    * content); `doc_id` is derived from the file name when it carries
    * one (`..._<digits>.pdf`/`doc<digits>.pdf`), else a stable hash
    * of the path — deterministic across runs, unlike the reference's
    * listing-order ordinals. `length` doubles as the LPT `filesize`
    * (real byte counts, not a proxy).
    */
  def readBinaryDocs(
      spark: SparkSession,
      dir: String,
      glob: String = "*.pdf"): DataFrame = {
    import spark.implicits._
    // ≤18 digits: anything longer would overflow the long cast (an
    // ANSI-mode exception killing the whole scan on one odd filename)
    // → such names fall through to the path hash.
    val numbered = regexp_extract(col("path"), "(?<!\\d)(\\d{1,18})\\.[A-Za-z0-9]+$", 1)
    val pathHash = abs(xxhash64(col("path")))
    val named = when(numbered =!= "", numbered.cast("long")).otherwise(pathHash)
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
    // Downstream joins key on doc_id — a silent collision ("a/doc_1.pdf"
    // vs "b/doc_1.pdf", or a numbered id landing on another path's
    // hash) would MERGE two documents. Check on the driver, evaluating
    // the same id Column over the relation's file listing (rendered as
    // the scan's `path` column) as a local relation: no job. Colliding
    // ids fall back to the path hash, and if even that collides (p ≈
    // 2⁻⁶³ per pair) the read fails loudly rather than corrupt joins.
    val listing = files.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case fs: HadoopFsRelation => fs.location.listFiles(Nil, Nil).flatMap(_.files) }
      .flatten.map(_.getPath.toString).toDF("path")
    def collisions(id: Column): Iterable[Long] =
      listing.select(id).as[Long].collect().groupBy(identity).collect { case (k, v) if v.length > 1 => k }
    val dupIds = collisions(named).toSeq
    val docId = if (dupIds.isEmpty) named else when(named.isin(dupIds: _*), pathHash).otherwise(named)
    val still = if (dupIds.isEmpty) 0 else collisions(docId).size
    if (still > 0) throw new IllegalStateException(
      s"readBinaryDocs: $still doc_id collision(s) persist after path-hash " +
        s"fallback under $dir — rename the conflicting files")
    files.select(docId.as("doc_id"), col("path"), col("length").as("filesize"), col("content"))
  }

  /** Longest-processing-time-first placement into `numPartitions`
    * bins, keyed by the long `doc_id` column (rows sharing an id, null
    * included, are one document). The driver collects only the skinny
    * (doc_id, size) projection — no file bytes from a `binaryFile`
    * scan, no job for a local frame — and deals each next-largest
    * document to the least-loaded bin (ties: doc_id, then bin), so the
    * largest load is ≤ mean + largest document and runs agree. Rows
    * then cross one exchange straight into their bin.
    */
  def lptRepartition(df: DataFrame, sizeCol: String, numPartitions: Int): DataFrame = {
    require(numPartitions > 0)
    import df.sparkSession.implicits._
    val id = col("doc_id").cast("long")
    val cost = df.select(id, coalesce(col(sizeCol).cast("long"), lit(0L)))
      .as[(Option[Long], Long)].collect().groupMapReduce(_._1)(_._2)(_ + _)
    val load = collection.mutable.PriorityQueue.tabulate(numPartitions)(b => (0L, b))(Ordering[(Long, Int)].reverse)
    val place = cost.toSeq.sortBy { case (k, c) => (-c, k) }.map { case (k, c) =>
      val (l, b) = load.dequeue()
      load.enqueue((l + c, b))
      k.map(Long.box).orNull -> b
    }.toMap
    val bin = udf((k: java.lang.Long) => place.getOrElse(k, 0))   // an undealt id: bin 0
    df.repartitionById(numPartitions, bin(id))
  }

  /** E2 OCR stage: (doc_id, content binary, filesize) → (doc_id, text),
    * document-per-task with LPT placement. The OCR engine sits behind
    * [[PdfPartitioner]]; elements are re-joined by newline, keyed by
    * doc_id (never by position).
    */
  def extractText(
      spark: SparkSession,
      binDocs: DataFrame,
      partitioner: PdfPartitioner,
      strategy: PartitionStrategy = PartitionStrategy.OcrOnly,
      parallelism: Int = 32): DataFrame =
    extractMapped(spark, binDocs, parallelism) { (id, content) =>
      (id, partitioner.partition(content, strategy).mkString("\n"), "")
    }.drop("extract_path")

  /** [[extractText]] with per-document provenance: the third column
    * is the [[ExtractPath]] label of the branch that produced each
    * document's text (real PDF text layer, OCR-seam fallback, or
    * non-PDF bytes) — the auditable form the pipeline sinks so a
    * corpus run reports HOW its text was obtained, not just that
    * rows exist.
    */
  def extractTextAudited(
      spark: SparkSession,
      binDocs: DataFrame,
      partitioner: AutoPartitioner,
      strategy: PartitionStrategy = PartitionStrategy.OcrOnly,
      parallelism: Int = 32): DataFrame =
    extractMapped(spark, binDocs, parallelism) { (id, content) =>
      val (els, path) = partitioner.partitionWithPath(content, strategy)
      (id, els.mkString("\n"), path)
    }

  /** The one copy of the extraction plumbing (skinny projection → LPT
    * placement → per-partition map) behind [[extractText]] and
    * [[extractTextAudited]] — a placement/casting change lands in
    * both or neither. */
  private def extractMapped(
      spark: SparkSession,
      binDocs: DataFrame,
      parallelism: Int)(
      f: (Long, Array[Byte]) => (Long, String, String)): DataFrame = {
    import spark.implicits._
    val placed = lptRepartition(
      binDocs.select(col("doc_id").cast("long"), col("content"), col("filesize").cast("long")),
      "filesize", parallelism)
    placed.as[(Long, Array[Byte], Long)].mapPartitions { it =>
      it.map { case (id, content, _) => f(id, content) }
    }.toDF("doc_id", "text", "extract_path")
  }
}
