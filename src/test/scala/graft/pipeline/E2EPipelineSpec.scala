package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The reference flow from FILES ON DISK to a searchable chunk index
  * — binaryFile glob (S10, `ocr-tesseract-unstructured.py:57-59`) →
  * OCR seam → chunk → embed → top-k — plus the managed-table sink
  * (S4): PipelineMain registers its outputs in the catalog the way
  * the reference's `saveAsTable` does (`01-download-pdfs.py:180-182`).
  */
class E2EPipelineSpec extends SparkSpec {

  test("binaryFile glob → OCR seam → chunks: end-to-end from a directory") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pdfs")
    val docs = Map(
      7L  -> ("alpha beta gamma delta " * 20 + "\f" + "second page content here " * 15),
      12L -> ("short but long enough to survive the fifty char chunk filter " * 3),
      31L -> "tiny")                               // all chunks ≤ 50 chars → filtered out
    docs.foreach { case (id, text) =>
      Files.write(dir.resolve(s"doc_$id.pdf"), text.getBytes(StandardCharsets.UTF_8))
    }
    Files.write(dir.resolve("notes.txt"), "not a pdf".getBytes(StandardCharsets.UTF_8))

    val bin = OcrPipeline.readBinaryDocs(spark, dir.toString)
    // glob honored, ids parsed from file names, real byte sizes
    assert(bin.count() === 3)
    assert(bin.select("doc_id").as[Long].collect().toSet === Set(7L, 12L, 31L))
    val sizes = bin.select($"doc_id", $"filesize").as[(Long, Long)].collect().toMap
    assert(sizes(31L) === 4L)

    val text = OcrPipeline.extractText(spark, bin, TextPartitioner(), parallelism = 2)
    val chunks = Inference.chunkDocuments(spark, text)
    val byDoc = chunks.toDF().groupBy($"doc_id").count()
      .as[(Long, Long)].collect().toMap
    assert(byDoc.keySet === Set(7L, 12L))          // doc 31 chunked away entirely
    assert(byDoc(7L) >= 4)                         // ~1000 chars / 200-char windows
    // chunk ids are keyed by doc, never positional (replaces ref's ordinal join)
    val ids = chunks.toDF().select("chunk_id").as[String].collect()
    assert(ids.forall(id => id.matches("(7|12)_\\d+")))
  }

  test("doc_id from path hash when the file name carries no number") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pdfs2")
    Files.write(dir.resolve("unnumbered.pdf"), "x".getBytes(StandardCharsets.UTF_8))
    val ids = OcrPipeline.readBinaryDocs(spark, dir.toString)
      .select("doc_id").as[Long].collect()
    assert(ids.length === 1 && ids.head >= 0L)     // stable hash, non-negative
    // deterministic across reads
    assert(OcrPipeline.readBinaryDocs(spark, dir.toString)
      .select("doc_id").as[Long].collect().head === ids.head)
  }

  test("colliding numbered doc_ids fall back to path hashes, never merge") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pdfs3")
    // "doc_1.pdf" and "1.pdf" both parse the number 1 — a silent merge
    // downstream would be data corruption; the reader must resolve it
    Files.write(dir.resolve("doc_1.pdf"), "first".getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("1.pdf"), "second".getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("doc_2.pdf"), "third".getBytes(StandardCharsets.UTF_8))
    val rows = OcrPipeline.readBinaryDocs(spark, dir.toString)
      .select($"doc_id", $"path").as[(Long, String)].collect()
    assert(rows.length === 3)
    assert(rows.map(_._1).distinct.length === 3)   // all ids unique
    // the non-colliding numbered file keeps its parsed id
    assert(rows.find(_._2.endsWith("doc_2.pdf")).get._1 === 2L)
    // colliding ones got path hashes (not the parsed 1)
    assert(rows.filterNot(_._2.endsWith("doc_2.pdf")).forall(_._1 !== 1L))
  }

  test("the listing-side collision check renders paths as the binaryFile scan does") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pdfs4")
    // a space and a literal "%20" in one name: the scan's path column
    // keeps both as is, while a URI rendering escapes them — and would
    // read "a b%207.pdf" as id 25207, missing its collision with 207
    for (name <- Seq("a b%20c.pdf", "doc_1.pdf", "1.pdf", "a b%207.pdf", "207.pdf"))
      Files.write(dir.resolve(name), name.getBytes(StandardCharsets.UTF_8))
    var bin: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { bin = OcrPipeline.readBinaryDocs(spark, dir.toString) } === 0)
    val got = bin.select($"path", $"doc_id").as[(String, Long)].collect().toMap
    assert(got.keySet.exists(_.endsWith("/a b%20c.pdf")), got.keySet)
    // what the scan itself computes from its own path column: both
    // colliding pairs take the path hash, the unnumbered name its own
    val scanned = spark.read.format("binaryFile").load(dir.toString)
      .select($"path", abs(xxhash64($"path"))).as[(String, Long)].collect().toMap
    assert(got === scanned)
    assert(got.values.toSet.size === 5)
  }

  test("readBinaryDocs runs no job; extraction from it runs one that reads no file bytes") {
    val plain = Files.createTempDirectory("graft-pdfs5")
    (1 to 6).foreach(i => Files.write(plain.resolve(s"doc_$i.pdf"), ("page " * (i * 40)).getBytes(StandardCharsets.UTF_8)))
    val colliding = Files.createTempDirectory("graft-pdfs6")
    Seq("a_3.pdf", "b_3.pdf", "c_4.pdf").foreach(n => Files.write(colliding.resolve(n), n.getBytes(StandardCharsets.UTF_8)))
    assert(jobsDuring(OcrPipeline.readBinaryDocs(spark, colliding.toString)) === 0)
    var bin: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { bin = OcrPipeline.readBinaryDocs(spark, plain.toString) } === 0)
    var out: org.apache.spark.sql.DataFrame = null
    val placing = runDuring {
      out = OcrPipeline.extractTextAudited(spark, bin, AutoPartitioner(TextPartitioner()), parallelism = 2)
    }
    assert(placing.jobs <= 1 && placing.bytesRead === 0L, placing)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Sort") && !plan.contains("rangepartitioning"), plan)
    // the action reads each file's bytes once
    val action = runDuring(assert(out.count() === 6))
    assert(action.bytesRead === (1 to 6).map(i => 5L * 40 * i).sum, action)
  }

  test("PipelineMain registers catalog tables (S4 saveAsTable + S12 SHOW TABLES)") {
    val out = Files.createTempDirectory("graft-pipe-out").toString
    graft.PipelineMain.run(spark, "/root/testdata/sf0.001", out, "spark join performance")
    val tables = spark.sql("SHOW TABLES IN graft").collect().map(_.getString(1)).toSet
    assert(Set("papers", "chunks", "index", "search_results").subsetOf(tables))
    assert(spark.table("graft.papers").count() > 0)
    assert(spark.table("graft.search_results").count() === 5)
    // data lives under outDir (external location, reference's volume layout)
    assert(Files.list(java.nio.file.Paths.get(out, "chunks")).count() > 0)
    // re-run is idempotent (DROP + overwrite, no stale-location writes)
    graft.PipelineMain.run(spark, "/root/testdata/sf0.001", out, "spark join performance")
    assert(spark.table("graft.index").count() ===
      spark.table("graft.chunks").count())
  }
}
