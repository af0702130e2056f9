package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OcrPipelineSpec extends SparkSpec {

  test("lptRepartition: greedy deal, bounded, stable, every row once") {
    import spark.implicits._
    // Pareto-ish sizes: a few heavy docs, a long light tail; two rows
    // share id 7 and two carry a null id
    val sizes = (1 to 40).map(i => 100000L / (i * i) + i)
    val rows = sizes.zipWithIndex.map { case (s, i) => (Option(i.toLong), s) } ++
      Seq((Some(7L), 5000L), (None, 300L), (None, 20L))
    val docs = rows.toDF("doc_id", "filesize")
    def bins(): Map[Int, Seq[(Option[Long], Long)]] =
      OcrPipeline.lptRepartition(docs, "filesize", 4).as[(Option[Long], Long)].rdd
        .mapPartitionsWithIndex((b, it) => it.map(b -> _)).collect().toSeq
        .groupMap(_._1)(_._2)
    val placed = bins()
    assert(placed.keySet.subsetOf((0 until 4).toSet))
    // every input row exactly once, null and repeated ids included
    assert(placed.values.flatten.toSeq.sortBy(_.toString) === rows.sortBy(_.toString))
    // rows sharing a doc_id land in one bin
    assert(placed.count(_._2.exists(_._1 === Some(7L))) === 1)
    assert(placed.count(_._2.exists(_._1.isEmpty)) === 1)
    // list-scheduling bound: max load ≤ mean load + largest document
    val loads = (0 until 4).map(b => placed.getOrElse(b, Nil).map(_._2).sum)
    val docCost = rows.groupMapReduce(_._1)(_._2)(_ + _)
    assert(loads.max <= loads.sum / 4.0 + docCost.values.max)
    // the four heaviest documents open the four bins
    assert(docCost.toSeq.sortBy(-_._2).take(4).map(_._1).map(k => placed.find(_._2.exists(_._1 === k)).get._1).toSet
      === (0 until 4).toSet)
    // the same placement on every run
    assert(bins().map { case (b, r) => b -> r.toSet } === placed.map { case (b, r) => b -> r.toSet })
  }

  test("extraction places a local frame with no job and no sort or range exchange") {
    import spark.implicits._
    val bin = (1 to 12).map(i => (i.toLong, Array.fill(i * 10)('a'.toByte), i * 10L))
      .toDF("doc_id", "content", "filesize")
    var out: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring {
      out = OcrPipeline.extractTextAudited(spark, bin, AutoPartitioner(TextPartitioner()), parallelism = 3)
    } === 0)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Sort") && !plan.contains("rangepartitioning"), plan)
    assert(out.rdd.getNumPartitions === 3)
    assert(out.as[(Long, String, String)].collect().map(r => r._1 -> r._2).toMap ===
      (1 to 12).map(i => i.toLong -> "a" * (i * 10)).toMap)
  }

  test("extractText: OCR seam, keyed (not positional) results") {
    val docs = Seq(
      (1L, "page one text here\f page two text".getBytes(StandardCharsets.UTF_8), 33L),
      (2L, "solo page".getBytes(StandardCharsets.UTF_8), 9L),
      (3L, Array.empty[Byte], 0L))
    val df = spark.createDataFrame(docs).toDF("doc_id", "content", "filesize")
    val out = OcrPipeline.extractText(spark, df, TextPartitioner(), parallelism = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "page one text here\npage two text")
    assert(out(2L) === "solo page")
    assert(out(3L) === "")
  }

  test("fetchMissing: idempotent skip via anti-join, null size on failure") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-src")
    val dstDir = Files.createTempDirectory("graft-dst")
    val okSrc = srcDir.resolve("a.pdf")
    Files.write(okSrc, "hello pdf bytes".getBytes(StandardCharsets.UTF_8))
    val work = Seq(
      (okSrc.toString, s"$dstDir/a.pdf"),
      (s"$srcDir/missing.pdf", s"$dstDir/missing.pdf"),
      (s"$srcDir/already.pdf", s"$dstDir/done.pdf")
    ).toDF("url", "filename")
    val done = Seq(s"$dstDir/done.pdf").toDF("filename")

    val res = Ingest.fetchMissing(spark, work, done, LocalFileFetcher())
      .collect().map(r => (r.getString(1), Option(r.get(2)), r.getBoolean(3)))
    assert(res.length === 2)                       // 'done.pdf' anti-joined away
    val byName = res.map(t => (t._1, (t._2, t._3))).toMap
    assert(byName(s"$dstDir/a.pdf") === (Some(15L), true))
    assert(byName(s"$dstDir/missing.pdf") === (None, false))
    assert(Files.exists(dstDir.resolve("a.pdf")))

    // re-run with a.pdf now done: nothing refetched, file untouched
    val before = Files.getLastModifiedTime(dstDir.resolve("a.pdf"))
    val res2 = Ingest.fetchMissing(spark, work,
      Seq(s"$dstDir/done.pdf", s"$dstDir/a.pdf").toDF("filename"), LocalFileFetcher())
      .collect()
    assert(res2.length === 1)
    assert(Files.getLastModifiedTime(dstDir.resolve("a.pdf")) === before)
  }

  test("buildPapers: limit-before-filter semantics preserved") {
    import spark.implicits._
    val docs = (0 until 150).map { i =>
      (i.toLong, s"word$i " * 30, "en", if (i % 10 == 0) null else s"src$i", 180L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val papers = OcrPipeline.buildPapers(docs, limitN = 100).collect()
    // 100 taken first (doc_id 0..99), THEN null-source rows dropped: 90 remain
    assert(papers.length === 90)
    assert(papers.map(_.getLong(0)).max <= 99)
    assert(papers.forall(r => r.getString(2).startsWith("pdfs/src")))
  }

  test("extractTextAudited: every demo container round-trips through " +
    "its real branch and the audit column names the path taken") {
    import spark.implicits._
    // doc_id mod 8 cycles Type0 PDF / simple PDF / predictor PDF /
    // plain bytes / ObjStm PDF / filter-chain PDF / image-only PDF /
    // encrypted PDF (PdfGen.demo) — one run drives every ExtractPath
    val texts = Map(
      0L -> "composite font document about catalyst plans",
      1L -> "simple font document about tungsten codegen",
      2L -> "predictor encoded document about shuffle exchange",
      3L -> "plain text bytes about broadcast joins",
      4L -> "object stream document about adaptive execution",
      5L -> "first filter page here\nsecond filter page there\nthird filter page done",
      6L -> "image only scanned page with no text layer",
      7L -> "encrypted but readable by design empty password",
      9L -> "winansi encoded document with typographic text",
      10L -> "differences remapped document about glyph names",
      15L -> "password locked document stays ciphertext",
      23L -> "aes256 xref stream container readable by design",
      31L -> "aes256 password locked document stays ciphertext")
    val bin = texts.toSeq.map { case (id, t) =>
      val b = PdfGen.demo(id, t)
      (id, b, b.length.toLong)
    }.toDF("doc_id", "content", "filesize")
    val got = OcrPipeline.extractTextAudited(
        spark, bin, AutoPartitioner(TextPartitioner()), parallelism = 2)
      .as[(Long, String, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // all text-bearing PDF containers take the REAL pure-JVM text layer
    assert(got(0L) === ((texts(0L), ExtractPath.PdfText)))
    assert(got(1L) === ((texts(1L), ExtractPath.PdfText)))
    assert(got(2L) === ((texts(2L), ExtractPath.PdfText)))
    assert(got(4L) === ((texts(4L), ExtractPath.PdfText)))
    // filter-chain: three pages (LZW, A85+Flate, AHx) → one element
    // per page, newline-joined by extractTextAudited
    assert(got(5L)._1.split('\n').toSeq ===
      texts(5L).split('\n').toSeq && got(5L)._2 === ExtractPath.PdfText)
    // plain bytes go straight to the seam base
    assert(got(3L) === ((texts(3L), ExtractPath.NonPdf)))
    // image-only PDFs route to the base partitioner under their own
    // audit bucket (the base sees binary bytes, so only the label is
    // pinned)
    assert(got(6L)._2 === ExtractPath.PdfImage)
    // empty-password RC4: the REAL decrypt path recovers the text
    assert(got(7L) === ((texts(7L), ExtractPath.PdfDecrypted)))
    // a real password stays ciphertext, own audit bucket
    assert(got(15L)._2 === ExtractPath.PdfEncrypted)
    // round-15 legs, live in the same cycle: WinAnsi and /Differences
    // encodings decode to the original text under pdf_text…
    assert(got(9L) === ((texts(9L), ExtractPath.PdfText)))
    assert(got(10L) === ((texts(10L), ExtractPath.PdfText)))
    // …and both AES-256 shapes take their crypto branches
    assert(got(23L) === ((texts(23L), ExtractPath.PdfDecrypted)))
    assert(got(31L)._2 === ExtractPath.PdfEncrypted)
  }
}
