package graft.streaming

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.pipeline.{Chunk, HashingEmbedder, Inference}
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{FileContext, Path => HPath}
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

class IncrementalIndexSpec extends SparkSpec {

  test("AvailableNow sync: embeds only new chunks, idempotent re-run") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream")
    val chunksDir = s"$base/chunks"
    val indexDir = s"$base/index"
    val ckpt = s"$base/ckpt"
    val e = HashingEmbedder(dim = 64)

    // batch 1
    Seq(Chunk(1L, 0, "1_0", "first chunk text for the index"),
        Chunk(2L, 0, "2_0", "second chunk text for the index"))
      .toDS().write.mode("append").parquet(chunksDir)
    IncrementalIndex.syncOnce(spark, chunksDir, indexDir, ckpt, e)
    assert(spark.read.parquet(indexDir).count() === 2)

    // batch 2 appended: only the delta is embedded
    Seq(Chunk(3L, 0, "3_0", "third chunk arrives later"))
      .toDS().write.mode("append").parquet(chunksDir)
    IncrementalIndex.syncOnce(spark, chunksDir, indexDir, ckpt, e)
    val idx = spark.read.parquet(indexDir)
    assert(idx.count() === 3)
    assert(idx.select("chunk_id").as[String].collect().sorted === Array("1_0", "2_0", "3_0"))

    // re-run with no new input: no duplicates (checkpointed exactly-once)
    IncrementalIndex.syncOnce(spark, chunksDir, indexDir, ckpt, e)
    assert(spark.read.parquet(indexDir).count() === 3)

    // embeddings identical to batch-mode inference
    val fromStream = idx.filter($"chunk_id" === "3_0")
      .select("embedding").as[Array[Float]].head()
    assert(fromStream.toSeq === e.embedOne("third chunk arrives later").toSeq)
  }

  test("extraction → chunk → AvailableNow sync parity on a MIXED binary " +
    "corpus (ObjStm, RC4- and AES-256-decryptable, locked, plain bytes)") {
    import spark.implicits._
    import graft.pipeline._
    val base = Files.createTempDirectory("graft-stream-mixed")
    val (chunksDir, indexDir, ckpt) = (s"$base/chunks", s"$base/index", s"$base/ckpt")
    val e = HashingEmbedder(dim = 32)
    def longText(tag: String) = (1 to 12).map(i =>
      s"$tag sentence number $i with enough characters to clear the filter")
      .mkString("\n")
    val docs = Seq(
      (1L, PdfGen.simple(longText("simplefont"))),
      (2L, PdfGen.objStm(longText("objstm"))),
      (3L, PdfGen.encrypted(longText("rcfouropen"))),      // RC4, readable by design
      (4L, PdfGen.encryptedAes256(longText("aesvfive"),    // V5/R6 behind an
        xrefTail = true)),                                 // xref-stream container
      (5L, PdfGen.encrypted(longText("lockedbody"), "hunter2")), // stays ciphertext
      (6L, longText("plainbytes").getBytes("UTF-8")),
      // r16 image-leg containers: no text layer, so they route to the
      // image leg (OCR renditions feed the stand-in) — the stream
      // parity below must hold over their chunks too
      (7L, PdfGen.subbitPdf(7L)),             // 3 mod 4: 1-bit /Indexed
      (8L, PdfGen.jbig2TextPdf(9L)),          // odd: /JBIG2Globals layout
      (9L, PdfGen.iccPdf(1L)))                // ICCBased RGB
    val binDocs = docs.map { case (id, b) => (id, b, b.length.toLong) }
      .toDF("doc_id", "content", "filesize")
    val extracted = OcrPipeline.extractTextAudited(
      spark, binDocs, AutoPartitioner(TextPartitioner()), parallelism = 4)
    // every extraction branch fired where expected
    val paths = extracted.select($"doc_id", $"extract_path")
      .as[(Long, String)].collect().toMap
    assert(paths(1L) === ExtractPath.PdfText)
    assert(paths(2L) === ExtractPath.PdfText)
    assert(paths(3L) === ExtractPath.PdfDecrypted)
    assert(paths(4L) === ExtractPath.PdfDecrypted)
    assert(paths(5L) === ExtractPath.PdfEncrypted)
    assert(paths(6L) === ExtractPath.NonPdf)
    assert(paths(7L) === ExtractPath.PdfImage)
    assert(paths(8L) === ExtractPath.PdfImage)
    assert(paths(9L) === ExtractPath.PdfImage)
    val chunks = Inference.chunkDocuments(
      spark, extracted.select($"doc_id", $"text"), width = 120)
    // batch reference: extraction + chunking + embedding in one pass
    val batchRef = Inference.embedChunks(chunks, e).collect()
      .map(c => (c.chunk_id, c.chunk, c.embedding.toSeq)).toSet
    assert(batchRef.nonEmpty)
    // streaming: first wave, then the decrypt-leg docs arrive as a
    // LATER delta — the sync must embed exactly the new chunks
    chunks.filter($"doc_id" <= 2L).write.mode("append").parquet(chunksDir)
    IncrementalIndex.syncOnce(spark, chunksDir, indexDir, ckpt, e)
    chunks.filter($"doc_id" > 2L).write.mode("append").parquet(chunksDir)
    IncrementalIndex.syncOnce(spark, chunksDir, indexDir, ckpt, e)
    val streamed = spark.read.parquet(indexDir)
      .select($"chunk_id", $"chunk", $"embedding")
      .as[(String, String, Array[Float])]
      .collect().map { case (id, c, v) => (id, c, v.toSeq) }.toSet
    assert(streamed === batchRef, "stream chunk set must equal batch")
    // the decrypted text layers really are in the index…
    assert(streamed.exists(_._2.contains("rcfouropen")))
    assert(streamed.exists(_._2.contains("aesvfive")))
    // …and the locked document's plaintext is not (ciphertext only)
    assert(!streamed.exists(_._2.contains("lockedbody")))
  }

  /** One parquet file of `ids`' chunks, written as `dest` exactly,
    * with its `.crc` beside it as Spark writes one. */
  private def chunkFile(dest: Path, ids: Seq[String]): Unit = {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-chunk-file").resolve("out")
    ids.zipWithIndex.map { case (id, i) => Chunk(i.toLong, 0, id, s"text of chunk $id") }
      .toDS().coalesce(1).write.parquet(out.toString)
    val part = Files.list(out).iterator.asScala.map(_.getFileName.toString)
      .find(_.startsWith("part-")).get
    Files.createDirectories(dest.getParent)
    Files.move(out.resolve(part), dest)
    Files.move(out.resolve(s".$part.crc"), dest.resolveSibling(s".${dest.getFileName}.crc"))
  }

  private def indexed(indexDir: String): Seq[String] = {
    import spark.implicits._
    spark.read.parquet(indexDir).select("chunk_id").as[String].collect().toSeq.sorted
  }

  private def batches(indexDir: String): Seq[String] =
    Files.list(Paths.get(indexDir)).iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("batch=")).toSeq.sorted

  test("sync: a lost checkpoint next to a surviving index throws") {
    val base = Files.createTempDirectory("graft-sync-lost")
    val (chunksDir, indexDir, ckpt) = (s"$base/chunks", s"$base/index", s"$base/ckpt")
    val e = HashingEmbedder(dim = 16)
    chunkFile(base.resolve("chunks/a.parquet"), Seq("a0", "a1"))
    IncrementalIndex.syncOnce(spark, chunksDir, indexDir, ckpt, e)
    assert(indexed(indexDir) === Seq("a0", "a1"))
    FileUtils.deleteDirectory(new File(ckpt))
    chunkFile(base.resolve("chunks/b.parquet"), Seq("b0"))
    val err = intercept[IllegalStateException] {
      IncrementalIndex.syncOnce(spark, chunksDir, indexDir, ckpt, e)
    }
    assert(err.getMessage.contains("checkpoint"))
    assert(batches(indexDir) === Seq("batch=0"))
    assert(indexed(indexDir) === Seq("a0", "a1"))
  }

  test("sync: a checkpoint of the Structured Streaming sync throws, naming the reset") {
    import spark.implicits._
    val e = HashingEmbedder(dim = 16)
    def rejected(base: Path): Unit = {
      val (chunksDir, indexDir, ckpt) = (s"$base/chunks", s"$base/index", s"$base/ckpt")
      val before = indexed(indexDir)
      chunkFile(base.resolve("chunks/late.parquet"), Seq("late0"))
      val err = intercept[IllegalStateException] {
        IncrementalIndex.syncOnce(spark, chunksDir, indexDir, ckpt, e)
      }
      assert(err.getMessage.contains("delete the index"), err.getMessage)
      assert(err.getMessage.contains("checkpoint"), err.getMessage)
      assert(indexed(indexDir) === before, "nothing may be re-embedded")
      assert(!Files.exists(base.resolve("ckpt/plan")))
    }
    // a checkpoint as the streaming sync wrote it: offsets/, commits/,
    // sources/ and a metadata file
    val real = Files.createTempDirectory("graft-sync-streamed")
    chunkFile(real.resolve("chunks/a.parquet"), Seq("a0", "a1"))
    spark.readStream.schema(IncrementalIndex.chunkSchema).parquet(s"$real/chunks")
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$real/ckpt")
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        Inference.embedChunks(batch.as[Chunk], e)
          .write.mode("overwrite").parquet(s"$real/index/batch=$id")
        ()
      }
      .start().awaitTermination()
    assert(Files.isDirectory(real.resolve("ckpt/offsets")))
    rejected(real)
    // either entry alone is enough
    for (entry <- Seq("offsets/0", "metadata")) {
      val base = Files.createTempDirectory("graft-sync-entry")
      chunkFile(base.resolve("chunks/a.parquet"), Seq("a0"))
      IncrementalIndex.syncOnce(spark, s"$base/chunks", s"$base/index", s"$base/ckpt", e)
      FileUtils.deleteDirectory(base.resolve("ckpt").toFile)
      Files.createDirectories(base.resolve(s"ckpt/$entry").getParent)
      Files.write(base.resolve(s"ckpt/$entry"), "{}".getBytes("UTF-8"))
      rejected(base)
    }
  }

  test("sync: an uncommitted plan is replayed with exactly its files") {
    val base = Files.createTempDirectory("graft-sync-replay")
    val (chunksDir, indexDir, ckpt) = (s"$base/chunks", s"$base/index", s"$base/ckpt")
    val e = HashingEmbedder(dim = 16)
    chunkFile(base.resolve("chunks/a.parquet"), Seq("a0", "a1"))
    chunkFile(base.resolve("chunks/b.parquet"), Seq("b0"))
    IncrementalIndex.syncOnce(spark, chunksDir, indexDir, ckpt, e)
    // a crash between the sink write and the commit
    FileContext.getLocalFSFileContext.delete(new HPath(s"$ckpt/commit/0"), false)
    chunkFile(base.resolve("chunks/c.parquet"), Seq("c0", "c1"))
    IncrementalIndex.syncOnce(spark, chunksDir, indexDir, ckpt, e)
    assert(batches(indexDir) === Seq("batch=0"))
    assert(indexed(indexDir) === Seq("a0", "a1", "b0"), "no duplicate rows, c.parquet absent")
    IncrementalIndex.syncOnce(spark, chunksDir, indexDir, ckpt, e)
    assert(batches(indexDir) === Seq("batch=0", "batch=1"))
    assert(indexed(s"$indexDir/batch=1") === Seq("c0", "c1"))
    assert(indexed(indexDir) === Seq("a0", "a1", "b0", "c0", "c1"))
  }

  test("sync: one job with new files, none without, and no streaming query") {
    val base = Files.createTempDirectory("graft-sync-jobs")
    val (chunksDir, indexDir, ckpt) = (s"$base/chunks", s"$base/index", s"$base/ckpt")
    val e = HashingEmbedder(dim = 16)
    val started = new AtomicInteger
    val listener = new StreamingQueryListener {
      override def onQueryStarted(q: StreamingQueryListener.QueryStartedEvent): Unit =
        started.incrementAndGet()
      override def onQueryProgress(q: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(q: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      def sync(): Int = jobsDuring {
        IncrementalIndex.syncOnce(spark, chunksDir, indexDir, ckpt, e)
        assert(spark.streams.active.isEmpty)
      }
      chunkFile(base.resolve("chunks/a.parquet"), Seq("a0", "a1"))
      assert(sync() === 1)
      assert(sync() === 0)
      chunkFile(base.resolve("chunks/b.parquet"), Seq("b0"))
      chunkFile(base.resolve("chunks/c.parquet"), Seq("c0"))
      assert(sync() === 1)
      assert(sync() === 0)
      assert(indexed(indexDir) === Seq("a0", "a1", "b0", "c0"))
    } finally spark.streams.removeListener(listener)
    assert(started.get === 0, "a sync started a streaming query")
  }

  test("sync: a batch write leaves no _SUCCESS marker; commit/N records it") {
    val base = Files.createTempDirectory("graft-sync-marker")
    val (chunksDir, indexDir, ckpt) = (s"$base/chunks", s"$base/index", s"$base/ckpt")
    val e = HashingEmbedder(dim = 16)
    chunkFile(base.resolve("chunks/a.parquet"), Seq("a0", "a1"))
    IncrementalIndex.syncOnce(spark, chunksDir, indexDir, ckpt, e)
    chunkFile(base.resolve("chunks/b.parquet"), Seq("b0"))
    IncrementalIndex.syncOnce(spark, chunksDir, indexDir, ckpt, e)
    assert(batches(indexDir) === Seq("batch=0", "batch=1"))
    Seq(0, 1).foreach { n =>
      assert(!Files.exists(Paths.get(indexDir, s"batch=$n", "_SUCCESS")), s"batch=$n")
      assert(Files.exists(Paths.get(ckpt, "commit", n.toString)), s"commit/$n")
    }
    assert(indexed(indexDir) === Seq("a0", "a1", "b0"))
  }

  test("sync: odd file names round-trip, hidden entries are never read") {
    val base = Files.createTempDirectory("graft-sync-paths")
    val (chunksDir, indexDir, ckpt) = (s"$base/chunks", s"$base/index", s"$base/ckpt")
    val e = HashingEmbedder(dim = 16)
    val chunks = base.resolve("chunks")
    // each odd name sits next to the file a glob or an unescaping
    // reading of it would name instead
    val visible = Seq("e f.parquet", "e%20f.parquet", "d[1].parquet", "d1.parquet",
      "c{a,b}.parquet", "ca.parquet", "cb.parquet", "sub/deep one.parquet")
    visible.zipWithIndex.foreach { case (name, i) =>
      chunkFile(chunks.resolve(name), Seq(s"v${i}_0", s"v${i}_1"))
    }
    chunkFile(chunks.resolve("_temporary/0/part-00000.parquet"), Seq("hidden_tmp"))
    chunkFile(chunks.resolve(".staged.parquet"), Seq("hidden_dot"))
    chunkFile(chunks.resolve("_hidden.parquet"), Seq("hidden_underscore"))
    Files.write(chunks.resolve("_SUCCESS"), Array.emptyByteArray)
    Files.write(chunks.resolve(".orphan.parquet.crc"), "not parquet".getBytes("UTF-8"))
    val expected = visible.indices.flatMap(i => Seq(s"v${i}_0", s"v${i}_1")).sorted
    IncrementalIndex.syncOnce(spark, chunksDir, indexDir, ckpt, e)
    assert(indexed(indexDir) === expected)
    // committed names are recognised again: nothing new, no batch
    IncrementalIndex.syncOnce(spark, chunksDir, indexDir, ckpt, e)
    assert(batches(indexDir) === Seq("batch=0"))
    chunkFile(chunks.resolve("g [2] {x}.parquet"), Seq("late_0"))
    IncrementalIndex.syncOnce(spark, chunksDir, indexDir, ckpt, e)
    assert(indexed(s"$indexDir/batch=1") === Seq("late_0"))
    assert(indexed(indexDir) === (expected :+ "late_0").sorted)
  }

  test("windowedEventStats: streaming AvailableNow result matches batch") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-events")
    val eventsDir = s"$base/events"
    val rows = Seq(
      ("2024-01-01 00:05:00", "click", 1.0),
      ("2024-01-01 00:55:00", "click", 2.0),
      ("2024-01-01 01:10:00", "view", 5.0),
      ("2024-01-01 02:01:00", "click", 7.0))
      .toDF("ts_s", "event_type", "value")
      .select(to_timestamp($"ts_s").as("ts"), $"event_type", $"value")
    rows.write.parquet(eventsDir)

    val batchResult = IncrementalIndex.windowedEventStats(rows)
      .orderBy("hour_start", "event_type").collect().toSeq

    val stream = spark.readStream.schema(rows.schema).parquet(eventsDir)
    val q = IncrementalIndex.windowedEventStats(stream)
      .writeStream.format("memory").queryName("winstats")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamResult = spark.table("winstats")
      .orderBy("hour_start", "event_type").collect().toSeq
    assert(streamResult === batchResult)
    assert(batchResult.map(_.getLong(2)).sum === 4)
  }
}
