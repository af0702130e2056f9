package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.pipeline.{ExtractPath, PartitionStrategy}

/** The workloads. A run has a set-up — one corpus generation; a
  * checked warm-up ingest pass in the layered form, then one in the
  * lazy form; a serving index built by `IncrementalIndex.syncOnce` —
  * and a timed phase in two parts: whole-corpus ingest passes for
  * [[IngestShare]] of `--seconds` (at least [[MinPasses]]), then the
  * serving loop ([[Serve.loop]]) for the rest of `--seconds`, however
  * long the passes took. */
object Workloads {
  val Names = Seq("ingest_pdf", "curate_text")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ingest_docs_per_s" -> "docs/s", "search_p50_ms" -> "ms",
    "search_p95_ms" -> "ms", "refresh_p50_ms" -> "ms", "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "session.create_s" -> "s", "session.install_s" -> "s", "corpus.gen_s" -> "s", "warmup_s" -> "s",
    "read.s" -> "s", "read.bytes" -> "bytes",
    "extract.s" -> "s", "extract.task_cpu_s" -> "s", "extract.gc_s" -> "s",
    "extract.shuffle_bytes" -> "bytes", "extract.task_max_to_median" -> "ratio",
    "extract.doc_p50_ms" -> "ms", "extract.doc_p99_ms" -> "ms", "extract.parallel_eff" -> "ratio",
    "extract.nonempty_ratio" -> "ratio") ++
    Seq(ExtractPath.PdfText, ExtractPath.PdfImage, ExtractPath.PdfDecrypted,
      ExtractPath.PdfEncrypted, ExtractPath.PdfFallback, ExtractPath.NonPdf)
      .map(p => s"extract.docs.$p" -> "count") ++ Seq(
    "chunk.s" -> "s", "chunk.rows" -> "count", "chunk.shuffle_bytes" -> "bytes",
    "dedup.exact_s" -> "s", "dedup.near_s" -> "s", "dedup.pairs" -> "count",
    "dedup.removed_docs" -> "count", "dedup.shuffle_bytes" -> "bytes",
    "dedup.shuffle_records" -> "count", "dedup.spill_bytes" -> "bytes",
    "dedup.task_max_to_median" -> "ratio",
    "embed.s" -> "s", "embed.chunks" -> "count", "embed.batches" -> "count", "embed.task_cpu_s" -> "s",
    "index_write.s" -> "s", "index_write.bytes" -> "bytes", "index_write.files" -> "count",
    "search.plan_ms" -> "ms", "search.exec_ms" -> "ms", "search.jobs" -> "count",
    "search.tasks" -> "count", "search.rows_scanned" -> "count",
    "refresh.s" -> "s", "refresh.rows" -> "count", "refresh.files_added" -> "count",
    "index.files_total" -> "count", "index.bytes_total" -> "bytes",
    "trace.overhead_frac" -> "ratio")

  val IngestShare = 0.35
  /** ingest passes per run at least, whatever the time */
  val MinPasses = 3
  val WarmSearches = 2
  val QueryCount = 97

  /** `jvmStartMs`: the JVM's start, in epoch milliseconds. */
  def run(r: Run, jvmStartMs: Long): Unit = {
    // every run fills the per-layer table; a layer a workload never
    // calls reads 0
    PerLayer.foreach { case (n, u) => if (!r.metrics.contains(n)) r.put(n, 0.0, u) }
    val seed = r.o.seed
    val queries = Corpus.queries(seed, QueryCount)
    val deltas = Iterator.from(0).map(j =>
      Corpus.textDocs(seed, 100L + j, 1000000000L + j.toLong * Corpus.DeltaDocs, Corpus.DeltaDocs))
    val idx = new ServeIndex(r.spark, r.dir("serve"))

    val warm =
      if (r.o.workload == "ingest_pdf") { val c = generate(r)(genPdf(r)); () => warmPdf(r, c) }
      else { val c = generate(r)(genCurate(r)); () => warmCurate(r, c) }
    val w0 = System.nanoTime()
    val (pass, docs, rows) = warm()
    // the measured lazy form plans and compiles other code than the
    // layered warm-up pass did, so its first run is warm-up too
    r.timed("setup_lazy_pass_s") {
      val p = pass(false)
      r.check(p.rows == rows, s"warm-up lazy pass: index rows ${p.rows} != chunk rows $rows")
      r.spark.catalog.clearCache()
      deleteTree(r.dir("pass"))
    }
    r.timed("setup_serve_s") {
      buildServeIndex(r, idx)
      for (i <- 0 until WarmSearches) Serve.search(r, idx, queries(i))
      Serve.refresh(r, idx, deltas.next())
    }
    r.put("warmup_s", (System.nanoTime() - w0) / 1e9, "s")
    r.put("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1e3, "s")
    r.samples("warmup_spans_s") = r.tracer.spans.toSeq.take(12).map(x => s"${x._1}=${"%.2f".format(x._3)}")
    r.tracer.reset()

    val start = System.nanoTime()
    val gc0 = gcMs
    ingestLoop(r, pass, docs, rows, start + (r.o.seconds * IngestShare * 1e9).toLong)
    val gc1 = gcMs
    val serveStart = System.nanoTime()
    val s = Serve.loop(r, idx, queries, deltas, serveStart + (r.o.seconds * (1 - IngestShare) * 1e9).toLong)
    r.samples("timed_s") = (System.nanoTime() - start) / 1e9
    r.samples("gc_ms_ingest_serve") = Seq(gc1 - gc0, gcMs - gc1)
    Serve.bruteForceCheck(r, idx, queries.take(3))

    val p95 = Stats.quantile(s.searchMs, 0.95)
    r.samples ++= Seq("searches" -> s.searchMs.size, "searches_beyond_p95" -> s.searchMs.count(_ > p95),
      "refreshes" -> s.refreshMs.size, "index_rows" -> idx.rows,
      "search_ms" -> s.searchMs.map(_.round), "refresh_ms" -> s.refreshMs.map(_.round))
    r.put("search_p50_ms", Stats.median(s.searchMs), "ms")
    r.put("search_p95_ms", p95, "ms")
    r.put("refresh_p50_ms", Stats.median(s.refreshMs), "ms")
    r.put("peak_rss_mb", peakRssMb, "MB")
    if (r.tracer.enabled) serveLayers(r, idx, s)
  }

  /** Corpus generation into a fresh directory, timed as `corpus.gen_s`. */
  private def generate[A](r: Run)(gen: Path => A): A = {
    val t0 = System.nanoTime()
    val a = gen(r.dir("corpus"))
    r.put("corpus.gen_s", (System.nanoTime() - t0) / 1e9, "s")
    a
  }

  // ---- ingest_pdf ----

  private def genPdf(r: Run)(d: Path): Seq[Corpus.PdfDoc] = {
    val docs = Corpus.pdfDocs(r.o.seed)
    Corpus.writePdfs(docs, d)
    docs
  }

  private def warmPdf(r: Run, docs: Seq[Corpus.PdfDoc]): (Boolean => Pipeline.Pass, Long, Long) = {
    val spark = r.spark
    val dir = r.dir("corpus").toString
    r.put("read.bytes", docs.map(_.bytes.length.toLong).sum.toDouble, "bytes")
    val pass = r.timed("setup_pass_s")(
      Pipeline.pdf(spark, r.tracer, dir, r.dir("warmup-index").toString, layered = true))
    r.timed("setup_extract_check_s")(checkExtraction(r, docs, pass))
    val chunkRows = r.timed("setup_chunk_check_s")(chunkChecks(r, pass))
    spark.catalog.clearCache()
    if (r.tracer.enabled) docTimes(r, docs)
    (layered => Pipeline.pdf(spark, r.tracer, dir, r.dir("pass").toString, layered),
      docs.size.toLong, chunkRows)
  }

  /** Every document's extraction route is the one `PdfGen.demo`'s
    * residue rule predicts, and every text-bearing document gives back
    * its generated text, whitespace aside. */
  private def checkExtraction(r: Run, docs: Seq[Corpus.PdfDoc], pass: Pipeline.Pass): Unit = {
    val got = pass.extracted.get.select("doc_id", "extract_path", "text").collect()
      .map(row => row.getLong(0) -> (row.getString(1), row.getString(2))).toMap
    r.check(got.size == docs.size, s"extracted ${got.size} of ${docs.size} documents")
    val wrong = docs.filter { d =>
      val (path, text) = got(d.id)
      path != d.expectedPath ||
        (d.textBearing && Corpus.normalize(text) != Corpus.normalize(d.expectedText))
    }
    r.check(wrong.isEmpty, s"${wrong.size} documents extracted wrongly, first ids " +
      wrong.take(5).map(d => s"${d.id}:${got(d.id)._1}").mkString(","))
    got.values.groupBy(_._1).foreach { case (p, xs) => r.put(s"extract.docs.$p", xs.size, "count") }
    r.put("extract.nonempty_ratio", got.values.count(_._2.nonEmpty).toDouble / got.size, "ratio")
  }

  /** Index rows equal chunk rows; records the chunk and batch counts. */
  private def chunkChecks(r: Run, pass: Pipeline.Pass): Long = {
    val chunks = pass.chunks.get
    val rows = chunks.count()
    r.check(pass.rows == rows, s"index rows ${pass.rows} != chunk rows $rows")
    val batches = chunks.rdd.mapPartitions(it => Iterator(it.size)).collect()
      .map(n => (n + Program.batchSize - 1) / Program.batchSize).sum
    r.put("chunk.rows", rows.toDouble, "count")
    r.put("embed.chunks", rows.toDouble, "count")
    r.put("embed.batches", batches, "count")
    rows
  }

  /** Single-threaded `partitionWithPath` on every document, for the
    * per-document latency tail and the parallel-efficiency base. */
  private def docTimes(r: Run, docs: Seq[Corpus.PdfDoc]): Unit = {
    val ms = docs.map { d =>
      val t0 = System.nanoTime()
      Program.partitioner.partitionWithPath(d.bytes, PartitionStrategy.OcrOnly)
      (System.nanoTime() - t0) / 1e6
    }
    r.put("extract.doc_p50_ms", Stats.median(ms), "ms")
    r.put("extract.doc_p99_ms", Stats.quantile(ms, 0.99), "ms")
    r.samples("extract_doc_ms_sum") = ms.sum
  }

  // ---- curate_text ----

  private def genCurate(r: Run)(d: Path): Corpus.CurateCorpus = {
    val spark = r.spark
    import spark.implicits._
    val c = Corpus.curateCorpus(r.o.seed)
    c.texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "synthetic", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(d.toString)
    c
  }

  private def warmCurate(r: Run, corpus: Corpus.CurateCorpus): (Boolean => Pipeline.Pass, Long, Long) = {
    val spark = r.spark
    val dir = r.dir("corpus").toString
    val pass = r.timed("setup_pass_s")(
      Pipeline.curate(spark, r.tracer, dir, r.dir("warmup-index").toString, layered = true))
    r.timed("setup_dedup_check_s")(checkDedup(r, corpus, pass))
    val chunkRows = r.timed("setup_chunk_check_s")(chunkChecks(r, pass))
    spark.catalog.clearCache()
    (layered => Pipeline.curate(spark, r.tracer, dir, r.dir("pass").toString, layered),
      corpus.texts.size.toLong, chunkRows)
  }

  /** Every planted exact copy and near-duplicate twin is removed; the
    * removed set is exactly the exact copies plus the higher id of each
    * reported pair; and every reported pair really is above the
    * threshold, by a driver-side Jaccard over the generated tokens. */
  private def checkDedup(r: Run, c: Corpus.CurateCorpus, pass: Pipeline.Pass): Unit = {
    val kept = pass.kept.get.select("doc_id").collect().map(_.getLong(0)).toSet
    val pairs = pass.pairs.get.select("id_a", "id_b").collect().map(row => (row.getLong(0), row.getLong(1)))
    val removed = c.texts.indices.map(_.toLong).filterNot(kept).toSet
    val missed = (c.twins ++ c.copies) -- removed
    r.check(missed.isEmpty, s"${missed.size} planted duplicates kept, e.g. ${missed.take(5)}")
    r.check(removed == c.copies ++ pairs.map(_._2),
      s"removed ${removed.size} docs, expected exact copies + pair members")
    def toks(id: Long) = c.texts(id.toInt).split(" ").toSet
    val bad = pairs.filterNot { case (a, b) =>
      val (x, y) = (toks(a), toks(b))
      a < b && (x & y).size.toDouble / (x | y).size > Corpus.NearDupThreshold
    }
    r.check(bad.isEmpty, s"${bad.length} reported pairs not above the threshold, e.g. ${bad.take(3).toSeq}")
    r.put("dedup.pairs", pairs.length, "count")
    r.put("dedup.removed_docs", removed.size, "count")
  }

  // ---- serving index ----

  /** The serving index: seeded text documents written as a `documents`
    * table, chunked, and synced in by `IncrementalIndex.syncOnce`. */
  private def buildServeIndex(r: Run, idx: ServeIndex): Unit = {
    val spark = r.spark
    import spark.implicits._
    val dir = r.dir("serve-docs").toString
    Corpus.textDocs(r.o.seed, 4, 0, Corpus.ServeDocs).toDF("doc_id", "text").write.parquet(dir)
    idx.append(graft.pipeline.Inference.chunkDocuments(spark, spark.read.parquet(dir),
      Program.chunkWidth, Program.minChars))
    idx.rows = idx.table.count()
  }

  // ---- timed ingest passes ----

  /** Whole-corpus passes until `until` (at least [[MinPasses]]), each
    * checked for index rows = chunk rows. When tracing, passes alternate
    * between the lazy and the layered form; their median ratio is the
    * tracing overhead. */
  private def ingestLoop(r: Run, pass: Boolean => Pipeline.Pass, docs: Long, rows: Long,
      until: Long): Unit = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val layeredWalls = mutable.ArrayBuffer.empty[Double]
    val minPasses = if (r.tracer.enabled) 2 * MinPasses else MinPasses
    var i = 0
    while (i < minPasses || System.nanoTime() < until) {
      val layered = r.tracer.enabled && i % 2 == 1
      r.op {
        val t0 = System.nanoTime()
        val p = pass(layered)
        val secs = (System.nanoTime() - t0) / 1e9
        r.check(p.rows == rows, s"ingest pass $i: index rows ${p.rows} != chunk rows $rows")
        if (layered) {
          layeredWalls += secs
          val (files, bytes) = dataFiles(r.dir("pass"))
          r.put("index_write.files", files, "count")
          r.put("index_write.bytes", bytes.toDouble, "bytes")
        } else walls += secs
      }
      r.spark.catalog.clearCache()
      deleteTree(r.dir("pass"))
      i += 1
    }
    r.samples("ingest_pass_s") = walls.toSeq
    r.put("ingest_docs_per_s", docs / Stats.median(walls.toSeq), "docs/s")
    if (r.tracer.enabled) {
      r.samples("ingest_layered_pass_s") = layeredWalls.toSeq
      r.put("trace.overhead_frac", Stats.median(layeredWalls.toSeq) / Stats.median(walls.toSeq) - 1, "ratio")
      ingestLayers(r)
    }
  }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  private def ingestLayers(r: Run): Unit = {
    val t = r.tracer
    def counters(layer: String) = t.counters(layer).map(_._1)
    def put(name: String, layer: String, unit: String)(f: SpanCounters => Double): Unit =
      r.put(name, med(counters(layer).map(f)), unit)
    for (l <- Seq("read", "extract", "chunk", "embed", "index_write"))
      r.put(s"$l.s", med(t.seconds(l)), "s")
    r.put("dedup.exact_s", med(t.seconds("dedup.exact")), "s")
    r.put("dedup.near_s", med(t.seconds("dedup.near")), "s")
    put("extract.task_cpu_s", "extract", "s")(_.cpuNs / 1e9)
    put("extract.gc_s", "extract", "s")(_.gcMs / 1e3)
    put("extract.shuffle_bytes", "extract", "bytes")(_.shuffleWriteBytes.toDouble)
    put("extract.task_max_to_median", "extract", "ratio")(_.taskMaxToMedian)
    put("chunk.shuffle_bytes", "chunk", "bytes")(_.shuffleWriteBytes.toDouble)
    put("embed.task_cpu_s", "embed", "s")(_.cpuNs / 1e9)
    val dedup = counters("dedup.exact").zip(counters("dedup.near"))
    r.put("dedup.shuffle_bytes", med(dedup.map { case (a, b) =>
      (a.shuffleWriteBytes + b.shuffleWriteBytes).toDouble }), "bytes")
    r.put("dedup.shuffle_records", med(dedup.map { case (a, b) =>
      (a.shuffleWriteRecords + b.shuffleWriteRecords).toDouble }), "count")
    r.put("dedup.spill_bytes", med(dedup.map { case (a, b) => (a.spillBytes + b.spillBytes).toDouble }), "bytes")
    put("dedup.task_max_to_median", "dedup.near", "ratio")(_.taskMaxToMedian)
    r.samples.get("extract_doc_ms_sum").foreach { case sumMs: Double =>
      val extractS = r.metrics("extract.s")._1
      if (extractS > 0) r.put("extract.parallel_eff", sumMs / 1e3 / (r.o.cores * extractS), "ratio")
    }
  }

  private def serveLayers(r: Run, idx: ServeIndex, s: Serve.Samples): Unit = {
    val searches = r.tracer.counters("search")
    val plan = searches.collect { case (c, start, _) if c.jobs > 0 => (c.firstJobStartMs - start).toDouble }
    r.put("search.plan_ms", med(plan), "ms")
    r.put("search.exec_ms", med(searches.collect { case (c, start, secs) if c.jobs > 0 =>
      secs * 1e3 - (c.firstJobStartMs - start) }), "ms")
    r.put("search.jobs", med(searches.map(_._1.jobs.toDouble)), "count")
    r.put("search.tasks", med(searches.map(_._1.tasks.toDouble)), "count")
    r.put("search.rows_scanned", med(searches.map(_._1.inputRecords.toDouble)), "count")
    r.put("refresh.s", med(r.tracer.seconds("refresh")), "s")
    r.put("refresh.rows", med(s.refreshRows.map(_.toDouble)), "count")
    r.put("refresh.files_added", med(s.filesAdded.map(_.toDouble)), "count")
    val (files, bytes) = idx.files
    r.put("index.files_total", files, "count")
    r.put("index.bytes_total", bytes.toDouble, "bytes")
  }

  // ---- files ----

  /** Every path under `dir`, `dir` included; the listing is closed on return. */
  def walk[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.walk(dir)
    try f(s.iterator.asScala) finally s.close()
  }

  /** (parquet data files, bytes) under `dir` */
  def dataFiles(dir: Path): (Int, Long) =
    if (!Files.exists(dir)) (0, 0L)
    else walk(dir)(_.filter(_.getFileName.toString.endsWith(".parquet"))
      .foldLeft((0, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) })

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) walk(dir)(_.toSeq.sorted(Ordering[Path].reverse).foreach(Files.delete))

  /** collection time of this JVM so far, in ms */
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** VmHWM of this JVM, in MB */
  private def peakRssMb: Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}
