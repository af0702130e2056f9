package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.pipeline.{CharWindowChunker, Chunk, Inference, VectorSearch}
import graft.streaming.IncrementalIndex

/** An index kept by `IncrementalIndex.syncOnce`: chunk files land in
  * `chunks/`, each sync embeds the new ones into `index/batch=<id>`. */
final class ServeIndex(spark: SparkSession, root: Path) {
  val chunksDir: Path = Files.createDirectories(root.resolve("chunks"))
  val indexDir: Path = root.resolve("index")
  private val ckptDir = root.resolve("ckpt")
  private val staging = root.resolve("staging")
  private var appended = 0
  /** index rows, as last counted */
  var rows = 0L

  /** Adds `chunks` as new files of the chunk directory — written aside,
    * then renamed in, so the file source never lists a partial file —
    * and syncs the index. */
  def append(chunks: Dataset[Chunk]): Unit = {
    val out = staging.resolve(s"a$appended")
    chunks.write.parquet(out.toString)
    Workloads.walk(out)(_.filter(_.getFileName.toString.startsWith("part-")).toList)
      .zipWithIndex.foreach { case (f, i) =>
        Files.move(f, chunksDir.resolve(f"a$appended%05d-$i%04d.parquet"))
      }
    appended += 1
    IncrementalIndex.syncOnce(spark, chunksDir.toString, indexDir.toString,
      ckptDir.toString, Program.embedder, Program.batchSize)
  }

  def table: DataFrame = spark.read.parquet(indexDir.toString)

  /** (data files, bytes) of the index */
  def files: (Int, Long) = Workloads.dataFiles(indexDir)
}

/** One client in a closed loop over a [[ServeIndex]]: top-k searches,
  * and a refresh — a delta of new documents chunked and synced into the
  * index — after every `RefreshEvery` searches. Every search re-reads
  * the index. */
object Serve {
  val RefreshEvery = 5

  final case class Samples(
      searchMs: Vector[Double] = Vector.empty,
      refreshMs: Vector[Double] = Vector.empty,
      refreshRows: Vector[Long] = Vector.empty,
      filesAdded: Vector[Int] = Vector.empty)

  private val chunker = CharWindowChunker(Program.chunkWidth, Program.minChars)

  /** One search, checked: min(k, rows) rows, ordered by (sim desc, id). */
  def search(r: Run, idx: ServeIndex, q: String): (Double, Array[(String, Double)]) = {
    val t0 = System.nanoTime()
    val hits = r.tracer.span("search") {
      VectorSearch.searchText(idx.table, "embedding", "chunk_id", q, Program.embedder, Program.k)
        .select("chunk_id", "sim").collect()
    }.map(row => (row.getString(0), row.getDouble(1)))
    val ms = (System.nanoTime() - t0) / 1e6
    r.check(hits.length == math.min(Program.k.toLong, idx.rows),
      s"search '$q' returned ${hits.length} rows over ${idx.rows}")
    r.check(hits.sliding(2).forall {
      case Array(a, b) => before(a, b) || a == b
      case _ => true
    }, s"search '$q' rows out of (sim desc, id) order")
    (ms, hits)
  }

  /** Spark's descending order on doubles puts NaN first. */
  private def before(a: (String, Double), b: (String, Double)): Boolean =
    if (a._2.isNaN != b._2.isNaN) a._2.isNaN
    else if (a._2 != b._2 && !a._2.isNaN) a._2 > b._2
    else a._1 < b._1

  /** One refresh, checked: the index grows by exactly the delta's chunks. */
  def refresh(r: Run, idx: ServeIndex, docs: Seq[(Long, String)]): (Double, Long, Int) = {
    val spark = r.spark
    import spark.implicits._
    val delta = docs.map(d => chunker.chunk(d._2).size.toLong).sum
    val filesBefore = idx.files._1
    val t0 = System.nanoTime()
    r.tracer.span("refresh") {
      idx.append(Inference.chunkDocuments(spark, docs.toDF("doc_id", "text"),
        Program.chunkWidth, Program.minChars))
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val now = idx.table.count()
    r.check(now == idx.rows + delta, s"refresh: index rows ${idx.rows} + $delta != $now")
    idx.rows = now
    (ms, delta, idx.files._1 - filesBefore)
  }

  /** Runs the loop until `until` (nanoTime), and for at least one refresh. */
  def loop(r: Run, idx: ServeIndex, queries: IndexedSeq[String],
      deltas: Iterator[Seq[(Long, String)]], until: Long): Samples = {
    var s = Samples()
    var i = 0
    while (System.nanoTime() < until || i < RefreshEvery) {
      r.op(search(r, idx, queries(i % queries.size))).foreach { case (ms, _) =>
        s = s.copy(searchMs = s.searchMs :+ ms)
      }
      i += 1
      if (i % RefreshEvery == 0) r.op(refresh(r, idx, deltas.next())).foreach { case (ms, rows, files) =>
        s = s.copy(refreshMs = s.refreshMs :+ ms, refreshRows = s.refreshRows :+ rows,
          filesAdded = s.filesAdded :+ files)
      }
    }
    s
  }

  /** Sampled searches against a driver-side brute-force cosine over the
    * whole index, computed as `VectorSearch.cosineSim` does (double,
    * left to right). Run outside the timed loop. */
  def bruteForceCheck(r: Run, idx: ServeIndex, queries: Seq[String]): Unit = {
    val all = idx.table.select("chunk_id", "embedding").collect()
      .map(row => (row.getString(0), row.getSeq[Float](1).map(_.toDouble).toArray))
    def sum(xs: Array[Double]): Double = xs.foldLeft(0.0)(_ + _)
    queries.foreach { q =>
      val qv = Program.embedder.embed(Seq(q)).head.map(_.toDouble)
      val nb = sum(qv.map(x => x * x))
      val expected = all.map { case (id, e) =>
        val dot = sum(e.lazyZip(qv).map(_ * _))
        (id, dot / (math.sqrt(sum(e.map(x => x * x))) * math.sqrt(nb)))
      }.sortWith(before).take(Program.k)
      val (_, got) = search(r, idx, q)
      r.check(got.map(_._1).sameElements(expected.map(_._1)) &&
        got.lazyZip(expected).forall((g, e) => g._2 == e._2 || (g._2 - e._2).abs < 1e-9),
        s"search '$q' differs from brute force: ${got.toSeq} vs ${expected.toSeq}")
    }
  }
}
