package graft.pipeline

import java.nio.charset.StandardCharsets

/** Strategy names of the reference's OCR stage:
  * `strategy="ocr_only"` (`02-parallel-ocr-with-ray.py:226`) and
  * `strategy="hi_res"` (`ocr-tesseract-unstructured.py:82`).
  */
sealed trait PartitionStrategy
object PartitionStrategy {
  case object OcrOnly extends PartitionStrategy
  case object HiRes extends PartitionStrategy
}

/** Binary document → text elements, the engine-side seam for the
  * reference's `unstructured.partition_pdf` + tesseract OCR
  * (`02-parallel-ocr-with-ray.py:223-228`,
  * `ocr-tesseract-unstructured.py:78-83`).
  *
  * OCR engines aren't available in this environment, so the real
  * implementation is a documented STUB SEAM: a production deployment
  * drops in a tesseract/unstructured-backed implementation with this
  * exact signature. Everything around the seam — partitioning of
  * work (LPT, §4 row 1 of SURVEY.md), per-task execution via
  * `mapPartitions`, chunk/explode/join plumbing — is real and tested
  * with [[TextPartitioner]].
  *
  * Per-document OCR is minutes-heavy (ref: ~3 min avg, 30 min
  * outliers — `02-parallel-ocr-with-ray.py:5,8`): the unit of
  * parallelism must be the document, never the byte range, which is
  * why [[OcrPipeline.lptRepartition]] deals whole documents to bins
  * by size rather than relying on input-split sizing.
  */
trait PdfPartitioner extends Serializable {
  def partition(content: Array[Byte], strategy: PartitionStrategy): Seq[String]
}

/** Deterministic stand-in: decode bytes as UTF-8 and split into
  * page-like elements on form-feed or blank-line boundaries. Stands
  * in for OCR output so the full pipeline is locally testable.
  */
final case class TextPartitioner() extends PdfPartitioner {
  override def partition(
      content: Array[Byte],
      strategy: PartitionStrategy): Seq[String] = {
    if (content == null) return Seq.empty
    val text = new String(content, StandardCharsets.UTF_8)
    text.split("\f|\n\\s*\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
  }
}

/** REAL tesseract-backed implementation of the seam: pipes the
  * document bytes through the `tesseract` CLI (stdin → stdout) and
  * splits the recognized text into the same page-like elements as
  * [[TextPartitioner]] (tesseract separates multi-page input with
  * form feeds). Strategy mapping mirrors the reference's two modes:
  * OcrOnly → plain recognition; HiRes → LSTM-only engine
  * (`--oem 1`, the `unstructured` hi_res analogue of
  * `ocr-tesseract-unstructured.py:82`).
  *
  * Deployment contract: the partitioner executes inside
  * `mapPartitions`, so the binary must exist on every EXECUTOR image,
  * not just the driver — [[OcrRuntime.bestPartitioner]] probes the
  * local JVM and a production rollout ships the same image
  * cluster-wide. Input must be a format tesseract reads natively
  * (PNG/JPEG/TIFF/BMP); PDF rasterization (the reference's
  * unstructured + pdf2image step) is a renderer concern UPSTREAM of
  * this seam. A failed or unparseable document yields Seq.empty —
  * the per-document null-on-failure convention of
  * [[graft.pipeline.HttpFetcher]]: one bad scan must never kill a
  * corpus-wide job.
  */
final case class TesseractPartitioner(lang: String = "eng") extends PdfPartitioner {
  override def partition(
      content: Array[Byte],
      strategy: PartitionStrategy): Seq[String] = {
    if (content == null || content.isEmpty) return Seq.empty
    val args = Seq("tesseract", "stdin", "stdout", "-l", lang) ++
      (strategy match {
        case PartitionStrategy.HiRes => Seq("--oem", "1")
        case PartitionStrategy.OcrOnly => Seq.empty
      })
    try {
      val pb = new ProcessBuilder(args: _*)
      pb.redirectError(ProcessBuilder.Redirect.DISCARD)
      val p = pb.start()
      // BOTH pipe ends run on daemon threads so the timeout below is
      // the ONLY blocking wait: a single-threaded write-then-read
      // deadlocks on documents larger than the pipe buffer, and a
      // blocking readAllBytes before waitFor would make the timeout
      // unreachable against a hung binary — the task would never
      // return, violating the one-bad-scan contract. close() sits in
      // a finally: skipping it on a write error leaves tesseract
      // waiting on stdin forever.
      val writer = new Thread(() => {
        try p.getOutputStream.write(content)
        catch { case _: java.io.IOException => () }
        finally {
          try p.getOutputStream.close()
          catch { case _: java.io.IOException => () }
        }
      })
      writer.setDaemon(true)
      writer.start()
      val out = new java.util.concurrent.atomic.AtomicReference[Array[Byte]](null)
      val reader = new Thread(() => {
        try out.set(p.getInputStream.readAllBytes())
        catch { case _: java.io.IOException => () }
      })
      reader.setDaemon(true)
      reader.start()
      val done = p.waitFor(10, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) { p.destroyForcibly(); Seq.empty }
      else {
        reader.join(10000)           // drain completes promptly once exited
        val bytes = out.get()
        if (p.exitValue() != 0 || bytes == null) Seq.empty
        else TextPartitioner().partition(bytes, strategy)
      }
    } catch { case _: java.io.IOException => Seq.empty }
  }
}

/** Runtime OCR capability probe: the engine lights up real OCR when
  * the binary exists without a code change, and falls back to the
  * deterministic stand-in when it doesn't (this sandbox). Probed once
  * per JVM — the probe forks a process.
  */
object OcrRuntime {
  lazy val tesseractVersion: Option[String] = probe()

  private def probe(): Option[String] =
    try {
      val p = new ProcessBuilder("tesseract", "--version")
        .redirectErrorStream(true).start()
      // drain on a daemon thread so the 10 s timeout is the only
      // blocking wait (a hung binary must not block JVM-wide lazy
      // init — same pattern as TesseractPartitioner.partition)
      val out = new java.util.concurrent.atomic.AtomicReference[String]("")
      val reader = new Thread(() => {
        try out.set(new String(p.getInputStream.readAllBytes(), StandardCharsets.UTF_8))
        catch { case _: java.io.IOException => () }
      })
      reader.setDaemon(true)
      reader.start()
      val done = p.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) { p.destroyForcibly(); None }
      else if (p.exitValue() != 0) None
      else {
        reader.join(2000)
        out.get().linesIterator.find(_.toLowerCase.contains("tesseract"))
      }
    } catch { case _: Exception => None }   // binary absent → IOException

  /** The best available [[PdfPartitioner]]: native-text PDFs always
    * take the pure-JVM [[PdfTextPartitioner]] branch (real extraction,
    * no binary needed); non-PDF bytes — and PDFs whose text layer the
    * JVM subset can't decode — go to tesseract when the binary answers
    * the version probe, or the [[TextPartitioner]] stand-in otherwise.
    */
  def bestPartitioner(lang: String = "eng"): AutoPartitioner =
    AutoPartitioner(
      if (tesseractVersion.isDefined) TesseractPartitioner(lang)
      else TextPartitioner())
}
