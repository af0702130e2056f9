package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.pipeline.{ExtractPath, PdfGen}

/** Seeded input generators. Every workload's inputs derive from its
  * `--seed` alone; the engine only ever sees the written files. */
object Corpus {

  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "di", "fu",
    "ga", "ho", "ji", "pe", "bu", "bi", "zo", "wa", "xe", "yu")

  /** Word `i` of the synthetic vocabulary: `i` in base 20, one
    * lower-case syllable per digit — distinct words for distinct `i`. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var n = i
    while ({ sb.append(Syllables(n % 20)); n /= 20; n > 0 }) ()
    sb.toString
  }

  /** Zipf(s) sampler over ranks 0 until `size` (inverse CDF). */
  final class Zipf(size: Int, s: Double) {
    private val cum = {
      val c = new Array[Double](size)
      var acc = 0.0
      var i = 0
      while (i < size) { acc += 1.0 / math.pow(i + 1.0, s); c(i) = acc; i += 1 }
      c
    }
    def rank(rng: SplittableRandom): Int = {
      val x = rng.nextDouble() * cum(size - 1)
      var lo = 0
      var hi = size - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cum(mid) < x) lo = mid + 1 else hi = mid
      }
      lo
    }
    def word(rng: SplittableRandom): String = Corpus.word(rank(rng))
  }

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L + stream)

  /** Collapse every whitespace run to one space and trim: the form in
    * which extracted text is compared with the text a container holds. */
  def normalize(s: String): String = s.trim.split("\\s+").filter(_.nonEmpty).mkString(" ")

  // ---- ingest_pdf ----

  val PdfDocs = 512
  val PdfVocab = 20000
  val LinesPerPage = 16
  val MinPages = 2
  val MaxPages = 60
  val PageTailExponent = 1.1

  /** One generated binary document and what extraction must give back. */
  final case class PdfDoc(id: Long, text: String, bytes: Array[Byte]) {
    /** The label `PdfGen.demo`'s residue rule assigns: mod 8 picks the
      * container kind, and slot 7 splits by mod 32 into the
      * empty-password (readable) and password-locked crypto files. */
    def expectedPath: String = math.floorMod(id, 8L) match {
      case 3 => ExtractPath.NonPdf
      case 6 => ExtractPath.PdfImage
      case 7 => math.floorMod(id, 32L) match {
        case 7 | 23 => ExtractPath.PdfDecrypted
        case _ => ExtractPath.PdfEncrypted
      }
      case _ => ExtractPath.PdfText
    }
    /** whether a correct extraction gives back [[expectedText]] */
    def textBearing: Boolean =
      Set(ExtractPath.PdfText, ExtractPath.PdfDecrypted, ExtractPath.NonPdf)(expectedPath)
    /** The text the container holds. `PdfGen.differences` (ids ≡ 10
      * mod 16) is a one-page container that writes a character without
      * a glyph name as '?'; of this corpus's characters only the page
      * break '\f' has none. Every other container holds the text as is. */
    def expectedText: String =
      if (math.floorMod(id, 16L) == 10L) text.replace('\f', '?') else text
  }

  /** `PdfDocs` consecutive ids (so every residue class of `PdfGen.demo`
    * up to mod 512 occurs once), each a `PdfGen.demo` container of a
    * Zipf-vocabulary text. Page counts are the `PdfDocs` quantiles of a
    * Pareto tail, dealt to the ids in seeded order: every seed ingests
    * the same page-count mix, so seeds differ in content, not in size. */
  def pdfDocs(seed: Long): IndexedSeq[PdfDoc] = {
    val r = rng(seed, 1)
    val zipf = new Zipf(PdfVocab, 1.1)
    val base = math.floorMod(seed, 4096L) * PdfDocs
    val pages = Array.tabulate(PdfDocs) { i =>
      val u = 1.0 - (i + 0.5) / PdfDocs
      math.min(MaxPages, math.ceil(MinPages * math.pow(u, -1.0 / PageTailExponent)).toInt)
    }
    for (i <- pages.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = pages(i); pages(i) = pages(j); pages(j) = t
    }
    (0 until PdfDocs).map { i =>
      val id = base + i
      val sb = new StringBuilder
      for (p <- 0 until pages(i); l <- 0 until LinesPerPage) {
        if (l > 0) sb.append('\n') else if (p > 0) sb.append('\f')
        for (w <- 0 until 8 + r.nextInt(5)) {
          if (w > 0) sb.append(' ')
          sb.append(zipf.word(r))
        }
      }
      val text = sb.toString
      PdfDoc(id, text, PdfGen.demo(id, text))
    }
  }

  def writePdfs(docs: Seq[PdfDoc], dir: Path): Unit = {
    Files.createDirectories(dir)
    docs.foreach(d => Files.write(dir.resolve(s"doc${d.id}.pdf"), d.bytes))
  }

  // ---- curate_text ----

  val CurateDocs = 3000
  val CurateVocab = 30000
  val NearDupThreshold = 0.7

  /** A `documents`-schema corpus in the LongTailCorpus shape — Zipf(1.1)
    * words over a 30k vocabulary, 40–90 tokens a document — with
    * planted duplicates: document i ≡ 9 (mod 10) is a near-duplicate
    * twin of i − 1 (three token positions resampled, distinct-token
    * Jaccard kept above 0.8), and document i ≡ 4 (mod 50) is an exact
    * copy of i − 3 up to case and spacing. */
  final case class CurateCorpus(texts: IndexedSeq[String], twins: Set[Long], copies: Set[Long])

  def curateCorpus(seed: Long): CurateCorpus = {
    val r = rng(seed, 2)
    val zipf = new Zipf(CurateVocab, 1.1)
    val texts = new Array[String](CurateDocs)
    val toks = new Array[IndexedSeq[String]](CurateDocs)
    def jaccard(a: Seq[String], b: Seq[String]): Double = {
      val (sa, sb) = (a.toSet, b.toSet)
      (sa & sb).size.toDouble / (sa | sb).size
    }
    for (i <- 0 until CurateDocs) {
      if (i % 10 == 9) {
        val src = toks(i - 1)
        var twin = src
        while ({
          twin = src
          for (_ <- 0 until 3) twin = twin.updated(r.nextInt(src.size), zipf.word(r))
          jaccard(src, twin) <= 0.8
        }) ()
        toks(i) = twin
        texts(i) = twin.mkString(" ")
      } else if (i % 50 == 4) {
        toks(i) = toks(i - 3)
        texts(i) = "  " + texts(i - 3).toUpperCase.replace(" ", "   ") + " "
      } else {
        toks(i) = IndexedSeq.fill(40 + r.nextInt(51))(zipf.word(r))
        texts(i) = toks(i).mkString(" ")
      }
    }
    CurateCorpus(texts.toIndexedSeq,
      (0 until CurateDocs).filter(_ % 10 == 9).map(_.toLong).toSet,
      (0 until CurateDocs).filter(_ % 50 == 4).map(_.toLong).toSet)
  }

  // ---- serving index and refresh deltas ----

  val ServeDocs = 300
  val ServeVocab = 20000
  val DeltaDocs = 8

  /** Plain-text documents of 150–300 Zipf words, ids from `firstId`. */
  def textDocs(seed: Long, stream: Long, firstId: Long, n: Int): IndexedSeq[(Long, String)] = {
    val r = rng(seed, stream)
    val zipf = new Zipf(ServeVocab, 1.1)
    (0 until n).map(i => (firstId + i, Seq.fill(150 + r.nextInt(151))(zipf.word(r)).mkString(" ")))
  }

  /** Query texts of 2–4 words drawn from the vocabulary by seed. */
  def queries(seed: Long, n: Int): IndexedSeq[String] = {
    val r = rng(seed, 3)
    val zipf = new Zipf(ServeVocab, 1.1)
    (0 until n).map(_ => Seq.fill(2 + r.nextInt(3))(zipf.word(r)).mkString(" "))
  }
}
