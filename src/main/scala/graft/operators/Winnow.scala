package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
  * "Winnowing: Local Algorithms for Document Fingerprinting",
  * SIGMOD'03, the MOSS algorithm): a polynomial ROLLING hash over
  * character k-grams, then each sliding window of `w` consecutive
  * hashes contributes its minimum (rightmost on ties). Guarantees:
  * any substring shared between two documents of length ≥ w + k − 1
  * produces at least one shared fingerprint (detection is local, not
  * probabilistic — unlike MinHash), while only ~2/(w+1) of all
  * k-gram hashes are kept.
  *
  * This is the "document fingerprinting (rolling hash)" member of
  * the text-analysis family: where the md5 fingerprint (q22) detects
  * whole-document duplication and MinHash (q28) set-level similarity,
  * winnowing detects COPIED PASSAGES — partial plagiarism /
  * boilerplate reuse — regardless of surrounding content.
  */
object Winnow {

  final case class Winnower(k: Int = 8, w: Int = 4) extends Serializable {
    require(k > 0 && w > 0)
    private val prime = 2305843009213693951L        // 2^61 − 1
    private val base = 1000003L

    @inline private def mulmod61(a: Long, b: Long): Long = {
      val hi = Math.multiplyHigh(a, b)
      val lo = a * b
      var r = 8L * hi + (lo & prime) + (lo >>> 61)
      while (r >= prime) r -= prime
      r
    }

    private val basePowK1: Long = {
      var p = 1L
      var i = 0
      while (i < k - 1) { p = mulmod61(p, base); i += 1 }
      p
    }

    private def hashRange(text: String, from: Int, until: Int): Long = {
      var h = 0L
      var i = from
      while (i < until) { h = (mulmod61(h, base) + text.charAt(i)) % prime; i += 1 }
      h
    }

    /** All k-gram rolling hashes of `text` (length n − k + 1);
      * requires n ≥ k. h_{i+1} = (h_i − c_i·B^{k−1})·B + c_{i+k}.
      */
    private def gramHashes(text: String): Array[Long] = {
      val n = text.length
      val m = n - k + 1
      val hs = new Array[Long](m)
      hs(0) = hashRange(text, 0, k)
      var i = 1
      while (i < m) {
        val drop = mulmod61(text.charAt(i - 1).toLong, basePowK1)
        val stripped = (hs(i - 1) - drop + prime) % prime
        hs(i) = (mulmod61(stripped, base) + text.charAt(i + k - 1)) % prime
        i += 1
      }
      hs
    }

    /** Winnowed value set over a full k-gram hash array: rightmost
      * minimum of every w-window (w is small — the per-window scan
      * beats a deque for cache behavior here), distinct + sorted.
      */
    private def winnowValues(hs: Array[Long]): Array[Long] = {
      val out = scala.collection.mutable.TreeSet.empty[Long]
      var start = 0
      val last = hs.length - w
      if (last < 0) { out += hs.min }
      else while (start <= last) {
        var best = start
        var j = start + 1
        while (j < start + w) { if (hs(j) <= hs(best)) best = j; j += 1 }
        out += hs(best)
        start += 1
      }
      out.toArray
    }

    /** Sorted distinct winnowed fingerprints of `text`. Texts shorter
      * than k yield a single whole-text hash (so short docs still
      * compare), empty/null texts none.
      */
    def fingerprints(text: String): Array[Long] = {
      if (text == null || text.isEmpty) return Array.empty
      val n = text.length
      if (n < k) return Array(hashRange(text, 0, n))
      winnowValues(gramHashes(text))
    }

    /** Winnowed fingerprints WITH localization: per fingerprint value,
      * (fp, lo, hi) where [lo, hi) is the char range spanned by ALL
      * k-gram occurrences of that value in `text` (first gram start
      * to last gram end). Occurrences are found by value over the
      * FULL hash array, not just the winnow-selected indices — so the
      * spans are tie-rule-insensitive (an oracle replaying the hash
      * values reproduces them exactly) and tighter evidence than the
      * sampled selection. Sorted by fp; values align 1:1 with
      * [[fingerprints]].
      */
    def fingerprintSpans(text: String): Array[(Long, Int, Int)] = {
      if (text == null || text.isEmpty) return Array.empty
      val n = text.length
      if (n < k) return Array((hashRange(text, 0, n), 0, n))
      val hs = gramHashes(text)
      val values = winnowValues(hs)
      val first = scala.collection.mutable.LongMap.empty[Int]
      val last = scala.collection.mutable.LongMap.empty[Int]
      val keep = values.toSet
      var i = 0
      while (i < hs.length) {
        if (keep(hs(i))) {
          if (!first.contains(hs(i))) first(hs(i)) = i
          last(hs(i)) = i
        }
        i += 1
      }
      values.map(v => (v, first(v), last(v) + k))
    }
  }

  /** Passage-overlap pairs: documents sharing winnowed fingerprints,
    * scored by CONTAINMENT (|A∩B| / min(|A|,|B|) — the right measure
    * for "document B contains a passage of A" where set-Jaccard
    * dilutes with length). Candidates come from an inverted
    * fingerprint join (pairs must share ≥1 fingerprint — the
    * winnowing guarantee makes that exact for passages ≥ w+k−1
    * chars), capped per fingerprint by the shared star-linking
    * machinery; the sorted-merge intersect verifies exactly.
    * Oracle-checked (q120): the winnowed VALUE set is tie-rule-
    * insensitive, so DuckDB replays the mod-(2^61−1) polynomial
    * hashes in HUGEINT arithmetic and re-winnows with windowed
    * least(); the spec additionally pins the winnowing guarantee.
    */
  def winnowPairs(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      textCol: String,
      win: Winnower = Winnower(),
      minContainment: Double = 0.5,
      bucketCap: Int = 10000): DataFrame = {
    import spark.implicits._
    import graft.functions.SortedIntersectCount.sorted_intersect_count

    val fps = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions(it => it.map { case (id, t) => (id, win.fingerprints(t)) })
      .toDF("id", "fps")
      .withColumn("nf", size($"fps"))
      .filter($"nf" > 0)
      .persist()                    // inverted index + two verify joins

    val keys = fps.select($"id", explode($"fps").as("key"))
    Dedup.bucketCandidates(keys, "id", Seq("key"), bucketCap)
      .join(fps.select($"id".as("id_a"), $"fps".as("fps_a"), $"nf".as("nf_a")), "id_a")
      .join(fps.select($"id".as("id_b"), $"fps".as("fps_b"), $"nf".as("nf_b")), "id_b")
      .withColumn("inter", sorted_intersect_count($"fps_a", $"fps_b").cast("double"))
      .withColumn("containment", $"inter" / least($"nf_a", $"nf_b"))
      .filter($"containment" >= minContainment)
      // r4 floor convention, not round(): containment is a small-
      // denominator rational (e.g. 1/32), where Spark HALF_UP and
      // DuckDB half-even disagree on the .xxxx5 boundary
      .select($"id_a", $"id_b",
        graft.functions.TextFunctions.r4($"containment").as("containment"))
  }

  /** [[winnowPairs]] with MOSS-style passage LOCALIZATION: each
    * overlap pair additionally carries the char span the shared
    * fingerprints cover in each document — `[a_start, a_end)` /
    * `[b_start, b_end)` (0-based, end-exclusive) plus the shared-
    * fingerprint count. q120 says THAT documents share passages; a
    * curation pipeline needs WHERE to cut, and these bounds are the
    * cut evidence (min gram start / max gram end over the shared
    * fingerprint values — see [[Winnower.fingerprintSpans]] for why
    * spans are derived by value, not by winnow-selected index).
    *
    * Scale shape: EXACTLY q120's plan — the same capped inverted-
    * fingerprint candidates and the same two array joins — with the
    * verify kernel swapped from an intersect-count to
    * `sorted_span_merge` ([[graft.functions.SortedSpanMerge]]): one
    * codegen sorted merge per candidate pair computes |A∩B| and all
    * four span bounds together. (The first cut joined candidate
    * pairs against both sides' EXPLODED span lists and re-aggregated
    * — |cands| × nf intermediate rows; the r5 bench read 19 s for it
    * vs 5 s for q120. The merge expression removes the blowup.)
    */
  def winnowSpanPairs(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      textCol: String,
      win: Winnower = Winnower(),
      minContainment: Double = 0.5,
      bucketCap: Int = 10000): DataFrame = {
    import spark.implicits._
    import graft.functions.SortedSpanMerge.sorted_span_merge

    val spans = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions(it => it.map { case (id, t) => (id, win.fingerprintSpans(t)) })
      .toDF("id", "spans")
      .withColumn("nf", size($"spans"))
      .filter($"nf" > 0)
      .persist()                    // inverted index + two span joins

    val keys = spans.select($"id", explode($"spans._1").as("key"))
    Dedup.bucketCandidates(keys, "id", Seq("key"), bucketCap)
      .join(spans.select($"id".as("id_a"), $"spans".as("sp_a"), $"nf".as("nf_a")), "id_a")
      .join(spans.select($"id".as("id_b"), $"spans".as("sp_b"), $"nf".as("nf_b")), "id_b")
      .withColumn("m", sorted_span_merge($"sp_a", $"sp_b"))
      .withColumn("containment",
        $"m.inter".cast("double") / least($"nf_a", $"nf_b"))
      .filter($"containment" >= minContainment)
      .select($"id_a", $"id_b",
        graft.functions.TextFunctions.r4($"containment").as("containment"),
        $"m.inter".as("n_shared"),
        $"m.a_start".as("a_start"), $"m.a_end".as("a_end"),
        $"m.b_start".as("b_start"), $"m.b_end".as("b_end"))
  }
}
