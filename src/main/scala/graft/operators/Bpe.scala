package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding TOKENIZER TRAINING (Sennrich, Haddow, Birch —
  * "Neural Machine Translation of Rare Words with Subword Units",
  * ACL 2016) — the merge-rule learner that [[Vocab]] (id assignment)
  * and `TextFunctions.bpeTokens` (pre-tokenization) bracket: given a
  * corpus, learn the ranked list of symbol-pair merges a subword
  * tokenizer applies.
  *
  * Scale shape: BPE trains on the WORD-FREQUENCY table, not the raw
  * corpus — the corpus-scale step is ONE tokenize+groupBy shuffle
  * into (word, count), vocabulary-sized from then on. Each merge
  * iteration is: adjacent-pair counts weighted by word frequency
  * (one vocab-sized aggregate with map-side partials), a 1-row
  * argmax to the driver (bounded orchestration — the merge RULE is
  * the only thing that moves), and a narrow map applying the merge
  * to each word's symbol array. The iterating Dataset is persisted
  * and lineage-truncated every few rounds (localCheckpoint — the
  * [[Dedup.connectedComponents]] discipline: iterative plans
  * otherwise grow per round).
  *
  * Determinism: ties on pair count break by the lexicographically
  * smaller pair, so the merge list is a pure function of the corpus
  * — same merges on every run and partition layout (spec-pinned
  * against a single-threaded reference implementation).
  */
object Bpe {

  final case class Merge(rank: Int, left: String, right: String, pairCount: Long)

  /** Greedy left-to-right application of one merge to a symbol
    * array — standard BPE merge semantics (non-overlapping, one
    * pass).
    */
  private[operators] def applyMerge(
      syms: Array[String], a: String, b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toArray
  }

  /** Learn `numMerges` merge rules from the corpus. Words are
    * whitespace tokens, seeded as character symbol sequences with a
    * trailing end-of-word marker (the paper's `</w>`, so merges can't
    * cross word boundaries and a final symbol distinguishes "low…"
    * from "low"). Stops early when the best pair's weighted count
    * falls under `minPairCount`.
    */
  def train(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      minPairCount: Long = 2L): Seq[Merge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(numMerges >= 0)

    // corpus-scale step: ONE shuffle into the word-frequency table
    val words: Dataset[(Array[String], Long)] =
      graft.Par.spread(docs.select(col(textCol)))
        .select(explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("n"))
        .as[(String, Long)]
        .map { case (w, n) => (w.map(_.toString).toArray :+ "</w>", n) }
        .persist()
    val vocabRows = words.count()
    // size the ITERATION layout to the vocab, not the corpus: after
    // the one corpus-scale shuffle the loop runs ~2 jobs per merge
    // over a VOCAB-sized table, and inheriting the corpus partition
    // count makes every one of those jobs pay corpus-width task
    // overhead (measured: 30 merges over a ~10^2-type vocab spent
    // ~5 s of pure per-task scheduling at 32 partitions). ~100k
    // symbol arrays per partition keeps tasks meaningful at any
    // vocab size — a 100M-type vocab still gets ~1k partitions.
    val iterParts = math.max(1L, math.min(
      words.rdd.getNumPartitions.toLong, vocabRows / 100000L + 1L)).toInt

    // the merge loop runs on the RDD, not the Dataset: each round is
    // per-partition imperative work (local pair-count maps, one
    // reduceByKey, a 1-row takeOrdered, a narrow merge map), and a
    // Dataset round pays full Catalyst analyze/optimize/plan per
    // iteration — measured ~200 ms/round of pure planning on a
    // 10^2-type vocab (6.5 s of a 7 s train). The RDD loop keeps the
    // identical arithmetic (exact long sums; argmax ties to the
    // lexicographically smaller pair — (a, b) tuple order equals the
    // old `concat(a, ' ', b)` string order because symbols never
    // contain the space joiner) and the same persist/localCheckpoint
    // lineage discipline.
    var cur: org.apache.spark.rdd.RDD[(Array[String], Long)] =
      words.rdd.coalesce(iterParts)
    cur.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cur.count()
    words.unpersist(blocking = false)

    implicit val topOrd: Ordering[((String, String), Long)] =
      Ordering.by { case ((a, b), c) => (-c, a, b) }
    val checkpointed =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[(Array[String], Long)]]
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      // vocab-sized weighted pair count: per-partition open-hash
      // partials (the map-side combine), one pair-keyed reduce, and
      // only the single best row to the driver
      val top = cur
        .mapPartitions { it =>
          val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
          it.foreach { case (syms, n) =>
            var i = 0
            while (i < syms.length - 1) {
              val k = (syms(i), syms(i + 1))
              m.update(k, m.getOrElse(k, 0L) + n)
              i += 1
            }
          }
          m.iterator
        }
        .reduceByKey(_ + _)
        .takeOrdered(1)
        .headOption

      top match {
        case Some(((a, b), cnt)) if cnt >= minPairCount =>
          merges += Merge(rank, a, b, cnt)
          val prev = cur
          val mapped = prev.map { case (syms, n) => (applyMerge(syms, a, b), n) }
          // every generation is persisted + materialized before the
          // previous is released; every 5th is ALSO localCheckpointed
          // (lineage truncation — bounds eviction-recompute depth).
          // RDD.localCheckpoint is LAZY (unlike Dataset's) and a
          // checkpointed RDD's blocks are its ONLY data source once
          // lineage truncates, so checkpoint generations must be
          // materialized by an action and must NOT be unpersisted
          // while any live descendant might recompute through them —
          // they are retained until training ends (≤ numMerges/5
          // vocab-sized generations).
          mapped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          if ((rank + 1) % 5 == 0) {
            // reliable checkpoint when a dir is configured (cluster-
            // safe truncation — the Iterate.truncate convention),
            // local blocks otherwise
            if (mapped.sparkContext.getCheckpointDir.isDefined) mapped.checkpoint()
            else mapped.localCheckpoint()
            checkpointed += mapped
          }
          mapped.count()
          cur = mapped
          if (!checkpointed.contains(prev)) prev.unpersist(blocking = false)
          rank += 1
        case _ => done = true
      }
    }
    (checkpointed.filterNot(_ eq cur) :+ cur).foreach(_.unpersist(blocking = false))
    merges.toSeq
  }

  /** Segment text with a learned merge list: per word, apply merges
    * in rank order (the standard encoder). A narrow map; the merge
    * list rides the closure.
    */
  def segmentWord(word: String, merges: Seq[Merge]): Array[String] = {
    var syms = word.map(_.toString).toArray :+ "</w>"
    merges.foreach(m => syms = applyMerge(syms, m.left, m.right))
    syms
  }

  /** (idCol, tokens array<string>) — each doc's whitespace words
    * segmented to subword units under the learned merges.
    */
  def encode(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        // per-task memoization: corpora repeat words heavily
        val cache = scala.collection.mutable.HashMap.empty[String, Array[String]]
        it.map { case (id, text) =>
          // the trainer's tokenizer contract, scalar form — encode
          // words MUST be produced exactly like training words
          val words = graft.functions.TextFunctions.tokensScalar(text)
          (id, words.flatMap(w => cache.getOrElseUpdate(w, segmentWord(w, merges))))
        }
      }
      .toDF(idCol, "subwords")
  }
}
