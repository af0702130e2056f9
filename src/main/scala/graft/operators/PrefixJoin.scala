package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Prefix-filtered exact set-similarity self-join (the AllPairs/
  * PPJoin candidate scheme — Bayardo et al. WWW'07, Xiao et al.
  * WWW'08): order every document's distinct tokens by GLOBAL RARITY
  * and join only on each document's first
  * `|A| − ⌈t·|A|⌉ + 1` tokens (its "prefix").
  *
  * Guarantee (prefix-filter lemma): if J(A,B) ≥ t, the first common
  * token in the global order lies inside BOTH prefixes — were it past
  * A's prefix, the overlap would fit in A's ⌈t·|A|⌉−1 suffix slots,
  * below the t·|A| floor that J ≥ t implies. So the prefix equi-join
  * loses nothing, and candidates concentrate on RARE tokens (df-
  * ascending order), whose inverted lists are short — the pruning
  * complements LSH banding (Dedup.minhashPairsExact): deterministic
  * full recall without signatures, best on dup-sparse corpora where
  * rare tokens discriminate.
  *
  * Scale shape:
  *  - the global order is a VOCABULARY-sized artifact (one df
  *    aggregate), ranked by GlobalOrder.rarityRank (sort +
  *    zipWithIndex) — contiguous global ordinals with NO
  *    single-partition window (plan-pinned in PlanAuditSpec);
  *  - token→rank translation joins the exploded stream — broadcast
  *    while the vocabulary fits `maxBroadcastVocab`, shuffle join
  *    past it (a 100M-term vocabulary is not broadcastable) —
  *    re-grouped with sort_array (ranks are longs, so the verify
  *    merge compares longs, not strings);
  *  - candidate volume is Σ_token df_prefix(token)², bounded by the
  *    rarity ordering; the verify stage is q28's exact sorted-merge.
  */
object PrefixJoin {

  /** The exact threshold test on an overlap count `inter`, as ONE
    * Column that evaluates `inter` once: `inter / (total − inter) >
    * threshold` when `jaccard` (total = |A| + |B|, so the denominator
    * is |A∪B|), else `inter / total > threshold` (containment, total =
    * |A|). Shared by every exact set-similarity verify
    * ([[jaccardPairsPrefix]], [[containmentPairsPrefix]],
    * Dedup.minhashPairsExact).
    *
    * Why one evaluation matters: the naive shape —
    * withColumn("j", inter/(s-inter)).filter($"j" > t) — gets
    * alias-substituted into the filter or join CONDITION, where the
    * division's two `inter` occurrences are codegen'd as two
    * independent sorted-merge loops, plus a third in the surviving
    * projection (r19 plan audit: 3 merges/candidate).
    *
    * Proof for t = k/10 (every declared threshold): the double
    * comparison i/d > t, d = s − i (Jaccard) or na (containment), is
    * EQUIVALENT to the integer test 10·i > k·d, i.e. (10+k)·i > k·s
    * for Jaccard and 10·i > k·na for containment (d ≥ 1 for any
    * non-empty set). When i/d ≠ k/10 the rational margin is
    * |10·i − k·d| / (10·d) ≥ 1/(10·d), ~1e-7 even at a million
    * tokens, dwarfing the ≤1-ulp division error; when equal, the
    * correctly-rounded division of two exact integers yields exactly
    * double(k/10) and the strict > is false on both sides. Non-decimal
    * thresholds fall back to the double comparison itself.
    */
  private[operators] def overlapAbove(inter: Column, total: Column, threshold: Double,
      jaccard: Boolean): Column = {
    val k10 = math.round(threshold * 10)
    if (k10 / 10.0 == threshold)
      lit(if (jaccard) 10 + k10 else 10L) * inter > lit(k10) * total
    else {
      val i = inter.cast("double")
      (if (jaccard) i / (total - i) else i / total) > threshold
    }
  }

  /** Size-ratio prune, a necessary condition for Jaccard(A,B) > t on
    * set sizes (na, nb) — cheap, so it runs before the O(|toks|)
    * merge. Proof: with I = |A∩B| ≤ min(na,nb), I > t·(na+nb−I) ⟹
    * I·(1+t) > t·(na+nb) ⟹ min·(1+t) > t·(min+max) ⟹ min > t·max.
    */
  private[operators] def jaccardSizeFeasible(na: Column, nb: Column, threshold: Double): Column =
    least(na, nb) > lit(threshold) * greatest(na, nb)

  /** Shared candidate machinery for the prefix-filtered joins: the
    * per-doc rarity-ranked token arrays (id, ranks, nt, p) with
    * prefix length p = nt − ⌈t·nt⌉ + 1 — the same bound serves the
    * Jaccard lemma (first common token of a qualifying pair falls in
    * both prefixes) and the containment lemma (a set whose t-fraction
    * is covered must share a prefix token with its coverer). The
    * result is persist()ed — both sides of the fused join read it.
    * `carry` lists (source column, alias) pairs read from the token
    * source and kept per doc beside the ranks, as extra grouping keys
    * (the block/size columns of [[jaccardPairsPrefix]]).
    */
  private def rankedArrays(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      pretokenized: Option[DataFrame],
      maxBroadcastVocab: Long,
      carry: Seq[(String, String)] = Nil): DataFrame = {
    import spark.implicits._
    val carried = carry.map { case (src, alias) => col(src).as(alias) }
    val kept = carry.map { case (_, alias) => col(alias) }

    // id kept in its NATIVE type (string ids are legal, e.g. hex
    // document hashes) — a long cast would NULL non-numeric ids
    // and silently collapse the corpus into one NULL-keyed group.
    // `pretokenized` (idCol + `toks` = sorted distinct xxhash64 token
    // arrays, the minhashPairsExact contract) shares one materialized
    // tokenization pass across the corpus's set-similarity operators
    // (q28/q78/q239 read the same artifact). Hashed tokens are a valid
    // feature set here: the prefix lemma needs only SOME fixed total
    // order over features, and df/rarity ranks of hashed tokens equal
    // those of the strings up to vanishing 64-bit collisions (the
    // same p < 1e-11/pair bound minhashPairsExact documents).
    val toks = pretokenized match {
      case Some(pt) =>
        graft.Par.spread(pt.select(Seq(col(idCol).as("id"), col("toks")) ++ carried: _*))
          .select(($"id" +: kept) :+ explode($"toks").as("tok"): _*)
      case None =>
        graft.Par.spread(docs.select(Seq(col(idCol).as("id"), col(textCol)) ++ carried: _*))
          .select(($"id" +: kept) :+
            explode(array_distinct(graft.functions.TextFunctions.tokens(col(textCol)))).as("tok"): _*)
    }

    // global rarity order (df ascending, token tie-break), translated
    // by a join that broadcasts only while the vocabulary fits
    // maxBroadcastVocab. (The ranking's partition-size job runs at
    // build time; Bench times construction, so the cost stays
    // measured.)
    val rankSide = GlobalOrder.rarityRank(toks, "tok", "r", maxBroadcastVocab)

    // per-doc rank array, ascending = rarest-first; prefix size
    // p = nt − ceil(t·nt) + 1
    toks.join(rankSide, Seq("tok"))
      .groupBy($"id" +: kept: _*)
      .agg(sort_array(collect_list($"r")).as("ranks"))
      .withColumn("nt", size($"ranks"))
      .withColumn("p", ($"nt" - ceil(lit(threshold) * $"nt") + 1).cast("int"))
      // both sides of the fused self-join read it; storage released by
      // the caller's clearCache between queries (Bench/Verify do), the
      // repo-wide convention for operator-internal persists
      .persist()
  }

  /** All pairs with exact Jaccard(token sets) > threshold:
    * (id_a, id_b, jaccard), r4-rounded. Output is identical to the
    * brute-force all-pairs join (and to minhashPairsExact at the same
    * threshold, up to its vanishing LSH miss probability).
    *
    * Optional pair predicates, evaluated inside the same fused join:
    *  - `blockCol`: pairs must share the block value (equi-join key);
    *  - `sizeBand = (sizeCol, band)`: pairs must satisfy
    *    |size_a − size_b| ≤ band.
    * Both keep SQL `=` semantics — a NULL block or size never pairs.
    * The columns are read from the frame that supplies the tokens
    * (`pretokenized` when given, else `docs`). With neither set the
    * plan is the plain self-join.
    */
  def jaccardPairsPrefix(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      pretokenized: Option[DataFrame] = None,
      maxBroadcastVocab: Long = 10000000L,
      blockCol: Option[String] = None,
      sizeBand: Option[(String, Long)] = None): DataFrame = {
    import spark.implicits._
    require(threshold > 0 && threshold < 1, "threshold in (0,1)")
    import graft.functions.SortedIntersectCount.sorted_intersect_count
    import graft.functions.FirstCommonBounded.first_common_bounded

    val carry = blockCol.map(_ -> "blk").toSeq ++ sizeBand.map(_._1 -> "sz")
    val ranked = rankedArrays(spark, docs, idCol, textCol,
      threshold, pretokenized, maxBroadcastVocab, carry)

    // FULLY FUSED candidate + verify join (r19; supersedes the r14
    // hydrate-then-verify shape — no verify join is left to
    // broadcast, so no doc or byte gate). Prefix rows carry their doc's
    // whole rank array (the array rides the SKINNY pre-join stream —
    // Σ prefix rows, linear — never the quadratic candidate stream),
    // so every filter runs INSIDE the join, cheapest first:
    //  - the caller's block key (a second equi-join key) and size band;
    //  - size ratio: least(na,nb) > t·greatest(na,nb) (J > t forces it,
    //    jaccardSizeFeasible);
    //  - PPJoin position filter: a shared token at 1-based positions
    //    (ia, ib) caps the overlap at ub = 1 + min(na−ia, nb−ib); for
    //    the FIRST shared token of a qualifying pair ub ≥ |A∩B| >
    //    t·(na+nb)/(1+t), so pruning rows with
    //    ub·(1+t) < t·(na+nb) − ε loses nothing (ε absorbs the
    //    double-arithmetic edge; a pruned row is strictly below the
    //    bound, so the pair it came from cannot verify);
    //  - FIRST-COLLISION dedup (first_common_bounded === current
    //    token): each pair is emitted from exactly its first shared
    //    prefix token — the old emit-everywhere + distinct() shuffled
    //    the full candidate stream (the r14 ×10 probe's dominant
    //    cost); a qualifying pair's first-common row always survives
    //    the position filter (the lemma above), so recall is intact;
    //  - the EXACT verify, one sorted merge per surviving row
    //    (overlapAbove).
    val prefixes = ranked
      .select(Seq($"id", $"nt", $"p", $"ranks") ++ carry.map(c => col(c._2)) :+
        posexplode(slice($"ranks", lit(1), col("p"))): _*)
      .withColumnRenamed("col", "r")
      .withColumn("pos", $"pos" + 1)      // 1-based position in ranks
    val callerPredicates =
      blockCol.map(_ => $"l.blk" === $"r.blk").toSeq ++
        sizeBand.map { case (_, band) => abs($"l.sz" - $"r.sz") <= band }
    prefixes.as("l").join(prefixes.as("r"),
      (Seq($"l.r" === $"r.r", $"l.id" < $"r.id") ++ callerPredicates ++ Seq(
        jaccardSizeFeasible($"l.nt", $"r.nt", threshold),
        (lit(1.0) + least($"l.nt" - $"l.pos", $"r.nt" - $"r.pos")) *
          lit(1.0 + threshold) >=
          lit(threshold) * ($"l.nt" + $"r.nt") - lit(1e-7),
        first_common_bounded($"l.ranks", $"r.ranks", $"l.p", $"r.p") === $"l.r",
        overlapAbove(sorted_intersect_count($"l.ranks", $"r.ranks"),
          $"l.nt" + $"r.nt", threshold, jaccard = true))).reduce(_ && _))
      .select($"l.id".as("id_a"), $"r.id".as("id_b"),
        sorted_intersect_count($"l.ranks", $"r.ranks").cast("double").as("inter"),
        ($"l.nt" + $"r.nt").as("s"))
      .select($"id_a", $"id_b",
        graft.functions.TextFunctions.r4($"inter" / ($"s" - $"inter")).as("jaccard"))
  }

  /** All DIRECTED pairs with exact containment |A∩B| / |A| >
    * threshold: (id_a, id_b, containment), r4-rounded — "B covers
    * ≥ t of A", the asymmetric set-overlap the dedup family needs for
    * subset/quotation detection where Jaccard fails (a doc fully
    * contained in a 10× larger one has Jaccard ≤ 0.1 but containment
    * 1.0). Candidate lemma (the JOSIE/PPJoin+ containment prefix): if
    * |A∩B| ≥ ⌈t·|A|⌉ then A's first |A| − ⌈t·|A|⌉ + 1 rarity-ordered
    * tokens intersect B SOMEWHERE — so candidates are A-prefix tokens
    * joined against B's FULL posting lists (asymmetric: the coveree's
    * prefix meets the coverer's whole set). Rarity ordering keeps the
    * full-side lists short where it matters; a nb ≥ ⌈t·na⌉ size prune
    * drops impossible pairs before the verify merge.
    */
  def containmentPairsPrefix(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      pretokenized: Option[DataFrame] = None,
      minSize: Int = 1,
      maxBroadcastVocab: Long = 10000000L): DataFrame = {
    import spark.implicits._
    require(threshold > 0 && threshold < 1, "threshold in (0,1)")
    import graft.functions.SortedIntersectCount.sorted_intersect_count
    import graft.functions.FirstCommonBounded.first_common_bounded

    val ranked = rankedArrays(spark, docs, idCol, textCol,
      threshold, pretokenized, maxBroadcastVocab)
    // the minSize floor applies to the COVEREE (A) side only: tiny
    // sets are trivially contained everywhere and would make the
    // output quadratic; the coverer (B) side stays unrestricted
    val rankedA = ranked.filter($"nt" >= minSize)

    // FULLY FUSED candidate + verify join — the jaccardPairsPrefix r19
    // shape, asymmetric: A-prefix tokens against B's FULL posting
    // list, every filter inside the join, cheapest first —
    //  - size prune nb ≥ ⌈t·na⌉;
    //  - containment position filter: a shared token at 1-based
    //    positions (ia, jb) caps |A∩B| at ub = 1 + min(na−ia, nb−jb);
    //    a qualifying pair's FIRST shared token has ub ≥ |A∩B| > t·na,
    //    so pruning ub < t·na − ε loses nothing;
    //  - first-collision dedup: emit only from A-prefix-vs-B-full's
    //    first common token (first_common_bounded over (A's prefix,
    //    B's whole array) — replaces the candidate-stream distinct());
    //  - exact verify, one merge per surviving row (overlapAbove).
    val prefixes = rankedA
      .select($"id", $"nt", $"p", $"ranks",
        posexplode(slice($"ranks", lit(1), col("p"))))
      .withColumnRenamed("col", "r")
      .withColumn("pos", $"pos" + 1)
    val full = ranked
      .select($"id", $"nt", $"ranks", posexplode($"ranks"))
      .withColumnRenamed("col", "r")
      .withColumn("pos", $"pos" + 1)
    val thresholdTest = overlapAbove(
      sorted_intersect_count($"l.ranks", $"r.ranks"), $"l.nt", threshold, jaccard = false)
    prefixes.as("l").join(full.as("r"),
        $"l.r" === $"r.r" && $"l.id" =!= $"r.id" &&
        $"r.nt" >= ceil(lit(threshold) * $"l.nt") &&
        lit(1.0) + least($"l.nt" - $"l.pos", $"r.nt" - $"r.pos") >=
          lit(threshold) * $"l.nt" - lit(1e-7) &&
        first_common_bounded($"l.ranks", $"r.ranks", $"l.p", $"r.nt") === $"l.r" &&
        thresholdTest)
      .select($"l.id".as("id_a"), $"r.id".as("id_b"),
        sorted_intersect_count($"l.ranks", $"r.ranks").cast("double").as("inter"),
        $"l.nt".as("na"))
      .select($"id_a", $"id_b",
        graft.functions.TextFunctions.r4($"inter" / $"na").as("containment"))
  }
}
