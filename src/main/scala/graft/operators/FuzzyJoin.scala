package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Edit-distance (Levenshtein) self-join via q-gram prefix filtering —
  * the Ed-Join candidate scheme (Xiao, Wang, Lin VLDB'08), the
  * string-similarity sibling of [[PrefixJoin]]'s set-similarity join.
  *
  * Guarantee: one edit (insert/delete/substitute) destroys at most q
  * overlapping q-grams, so strings within edit distance τ share all
  * but ≤ q·τ of their grams. Order the vocabulary by global rarity
  * and take each string's (q·τ + 1) RAREST distinct grams as its
  * prefix: if two strings shared NO common prefix gram, their
  * globally-rarest common gram would sit outside one prefix — forcing
  * that side to have q·τ + 1 rarer grams all absent from the other, a
  * contradiction. Hence the prefix equi-join has full recall, and
  * candidates concentrate on rare grams with short inverted lists
  * (joining on ALL grams would explode on stop-grams — "e " level
  * bigrams pair half the corpus with itself).
  *
  * Scale shape: the gram-frequency table is vocabulary-sized (σ^q
  * entries max — tiny for q=2 over names) and broadcast while under
  * `maxBroadcastVocab` (shuffle join past it); its rarity rank is
  * GlobalOrder.rarityRank, never a single-partition window;
  * candidate volume is Σ_gram df_prefix(gram)²; verify is a length
  * filter (|Δlen| ≤ τ, free) then one Levenshtein per candidate. For
  * LONG strings add a count filter (≥ maxlen − q + 1 − q·τ common
  * grams) before the O(len²) verify; for short keys (names, titles,
  * tokens) Levenshtein on candidates IS the cheap part.
  */
object FuzzyJoin {

  /** All unordered pairs of `df`'s `strCol` values (expected distinct)
    * within edit distance `tau`: (name_a, name_b, dist), name_a <
    * name_b. Strings shorter than q contribute themselves as their
    * single gram.
    */
  def editDistancePairs(
      spark: SparkSession,
      df: DataFrame,
      strCol: String,
      tau: Int,
      q: Int = 2,
      maxBroadcastVocab: Long = 10000000L): DataFrame = {
    import spark.implicits._
    require(tau >= 1, "tau >= 1 (use an equi-join for exact match)")
    val s = df.select(col(strCol).cast("string").as("s")).filter($"s".isNotNull)

    // positional explosion of q-grams, distinct per string
    val grams = s.select($"s",
      explode(array_distinct(expr(
        s"transform(sequence(1, greatest(length(s) - ${q - 1}, 1)), i -> substr(s, i, $q))")))
        .as("g"))

    // global rarity rank, the one PrefixJoin uses: σ^q bounds the
    // vocabulary for q=2 over ASCII names (always broadcast), but q=3
    // over a unicode-rich corpus is corpus-sized (shuffle join past
    // maxBroadcastVocab, and no single-partition window)
    val rankSide = GlobalOrder.rarityRank(grams, "g", "r", maxBroadcastVocab)

    // The prefix lemma needs ≥ q·τ + 1 grams: a string with fewer can
    // lose EVERY gram to τ edits (|"a" vs "b"| = 1 with zero shared
    // grams), so strings of length ≤ q(τ+1) − 1 go through a separate
    // length-blocked path. Their partners are at most τ longer — also
    // near-short — and the short set is alphabet-bounded (≲ σ^(q(τ+1)))
    // regardless of corpus size, so the block join stays small at any
    // scale.
    val shortMax = q * (tau + 1) - 1
    val shorts = s.filter(length($"s") <= shortMax)
    val nearShort = s.filter(length($"s") <= shortMax + tau)
    val shortCands = shorts.as("l")
      .join(nearShort.as("r"), $"l.s" =!= $"r.s")
      .select(least($"l.s", $"r.s").as("name_a"),
        greatest($"l.s", $"r.s").as("name_b"))

    val longs = grams.join(rankSide, Seq("g"))
      .filter(length($"s") > shortMax)
    val prefixSize = q * tau + 1
    val prefixes = longs
      .groupBy($"s")
      .agg(slice(sort_array(collect_list($"r")), 1, prefixSize).as("pref"))
      .select($"s", explode($"pref").as("r"))
    val longCands = prefixes.as("l").join(prefixes.as("r"),
        $"l.r" === $"r.r" && $"l.s" < $"r.s")
      .select($"l.s".as("name_a"), $"r.s".as("name_b"))

    longCands.unionByName(shortCands)
      .distinct()
      .filter(abs(length($"name_a") - length($"name_b")) <= tau)
      .withColumn("dist", levenshtein($"name_a", $"name_b").cast("long"))
      .filter($"dist" <= tau)
  }
}
