package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, col, count, lit}
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

/** Global-order primitives WITHOUT a single-partition window.
  *
  * `row_number()/sum()/ntile() OVER (ORDER BY …)` with no PARTITION BY
  * sends the entire input through ONE WindowExec task — fine on a
  * dimension table, a serialization point on anything corpus-sized
  * (Spark itself warns "No Partition Defined for Window operation").
  * These helpers keep the data range-partitioned through a global
  * sort and derive the global quantity from per-partition state plus
  * a partition-count-sized driver array (the classic two-pass prefix
  * scan): partition order equals range order after a sort, so a
  * contiguous global ordinal / prefix is per-partition work + a
  * closure-captured offset.
  *
  * Shared by [[PrefixJoin]]/[[FuzzyJoin]] (vocabulary rarity ranks),
  * [[Vocab]]/[[HybridSearch]] (bounded but warning-free ranks), the
  * q110 cumulative revenue share, and q91's equi-depth histogram.
  *
  * Driver state is ONE value per partition (≤ a few hundred longs /
  * BigDecimals) — bounded orchestration, never row data.
  *
  * Two-pass determinism: each helper materializes `.rdd` ONCE and
  * runs both jobs over that same RDD object. This matters — the
  * range exchange samples its partition boundaries with a seed
  * derived from the RDD id, so two separate `.rdd` calls can shuffle
  * rows into DIFFERENT layouts, and offsets measured on one layout
  * would be applied to another. One RDD object = one shuffle
  * dependency: job 2 reuses job 1's map output (shuffle files), so
  * the layout is frozen and the second pass re-runs only the
  * post-shuffle stage — no persist() needed, nothing upstream
  * recomputes.
  */
object GlobalOrder {

  private def appended(schema: StructType, col: String, tpe: org.apache.spark.sql.types.DataType) =
    StructType(schema.fields :+ StructField(col, tpe, nullable = false))

  // Iterator.size returns Int — it would silently wrap on a >2^31-row
  // partition, exactly the scale these helpers exist for
  private def countLong(it: Iterator[_]): Long = {
    var n = 0L
    while (it.hasNext) { it.next(); n += 1 }
    n
  }

  /** Contiguous 1-based long ordinals (`rankCol`) appended to
    * `sorted`, numbering rows in the frame's current global sort
    * order. Equivalent to `row_number().over(Window.orderBy(…))` with
    * the single-partition window replaced by the two-pass scan.
    * Also returns the total row count — measured by the first pass
    * anyway, and [[rarityRank]] gates its broadcast hint on it.
    * Row-generic: any schema, no encoder required.
    */
  def zipRankWithCount(sorted: DataFrame, rankCol: String): (DataFrame, Long) = {
    val rdd = sorted.rdd
    val counts = rdd
      .mapPartitionsWithIndex((pi, it) => Iterator((pi, countLong(it))))
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val out = rdd.mapPartitionsWithIndex { (pi, it) =>
      var i = offsets(pi)
      it.map { row => i += 1; Row.fromSeq(row.toSeq :+ i) }
    }
    (sorted.sparkSession.createDataFrame(out,
      appended(sorted.schema, rankCol, LongType)), counts.sum)
  }

  /** [[zipRankWithCount]] without the count. */
  def zipRank(sorted: DataFrame, rankCol: String): DataFrame =
    zipRankWithCount(sorted, rankCol)._1

  /** The vocabulary rarity rank behind every prefix-filtered join
    * ([[PrefixJoin]] tokens, [[FuzzyJoin]] q-grams): one unique long
    * `rankCol` per distinct `tokCol` value of the exploded `stream`,
    * ordered by document frequency ascending with the token itself as
    * tie-break — so (df, tok) is a unique sort key and the ranks equal
    * those of `row_number().over(Window.orderBy(df, tok))`, without the
    * single-partition window (a 100M-term vocabulary would serialize
    * on one task). Row-generic: `tokCol` may be a string or a hashed
    * long.
    *
    * The returned (tok, rank) frame carries a broadcast hint only
    * while the vocabulary is broadcast-sized (`vocabSize ≤
    * maxBroadcastVocab`, measured for free by the ranking pass): a
    * 100M-term vocabulary is a multi-GB relation, and an unconditional
    * hint would force it onto every executor. Past the bound the hint
    * is dropped and the planner/AQE picks the shuffle join.
    */
  def rarityRank(stream: DataFrame, tokCol: String, rankCol: String,
      maxBroadcastVocab: Long): DataFrame = {
    val (rank, vocabSize) = zipRankWithCount(
      stream.groupBy(col(tokCol)).agg(count(lit(1)).as("df"))
        .sort(col("df"), col(tokCol))
        .select(col(tokCol)),
      rankCol)
    if (vocabSize <= maxBroadcastVocab) broadcast(rank) else rank
  }

  /** `df` sorted by `sortCols` with an exact decimal running sum of
    * `valueCol` appended as `cumCol` — semantics of
    * `sum(valueCol).over(Window.orderBy(sortCols).rowsBetween(
    * unboundedPreceding, currentRow))`, computed as a two-pass
    * range-partitioned prefix sum: pass 1 collects one partial
    * (sum, non-null count) per partition, pass 2 re-streams each
    * partition with its prefix offset. NULL semantics match the
    * window exactly: NULLs contribute nothing, and rows BEFORE the
    * first non-null value in the global order carry NULL (not 0) —
    * SQL SUM over an all-NULL frame is NULL. `valueCol` must be a
    * decimal column (exact, order-independent — the repo's money-sum
    * discipline); output is decimal(38, scale of input), nullable.
    */
  def runningSum(
      df: DataFrame,
      sortCols: Seq[Column],
      valueCol: String,
      cumCol: String): DataFrame = {
    val sorted = df.sort(sortCols: _*)
    val vIdx = sorted.schema.fieldIndex(valueCol)
    val scale = sorted.schema(valueCol).dataType match {
      case d: DecimalType => d.scale
      case other => throw new IllegalArgumentException(
        s"runningSum needs a decimal value column, got $other")
    }
    val rdd = sorted.rdd
    val partAggs = rdd
      .mapPartitionsWithIndex { (pi, it) =>
        var s = java.math.BigDecimal.ZERO
        var nn = 0L
        it.foreach { r =>
          if (!r.isNullAt(vIdx)) { s = s.add(r.getDecimal(vIdx)); nn += 1 }
        }
        Iterator((pi, s, nn))
      }
      .collect().sortBy(_._1)
    // offsets(i) = Σ partial(<i): the only cross-partition state —
    // the sum for the running value, the non-null count so a prefix
    // of all-NULL rows yields NULL (not 0), matching the window
    val offsets = partAggs.map(_._2).scanLeft(java.math.BigDecimal.ZERO)(_ add _)
    val seenOffsets = partAggs.map(_._3).scanLeft(0L)(_ + _)
    val out = rdd.mapPartitionsWithIndex { (pi, it) =>
      var run = offsets(pi)
      var seen = seenOffsets(pi) > 0L
      it.map { r =>
        if (!r.isNullAt(vIdx)) { run = run.add(r.getDecimal(vIdx)); seen = true }
        Row.fromSeq(r.toSeq :+ (if (seen) run.setScale(scale) else null))
      }
    }
    df.sparkSession.createDataFrame(out,
      StructType(sorted.schema.fields :+
        StructField(cumCol, DecimalType(38, scale), nullable = true)))
  }

  /** `df` sorted by `sortCols` with the exact `ntile(tiles)` bucket
    * (1-based long) appended as `bucketCol` — SQL NTILE semantics
    * (first n%k tiles get ⌈n/k⌉ rows, the rest ⌊n/k⌋), computed from
    * per-partition row counts + prefix offsets instead of a
    * single-partition window.
    */
  def ntileRank(
      df: DataFrame,
      sortCols: Seq[Column],
      tiles: Int,
      bucketCol: String): DataFrame = {
    require(tiles > 0, "tiles must be positive")
    val sorted = df.sort(sortCols: _*)
    val rdd = sorted.rdd
    val counts = rdd
      .mapPartitionsWithIndex((pi, it) => Iterator((pi, countLong(it))))
      .collect().sortBy(_._1).map(_._2)
    val n = counts.sum
    val offsets = counts.scanLeft(0L)(_ + _)
    val q = n / tiles
    val r = n % tiles
    // rank → tile under the ceil/floor split; q == 0 (fewer rows than
    // tiles) keeps every row in the first branch, so the ÷q arm never
    // evaluates
    def bucket(i: Long): Long =
      if (i <= r * (q + 1)) (i - 1) / (q + 1) + 1
      else r + (i - r * (q + 1) - 1) / q + 1
    val out = rdd.mapPartitionsWithIndex { (pi, it) =>
      var i = offsets(pi)
      it.map { row => i += 1; Row.fromSeq(row.toSeq :+ bucket(i)) }
    }
    df.sparkSession.createDataFrame(out,
      appended(sorted.schema, bucketCol, LongType))
  }
}
