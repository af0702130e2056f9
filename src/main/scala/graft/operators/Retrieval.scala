package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval training-data operators over an embedding column: hard-
  * negative mining (the DPR/ANCE contrastive-training step — Karpukhin
  * et al. 2020 §3.2; Xiong et al. 2021) and MMR result
  * diversification (Carbonell & Goldstein, SIGIR'98). Both ride the
  * engine's quantized-integer distance convention ([[KMeans]]
  * DistQuantum) so rankings, scores, and the greedy MMR recurrence
  * replay exactly in oracle SQL — no float comparison anywhere.
  */
object Retrieval {

  /** Exact quantized squared L2 Σ_j floor((a_j − b_j)²·quantum) as a
    * Catalyst column — the column form of [[KMeans.Model.quantDist]],
    * backed by the native fused-loop expression
    * [[graft.functions.QuantL2]] (bit-identical to the composed
    * zip_with+aggregate form, spec-pinned; no per-row intermediate
    * array).
    */
  def quantL2(a: Column, b: Column, quantum: Double = KMeans.DistQuantum.toDouble): Column =
    graft.functions.GraftFunctions.quant_l2(a, b, lit(quantum))

  /** The scalar twin of [[quantL2]] for driver-side bounded work. */
  def quantL2(a: Array[Float], b: Array[Float]): Long = {
    var s = 0L
    var j = 0
    val n = math.min(a.length, b.length)
    while (j < n) {
      val d = a(j).toDouble - b(j).toDouble
      s += math.floor(d * d * KMeans.DistQuantum.toDouble).toLong
      j += 1
    }
    s
  }

  /** Hard-negative mining: for each probe row, the `k` nearest corpus
    * rows whose label DIFFERS — the negatives that most confuse a
    * retriever, which is exactly what contrastive training wants.
    * Probes broadcast (hash-bounded), ranking is a per-probe window
    * (bounded by the probe count), distances quantized-exact.
    * Returns (query_id, neg_id, rank, dist).
    */
  def hardNegatives(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      probeRate: Double,
      salt: Long,
      k: Int): DataFrame = {
    val probes = embs
      .filter(Sampling.hashFraction(col(idCol), salt) < probeRate)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        col(labelCol).as("qlabel"))
    val ranked = embs
      .join(broadcast(probes), col(labelCol) =!= col("qlabel"))
      .withColumn("dist", quantL2(col(vecCol), col("qvec")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("dist"), col(idCol))))
    ranked.filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neg_id"), col("rank"), col("dist"))
  }

  /** Micro-quantized DCG rank discounts floor(10⁶/log₂(i+1) + ½) for
    * ranks 1..k, and their prefix sums (IDCG of j all-relevant ranks).
    * Computed ONCE here and inlined into both the Spark plan and the
    * oracle SQL — the libm-snap discipline: log₂ never runs inside
    * either engine, so the metric is pure integer algebra both sides.
    */
  def dcgDiscountsMicro(k: Int): Array[Long] =
    Array.tabulate(k)(i =>
      math.floor(1e6 / (math.log(i + 2.0) / math.log(2.0)) + 0.5).toLong)

  /** NDCG@k of the quantized-exact L2 ranking against same-label
    * relevance — the graded companion to q131's recall@k/MRR eval:
    * for each hash-sampled probe, rank the corpus by [[quantL2]]
    * (ties by id), score rel = 1 where the hit's label matches the
    * probe's, DCG = Σ rel·disc_micro over the top k, IDCG = the
    * prefix sum at min(n_rel, k), NDCG in ppm by integer division.
    * Probes broadcast (hash-bounded); per-probe window ranking; the
    * only corpus-wide work is the probe-fanned distance scan — the
    * eval-harness shape shared with q131/q132.
    * Returns (query_id, n_rel, dcg_micro, idcg_micro, ndcg_ppm).
    */
  def ndcgAtK(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      probeRate: Double,
      salt: Long,
      k: Int): DataFrame = {
    val disc = dcgDiscountsMicro(k)
    val idcgPrefix = disc.scanLeft(0L)(_ + _)           // length k + 1
    val probes = embs
      .filter(Sampling.hashFraction(col(idCol), salt) < probeRate)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        col(labelCol).as("qlabel"))
    val top = embs
      .join(broadcast(probes), col(idCol) =!= col("query_id"))
      .withColumn("dist", quantL2(col(vecCol), col("qvec")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("dist"), col(idCol))))
      .filter(col("rnk") <= k)
    val dcg = top.groupBy(col("query_id")).agg(
      sum(when(col(labelCol) === col("qlabel"),
        element_at(array(disc.map(lit): _*), col("rnk"))).otherwise(0L))
        .as("dcg_micro"))
    val nrel = embs
      .join(broadcast(probes.select(col("query_id"), col("qlabel"))),
        col(labelCol) === col("qlabel") && col(idCol) =!= col("query_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    dcg.join(nrel, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        col("dcg_micro"),
        element_at(array(idcgPrefix.map(lit): _*),
          (least(coalesce(col("n_rel"), lit(0L)), lit(k.toLong)) + 1L).cast("int"))
          .as("idcg_micro"))
      .withColumn("ndcg_ppm",
        when(col("idcg_micro") === 0L, lit(0L))
          .otherwise(expr("dcg_micro * 1000000 DIV idcg_micro")))
      .orderBy(col("query_id"))
  }

  /** Average precision @ k per hash-sampled probe — the area-under-
    * precision member next to [[ndcgAtK]] (graded discounts) and
    * recall@k (set overlap): AP = Σ_{rel hits r at rank i} P@i,
    * normalized by min(n_rel, k). Pure integer arithmetic: each
    * precision term is an exact integer ppm division cnt·1e6 DIV
    * rank (positives only, so DuckDB `//` ≡ Spark DIV), summed and
    * normalized by one more integer division — the metric
    * hash-matches with zero tolerance. The running relevant-count
    * window is query-PARTITIONED (never global). Returns
    * (query_id, n_rel, ap_ppm) ordered by query_id.
    */
  def averagePrecisionAtK(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      probeRate: Double,
      salt: Long,
      k: Int): DataFrame = {
    val probes = embs
      .filter(Sampling.hashFraction(col(idCol), salt) < probeRate)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        col(labelCol).as("qlabel"))
    val top = embs
      .join(broadcast(probes), col(idCol) =!= col("query_id"))
      .withColumn("dist", quantL2(col(vecCol), col("qvec")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("dist"), col(idCol))))
      .filter(col("rnk") <= k)
    val wc = Window.partitionBy(col("query_id")).orderBy(col("rnk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ap = top
      .withColumn("rel",
        when(col(labelCol) === col("qlabel"), 1L).otherwise(0L))
      .withColumn("cnt", sum(col("rel")).over(wc))
      .withColumn("term",
        when(col("rel") === 1L, expr("cnt * 1000000 DIV rnk"))
          .otherwise(lit(0L)))
      .groupBy(col("query_id")).agg(sum(col("term")).as("sum_terms"))
    val nrel = embs
      .join(broadcast(probes.select(col("query_id"), col("qlabel"))),
        col(labelCol) === col("qlabel") && col(idCol) =!= col("query_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    ap.join(nrel, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        when(coalesce(col("n_rel"), lit(0L)) === 0L, lit(0L))
          .otherwise(expr(s"sum_terms DIV LEAST(n_rel, ${k}L)"))
          .as("ap_ppm"))
      .orderBy(col("query_id"))
  }

  /** One MMR greedy selection over a bounded candidate pool (driver-
    * side: the pool is top-`poolSize` rows, k·dim floats — the same
    * bounded-collect class as [[KMeans.initByHash]]'s seed rows).
    *
    * Seed = nearest to the query; each later step picks, among
    * unselected pool rows, the maximizer of
    * `min_{s∈selected} dist(d, s) − dist(d, q)` (ties → lowest id) —
    * the λ=1/2 MMR trade rewritten in distances, kept in exact
    * integers so the oracle's unrolled per-step CTEs pick identical
    * rows. The seed's score is defined as −dist(q, seed).
    * Returns (rank, vec_id, mmr_score).
    */
  def mmrSelect(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      poolSize: Int,
      k: Int,
      excludeId: Option[Long] = None): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val base = excludeId.map(x => embs.filter(col(idCol) =!= x)).getOrElse(embs)
    val pool = base
      .withColumn("dq", quantL2(col(vecCol), lit(query)))
      .orderBy(col("dq"), col(idCol))
      .limit(poolSize)
      .select(col(idCol).cast("long"), col(vecCol), col("dq"))
      .as[(Long, Array[Float], Long)]
      .collect()

    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val chosen = scala.collection.mutable.Set.empty[Long]
    // seed: min (dq, id)
    val seed = pool.minBy { case (id, _, dq) => (dq, id) }
    selected += ((1, seed._1, -seed._3))
    chosen += seed._1
    var r = 2
    while (r <= k && chosen.size < pool.length) {
      val best = pool.iterator
        .filterNot { case (id, _, _) => chosen.contains(id) }
        .map { case (id, v, dq) =>
          val minDd = pool.iterator
            .filter { case (sid, _, _) => chosen.contains(sid) }
            .map { case (_, sv, _) => quantL2(v, sv) }
            .min
          (id, minDd - dq)
        }
        // argmax score, ties lowest id — one pass, exact integers
        .reduceLeft { (a, b) =>
          if (b._2 > a._2 || (b._2 == a._2 && b._1 < a._1)) b else a
        }
      selected += ((r, best._1, best._2))
      chosen += best._1
      r += 1
    }
    spark.createDataFrame(selected.toSeq)
      .toDF("rank", "vec_id", "mmr_score")
      .select(col("rank").cast("int"), col("vec_id"), col("mmr_score"))
      .orderBy(col("rank"))
  }
}
