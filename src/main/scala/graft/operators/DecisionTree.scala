package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Depth-2 CART-style decision tree over an embedding column — split
  * selection by EXACT Gini gain on integer counts, so the learned
  * tree (both levels of chosen splits, every leaf's majority class,
  * every row's routing) replays value-for-value in oracle SQL. The
  * interpretable-classifier counterpart to [[NaiveBayes]]/[[LogReg]].
  *
  * Reference seam: no supervised analytics in the reference; this is
  * the SURVEY §2.12 training-pipeline extension.
  *
  * Split selection: features are the quantized embedding components
  * (floor(v·2^10), the [[LogReg.FeatScale]] quantum); candidate
  * thresholds are the fixed grid [[Thresholds]]. For a candidate
  * (dim j, threshold t) with per-side label counts c, minimizing the
  * size-weighted Gini  Σ_side n_s·(1 − Σ_c (c/n_s)²)  is equivalent
  * to maximizing  Q = S_L/n_L + S_R/n_R  with S = Σ_c c² — an exact
  * rational. Q is compared through its IEEE double image
  * CAST(S_L·n_R + S_R·n_L)/CAST(n_L·n_R) — ONE exactly-rounded
  * division per candidate, identical across engines — with
  * deterministic (dim, threshold) tie-break. Candidates with an
  * empty side are skipped (no information). Numerator headroom:
  * S·n ≤ N³ < 2^53 for N up to ~2·10^5 rows per node; beyond that
  * the counts aggregate is unchanged and only the comparator needs
  * widening.
  *
  * Scale shape: each level is ONE distributed aggregation over
  * (node, dim, threshold, side, label) — the corpus never collects;
  * only the |dims|·|grid|-sized candidate frame is ranked, and only
  * the argmax rows (1 per node) reach the driver, the KMeans-
  * centroid bounded-collect class. Routing is a narrow map against
  * the (tiny, broadcast) split table.
  */
object DecisionTree {

  /** Candidate threshold grid in feature quanta: −448, −384, …, 448. */
  val Thresholds: Seq[Long] = (0 until 15).map(k => -448L + 64L * k)

  /** One chosen split. */
  final case class Split(dim: Int, thr: Long)

  /** Fitted depth-2 tree: root split, per-branch second-level splits
    * (branch true = root-left), and per-leaf majority labels
    * (leaf = branchBit·2 + subBit, bit 0 = left/≤).
    */
  final case class Model(root: Split, subLeft: Split, subRight: Split)

  /** (vec_id, label, pos, xq) — one row per (row, dimension). */
  private def quantized(embs: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame =
    embs.select(col(idCol), col(labelCol).cast("long").as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col(idCol), col("label"), col("pos"),
        floor(col("v").cast("double") * LogReg.FeatScale).cast("long").as("xq"))

  /** Candidate scores (keyCols..., pos, t, q) — one distributed
    * aggregation; the result frame is |keys|·|dims|·|grid|-sized,
    * independent of row count.
    */
  private def candScores(quant: DataFrame, keyCols: Seq[String]): DataFrame = {
    val spark = quant.sparkSession
    import spark.implicits._
    val keyed = keyCols.map(col)
    val cand = quant
      .crossJoin(broadcast(Thresholds.toDF("t")))
      .groupBy(keyed :+ col("pos") :+ col("t") :+
        (col("xq") <= col("t")).as("side") :+ col("label"): _*)
      .agg(count(lit(1)).as("cnt"))
    val ss = cand
      .groupBy(keyed :+ col("pos") :+ col("t") :+ col("side"): _*)
      .agg(sum(col("cnt")).as("n"), sum(col("cnt") * col("cnt")).as("s"))
    val keyNames = keyCols :+ "pos" :+ "t"
    val l = ss.filter(col("side"))
      .select((keyNames.map(col) :+ col("n").as("nl") :+ col("s").as("sl")): _*)
    val r = ss.filter(!col("side"))
      .select((keyNames.map(col) :+ col("n").as("nr") :+ col("s").as("sr")): _*)
    l.join(r, keyNames)
      .withColumn("q",
        (col("sl") * col("nr") + col("sr") * col("nl")).cast("double")
          / (col("nl") * col("nr")).cast("double"))
  }

  /** Fit the depth-2 tree. Requires a root candidate with both sides
    * non-empty and, per branch, at least one valid sub-candidate
    * (any non-constant feature gives one; a single-row or constant
    * branch would need a leaf fallback this fixture never hits —
    * enforced loudly).
    */
  def fit(embs: DataFrame, idCol: String, vecCol: String,
      labelCol: String): Model = {
    val quant = quantized(embs, idCol, vecCol, labelCol)
    // comparator headroom (S·n ≤ N³ < 2^53) is only valid to ~2·10^5
    // rows — ENFORCED, not assumed (beyond that only the Q comparator
    // needs widening, the counts aggregate is unchanged)
    val n = embs.count()
    require(n <= 200000L,
      s"n=$n exceeds the exact-comparator headroom (max 200000 rows); " +
        "widen the Q comparator before fitting larger nodes")
    // root argmax: TakeOrderedAndProject over the bounded candidate
    // frame — no window at all
    val rootRow = candScores(quant, Nil)
      .orderBy(col("q").desc, col("pos").asc, col("t").asc).limit(1)
      .select(col("pos"), col("t")).collect()
    require(rootRow.nonEmpty, "no valid root split (constant features?)")
    val root = Split(rootRow(0).getInt(0), rootRow(0).getLong(1))
    val rootFeat = quant.filter(col("pos") === root.dim)
      .select(col(idCol), (col("xq") <= root.thr).as("branch"))
    val win = Window.partitionBy(col("branch"))
      .orderBy(col("q").desc, col("pos").asc, col("t").asc)
    val subs = candScores(quant.join(rootFeat, idCol), Seq("branch"))
      .withColumn("rn", row_number().over(win)).filter(col("rn") === 1)
      .select(col("branch"), col("pos"), col("t")).collect()
      .map(row => row.getBoolean(0) -> Split(row.getInt(1), row.getLong(2)))
      .toMap
    require(subs.contains(true) && subs.contains(false),
      "degenerate branch: no valid second-level split")
    Model(root, subs(true), subs(false))
  }

  /** Route every row and attach per-leaf majority labels (min label
    * on count ties): (id, label, leaf, pred, j_root, t_root, j_sub,
    * t_sub), ordered by id.
    */
  def assign(embs: DataFrame, idCol: String, vecCol: String,
      labelCol: String, m: Model): DataFrame = {
    def xqAt(dim: Int) =
      floor(element_at(col(vecCol), dim + 1).cast("double") * LogReg.FeatScale)
        .cast("long")
    val routed = embs.select(col(idCol), col(labelCol).cast("long").as("label"),
        (xqAt(m.root.dim) <= m.root.thr).as("branch"),
        xqAt(m.subLeft.dim).as("xl"), xqAt(m.subRight.dim).as("xr"))
      .select(col(idCol), col("label"), col("branch"),
        when(col("branch"), col("xl") <= m.subLeft.thr)
          .otherwise(col("xr") <= m.subRight.thr).as("left2"))
      .select(col(idCol), col("label"),
        (when(col("branch"), 0L).otherwise(2L) +
          when(col("left2"), 0L).otherwise(1L)).as("leaf"),
        when(col("branch"), lit(m.subLeft.dim.toLong)).otherwise(lit(m.subRight.dim.toLong)).as("j_sub"),
        when(col("branch"), lit(m.subLeft.thr)).otherwise(lit(m.subRight.thr)).as("t_sub"))
    val winLeaf = Window.partitionBy(col("leaf"))
      .orderBy(col("cnt").desc, col("label").asc)
    val leafPred = routed.groupBy(col("leaf"), col("label"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(winLeaf)).filter(col("rn") === 1)
      .select(col("leaf"), col("label").as("pred"))
    routed.join(broadcast(leafPred), "leaf")
      .select(col(idCol), col("label"), col("leaf"), col("pred"),
        lit(m.root.dim.toLong).as("j_root"), lit(m.root.thr).as("t_root"),
        col("j_sub"), col("t_sub"))
      .orderBy(col(idCol))
  }
}
