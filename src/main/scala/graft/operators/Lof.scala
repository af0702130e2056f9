package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Local Outlier Factor (Breunig et al., SIGMOD'00) over a blocked
  * embedding table — the DENSITY-RATIO outlier member: Mahalanobis
  * (q288) flags global ellipsoid outliers, isolation forest (q247)
  * axis-aligned sparse regions, DBSCAN (q174) labels noise;
  * LOF scores each point by how much SPARSER its neighborhood is
  * than its neighbors' neighborhoods — the only member that finds
  * local outliers inside clusters of differing density.
  *
  * Deterministic variant (documented divergences from the paper, both
  * mirrored exactly by the oracle):
  *  - distances are cosine distance snapped to MICRO before anything
  *    downstream — every ordering/threshold then runs on exact
  *    integers, so a 1-ulp float wobble can never flip a neighbor
  *    set;
  *  - the k-NN set is exactly the k smallest under the TOTAL
  *    (dist, id) order (the paper keeps all ties at the k-distance;
  *    a tie-broken exact-k set makes counts deterministic);
  *  - lrd is nano-quantized by round-half-up exact integer division;
  *    a zero reachability sum (≥ k exact duplicates) yields NULL
  *    lrd/LOF, NULL-propagated (the coxBinary convention) — and the
  *    propagation is STRICT: if ANY neighbor's lrd is NULL the
  *    point's lof_milli is NULL too (count(lrd_o) < count(*) in the
  *    neighbor aggregation), never a silently-diluted average over
  *    the non-NULL subset.
  *
  * Scale shape: the pair join is label-blocked (Σ n_blk² — the q27
  * grid argument applies if a block is huge); everything after is
  * node-sized aggregations and a PARTITIONED window. At 100 TB the
  * candidate stage swaps to [[AnnSearch]] buckets; the LOF algebra
  * downstream is unchanged.
  *
  * Returns (id, cnt, kdist, lrd, lof_milli), one row per node with
  * ≥ 1 same-block peer.
  */
object Lof {

  def lof(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      k: Int = 5): DataFrame = {
    require(k >= 1, "k >= 1")
    import graft.functions.GraftFunctions.cosine_sim

    val base = embs.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"), col(blockCol).as("blk"))
    val pairs = base.select(col("id").as("ia"), col("v").as("va"), col("blk"))
      .join(base.select(col("id").as("ib"), col("v").as("vb"), col("blk")),
        "blk")
      .filter(col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"),
        floor((lit(1.0) - cosine_sim(col("va"), col("vb"))) * 1000000
          + lit(0.5)).cast("long").as("dist"))
    val knn = pairs
      .withColumn("rk", row_number.over(
        Window.partitionBy(col("ia")).orderBy(col("dist"), col("ib"))))
      .filter(col("rk") <= k)
      .transform(graft.operators.Iterate.truncate)        // consumed three times below
    val kd = knn.groupBy(col("ia"))
      .agg(max(col("dist")).as("kdist"), count(lit(1)).as("cnt"))
    val reach = knn
      .join(kd.select(col("ia").as("ib"), col("kdist").as("kdist_o")), "ib")
      .select(col("ia"), greatest(col("dist"), col("kdist_o")).as("reach"))
    val lrd = reach.groupBy(col("ia"))
      .agg(sum(col("reach")).as("sr"), count(lit(1)).as("cn"))
      .select(col("ia"),
        when(col("sr") === 0, lit(null).cast("long"))
          .otherwise(expr(
            "(2 * cn * 1000000000000 + sr) DIV (2 * sr)")).as("lrd"))
    val lofj = knn
      .join(lrd.select(col("ia").as("ib"), col("lrd").as("lrd_o")), "ib")
      .groupBy(col("ia"))
      .agg(sum(col("lrd_o")).as("slo"), count(col("lrd_o")).as("cntl"),
        count(lit(1)).as("cnt2"))
    kd.join(lrd, "ia").join(lofj, "ia")
      .select(col("ia").as("id"), col("cnt"), col("kdist"), col("lrd"),
        when(col("lrd").isNull || col("slo").isNull
            || col("cntl") < col("cnt2"), lit(null).cast("long"))
          .otherwise(expr(
            "(2000 * slo + cnt2 * lrd) DIV (2 * cnt2 * lrd)"))
          .as("lof_milli"))
      .orderBy(col("id"))
  }
}
