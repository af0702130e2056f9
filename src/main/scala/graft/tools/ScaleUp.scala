package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe corpus generator (r10 verdict #7): synthesizes an
  * sf0.1×K corpus under /tmp by unioning K key-remapped replicas of
  * the sf0.1 fixtures, so the heaviest queries can be probed one
  * decade up without touching the read-only driver fixtures. Usage:
  *
  *   sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/graft-sf0.5 5"
  *
  * Remapping keeps the probe REALISTIC rather than adversarial —
  * "K independent shards of the same business", the shape a real 5×
  * corpus has:
  *  - every key (order/part/supp/cust/doc/user/vec/event) is offset
  *    by r·1e8 per replica, so order-local, doc-local, and user-local
  *    structure is exactly preserved and joins stay key-correct;
  *  - document TOKENS are suffixed `~r` for r>0: each replica's
  *    near-dup pair/cluster structure is identical to sf0.1 and
  *    cross-replica Jaccard is exactly 0 — pair counts scale ×K,
  *    not ×K² (K exact copies of the corpus would quadratically
  *    explode every dedup family query, which probes skew handling,
  *    not scale);
  *  - embedding labels are offset per replica for the same reason
  *    (label-blocked cosine joins scale ×K);
  *  - events keep their timestamps (K× density over the same
  *    calendar — the realistic traffic-growth shape); nation/region
  *    dimensions copy through unchanged.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft-sf0.5"
    val k = if (args.length > 2) args(2).toInt else 5
    val spark = graft.Graft.mainSession("graft-scaleup")
    build(spark, src, out, k)
    spark.stop()
  }

  /** The replica-corpus builder, callable in-process (ScaleProbe). */
  def build(spark: SparkSession, src: String, out: String, k: Int): Unit = {
    val OFF = 100000000L

    def rep(table: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val all = (0 until k).map(r => f(base, r)).reduce(_ unionAll _)
      all.write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[scaleup] $table: ${all.count()} rows")
    }
    def shift(c: String, r: Int) = col(c) + lit(r * OFF)

    rep("region")((df, r) => if (r == 0) df else df.limit(0))
    rep("nation")((df, r) => if (r == 0) df else df.limit(0))
    rep("customer")((df, r) => df.withColumn("c_custkey", shift("c_custkey", r)))
    rep("supplier")((df, r) => df.withColumn("s_suppkey", shift("s_suppkey", r)))
    rep("part")((df, r) => df.withColumn("p_partkey", shift("p_partkey", r)))
    rep("orders")((df, r) => df
      .withColumn("o_orderkey", shift("o_orderkey", r))
      .withColumn("o_custkey", shift("o_custkey", r)))
    rep("lineitem")((df, r) => df
      .withColumn("l_orderkey", shift("l_orderkey", r))
      .withColumn("l_partkey", shift("l_partkey", r))
      .withColumn("l_suppkey", shift("l_suppkey", r)))
    rep("events")((df, r) => df
      .withColumn("event_id", shift("event_id", r))
      .withColumn("user_id", shift("user_id", r)))
    rep("embeddings")((df, r) => df
      .withColumn("vec_id", shift("vec_id", r))
      .withColumn("label", (col("label") + lit(r * 1000000)).cast("int")))
    rep("documents")((df, r) =>
      if (r == 0) df
      else df
        .withColumn("doc_id", shift("doc_id", r))
        .withColumn("text",
          concat_ws(" ", transform(
            split(trim(col("text")), "\\s+"),
            t => concat(t, lit(s"~$r")))))
        .withColumn("n_chars", length(col("text")).cast("long")))
  }
}
