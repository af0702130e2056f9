package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar quantization (SQ8) for vector search — the fourth leg of
  * the ANN family: [[AnnSearch]] buckets (hyperplane LSH),
  * [[IvfSearch]] prunes (coarse cells), [[PqSearch]] compresses by
  * codebook (8 code ids per vector), SQ compresses by PER-DIMENSION
  * linear quantization: each float component becomes one small int
  * code in [0, 254] under the dimension's corpus [min, max] range —
  * 4 bytes become 1 (the faiss `SQ8` / Lucene int8-HNSW storage
  * scheme). Unlike PQ there is no training loop, no codebook, and
  * the scan arithmetic is pure integer multiply-add — SIMD-friendly
  * on any column of a 1000-executor scan, and composable with
  * [[IvfSearch]] cells the same way PQ is.
  *
  * Everything here is oracle-expressible — which PQ/IVF/LSH are not
  * (their seeded/iterative internals force rows-only checks): the
  * range stats are plain min/max aggregates, the code formula is one
  * floor of an IEEE-exact expression, and search distance is an
  * integer sum. q130 hash-matches the full search output against
  * DuckDB — the ANN family's first END-TO-END oracle-checked member.
  *
  * Determinism (cross-engine + cross-layout, SURVEY §7.4):
  *  - per-dim min/max are selections, not arithmetic — exact on any
  *    layout (a float min commutes);
  *  - code = clamp(floor((v − mn)·254/(mx − mn)), 0, 254), evaluated
  *    in doubles in THE SAME operation order in both engines: each
  *    step is exactly-rounded IEEE arithmetic, so both engines floor
  *    the identical quotient (the [[LogReg.fdiv]] argument);
  *  - quantized distance Σ (code_a − code_b)² is exact integer math;
  *    ties break by id. Max per-dim term 254² < 2^16, so a long
  *    survives 2^47 dimensions — never saturates.
  */
object SqSearch {

  /** Top code value — codes live in [0, Levels]. */
  val Levels = 254L

  final case class SqModel(mn: Array[Double], mx: Array[Double])
      extends Serializable {
    def dim: Int = mn.length

    /** clamp(floor((v − mn)·254/(mx − mn)), 0, 254); degenerate dims
      * (mx = mn) code to 0. Operation order mirrors the oracle text
      * exactly: (v − mn) · 254.0, then ÷ range, then floor.
      */
    def encodeOne(v: Array[Float]): Array[Int] = {
      val codes = new Array[Int](math.min(dim, v.length))
      var j = 0
      while (j < codes.length) {
        codes(j) =
          if (mx(j) == mn(j)) 0
          else {
            val c = math.floor((v(j).toDouble - mn(j)) * Levels.toDouble / (mx(j) - mn(j))).toLong
            math.min(math.max(c, 0L), Levels).toInt
          }
        j += 1
      }
      codes
    }
  }

  /** Per-dim corpus [min, max] in one shuffle-free `treeAggregate` —
    * a 2·dim-double accumulator per partition, the corpus never
    * moves (the [[KMeans.lloydStep]] monoid discipline; min/max
    * merge associatively).
    */
  def train(embs: DataFrame, vecCol: String): SqModel = {
    val spark = embs.sparkSession
    import spark.implicits._
    val vecs: RDD[Array[Float]] = embs.select(col(vecCol)).as[Array[Float]].rdd
    val dim = embs.select(size(col(vecCol))).first().getInt(0)
    val zero = (Array.fill(dim)(Double.PositiveInfinity),
      Array.fill(dim)(Double.NegativeInfinity))
    val (mn, mx) = vecs.treeAggregate(zero)(
      seqOp = { case ((lo, hi), v) =>
        var j = 0
        val n = math.min(dim, v.length)
        while (j < n) {
          val d = v(j).toDouble
          if (d < lo(j)) lo(j) = d
          if (d > hi(j)) hi(j) = d
          j += 1
        }
        (lo, hi)
      },
      combOp = { case ((l1, h1), (l2, h2)) =>
        var j = 0
        while (j < dim) {
          if (l2(j) < l1(j)) l1(j) = l2(j)
          if (h2(j) > h1(j)) h1(j) = h2(j)
          j += 1
        }
        (l1, h1)
      })
    require(mn.forall(_ != Double.PositiveInfinity),
      "cannot train SQ on an empty table")
    SqModel(mn, mx)
  }

  /** The compressed index: (id, codes array<int>) — a narrow map, 4×
    * smaller than the float32 column. Persist partitioned (or under
    * [[IvfSearch]] cells) and the original vectors never need to be
    * scanned again except for an exact-rerank tier.
    */
  def encode(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      model: SqModel): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    embs.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions(it => it.map { case (id, v) => (id, model.encodeOne(v)) })
      .toDF(idCol, "codes")
  }

  /** Exact integer quantized distance Σ (code − qcode)² as a Catalyst
    * column (zip_with + aggregate — whole-stage codegen, no UDF).
    */
  def quantDist(codes: Column, qcodes: Array[Int]): Column =
    aggregate(
      zip_with(codes, lit(qcodes), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x.cast("long"))

  /** Top-k by quantized distance ascending, ties by id — plans as
    * TakeOrderedAndProject (per-partition heaps, no global sort).
    */
  def search(
      encoded: DataFrame,
      idCol: String,
      qcodes: Array[Int],
      k: Int): DataFrame =
    encoded
      .withColumn("qdist", quantDist(col("codes"), qcodes))
      // quantDist is NULL for malformed rows (codes length ≠ query
      // length, or a null element — zip_with pads with null); Spark
      // sorts NULLs FIRST ascending, so without this filter malformed
      // vectors would silently occupy the whole top-k instead of
      // being excluded
      .filter(col("qdist").isNotNull)
      .orderBy(col("qdist").asc, col(idCol))
      .limit(k)
      .select(col(idCol), col("qdist"))

  /** Train + encode + search in one call (the q130 shape): the query
    * is itself SQ-encoded, so search is symmetric integer L2 in code
    * space.
    */
  def searchRaw(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int): DataFrame = {
    val model = train(embs, vecCol)
    search(encode(embs, idCol, vecCol, model), idCol, model.encodeOne(query), k)
  }
}
