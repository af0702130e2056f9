package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Principal-component extraction over an embedding column — power
  * iteration on the exact integer covariance (Gram) matrix, every
  * step in fixed point so the learned eigenvector, eigenvalue, and
  * per-document projections replay value-for-value in oracle SQL
  * (the [[KMeans]]/[[LogReg]] discipline applied to spectral
  * analysis). PCA is the embedding-pipeline workhorse: whitening
  * before cosine retrieval ("all-but-the-top", Mu & Viswanath ICLR'18
  * — the top component is a corpus-frequency direction worth
  * removing), drift diagnosis, and cheap dimensionality reduction
  * ahead of [[IvfSearch]]/[[PqSearch]].
  *
  * Reference seam: the reference stops at embedding inference
  * (`03-model-inference-on-chunks.py:131`); analyzing the embedding
  * geometry is the LLM-data-pipeline extension (SURVEY §2.12).
  *
  * Exactness:
  *  - features floor(v·2^10) (the [[LogReg.FeatScale]] quantum, no
  *    bias term), integer mean m_j = fdiv(Σx_j, n);
  *  - the centered Gram is EXACT integer algebra on one pass of raw
  *    moments: Σc_i·c_j = Σx_i·x_j − m_i·Σx_j − m_j·Σx_i + n·m_i·m_j
  *    (c = x − m), normalized per-row by fdiv(·, n);
  *  - power iteration in [[VScale]] fixed point: u = G·v, then
  *    v' = fdiv(u_j·VScale, max|u|) — the max-abs component lands on
  *    exactly ±VScale, so iterates stay bounded;
  *  - the Rayleigh quotient is pre-scaled per term (fdiv(v_j·u_j,
  *    VScale)) so every fdiv operand stays under 2^53, where IEEE
  *    division is exactly rounded and both engines floor the same
  *    quotient.
  *
  * Headroom: features within ±[[MaxQuanta]] quanta (centered ±2^11)
  * give |G/n| ≤ 2^22, so u ≤ 2^22·2^12·dim — exact to dim ≤ 2^6 at
  * these quanta; larger dims would drop [[VScale]] a power of two
  * each 4× (the [[LogReg]] headroom pattern). Both bounds are
  * ENFORCED: `fit` rejects dim > [[MaxDim]] and `quantize` rejects
  * out-of-range features (loud, never silent overflow).
  *
  * Scale shape: ONE `treeAggregate` pass moves a (dim + dim²)-long
  * accumulator per partition — the corpus never shuffles and only
  * dim²-sized arrays reach the driver (the bounded-collect class:
  * KMeans centroids, PQ codebooks). The iteration itself is
  * driver-local on the dim² matrix; projection is a narrow map with
  * the eigenvector on the closure. At 100 TB nothing here grows with
  * rows except the single aggregation pass.
  */
object Pca {

  /** Feature quantum — floor(v·2^10), matching [[LogReg.FeatScale]]. */
  val FeatScale = 1024L

  /** 2^12 — eigenvector fixed-point quantum. */
  val VScale = 4096L

  /** Documented headroom bounds, ENFORCED at fit time: features must
    * stay within ±[[MaxQuanta]] quanta (raw values within ±1.0, so
    * |G/n| ≤ 2^22) and dim within [[MaxDim]] = 2^6 (so |G·v| ≤
    * 2^22·2^12·2^6 = 2^40 and every fdiv operand stays under 2^53).
    */
  val MaxQuanta: Long = FeatScale // ±1.0 raw
  val MaxDim = 64

  /** Fitted state: integer means (dim), normalized Gram rows G/n
    * (dim×dim), the final eigenvector at [[VScale]] (dim), the
    * floored Rayleigh eigenvalue (feature-quanta² units), trace of
    * G/n, and the explained-variance ratio in milli.
    */
  final case class Result(
      mean: Array[Long],
      gram: Array[Array[Long]],
      vec: Array[Long],
      lambda: Long,
      trace: Long,
      evrMilli: Long)

  private def quantize(v: Array[Float]): Array[Long] = {
    val x = new Array[Long](v.length)
    var j = 0
    while (j < v.length) {
      x(j) = math.floor(v(j).toDouble * FeatScale.toDouble).toLong
      if (math.abs(x(j)) > MaxQuanta)
        throw new IllegalArgumentException(
          s"feature out of headroom: |${x(j)}| quanta > $MaxQuanta " +
            s"(raw |v| > 1.0) — rescale inputs before Pca.fit")
      j += 1
    }
    x
  }

  /** One matrix·vector step u = G·v in longs. */
  private def mulVec(g: Array[Array[Long]], v: Array[Long]): Array[Long] = {
    val d = v.length
    val u = new Array[Long](d)
    var i = 0
    while (i < d) {
      var s = 0L
      var j = 0
      while (j < d) { s += g(i)(j) * v(j); j += 1 }
      u(i) = s
      i += 1
    }
    u
  }

  /** Fit mean + Gram + dominant eigenvector from `vecCol`. */
  def fit(df: DataFrame, vecCol: String, iterations: Int): Result = {
    require(iterations >= 1, "iterations must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val dimRow = df.select(size(col(vecCol))).limit(1).collect()
    require(dimRow.nonEmpty, "fit input is empty")
    val d = dimRow(0).getInt(0)
    require(d >= 1 && d <= MaxDim,
      s"dim $d outside [1, $MaxDim]: the fixed-point headroom proof " +
        "(scaladoc) only covers dim <= 2^6 at these quanta")
    val rows = df.select(col(vecCol)).as[Array[Float]].rdd.map(quantize)
    // one pass: n, Σx (d longs), Σxxᵀ (d² longs) — commutative long
    // sums, layout-independent
    val zero = (0L, new Array[Long](d), Array.ofDim[Long](d, d))
    val (n, sx, sxx) = rows.treeAggregate(zero)(
      seqOp = { case ((c, s, m), x) =>
        var i = 0
        while (i < d) {
          s(i) += x(i)
          val mi = m(i)
          val xi = x(i)
          var j = 0
          while (j < d) { mi(j) += xi * x(j); j += 1 }
          i += 1
        }
        (c + 1L, s, m)
      },
      combOp = { case ((c1, s1, m1), (c2, s2, m2)) =>
        var i = 0
        while (i < d) {
          s1(i) += s2(i)
          val a = m1(i); val b = m2(i)
          var j = 0
          while (j < d) { a(j) += b(j); j += 1 }
          i += 1
        }
        (c1 + c2, s1, m1)
      })
    require(n > 0L, "fit input is empty")
    val mean = sx.map(LogReg.fdiv(_, n))
    val g = Array.tabulate(d, d) { (i, j) =>
      LogReg.fdiv(
        sxx(i)(j) - mean(i) * sx(j) - mean(j) * sx(i) + n * mean(i) * mean(j),
        n)
    }
    var v = Array.tabulate(d)(j => VScale + j) // deterministic asymmetric init
    var it = 0
    while (it < iterations) {
      val u = mulVec(g, v)
      var m = 0L
      var j = 0
      while (j < d) { if (math.abs(u(j)) > m) m = math.abs(u(j)); j += 1 }
      require(m > 0L, "zero-variance input: G.v vanished")
      v = u.map(uj => LogReg.fdiv(uj * VScale, m))
      it += 1
    }
    val uf = mulVec(g, v)
    val rayNum = v.zip(uf).map { case (vj, uj) => LogReg.fdiv(vj * uj, VScale) }.sum
    val rayDen = v.map(vj => LogReg.fdiv(vj * vj, VScale)).sum
    val lambda = LogReg.fdiv(rayNum, rayDen)
    val trace = (0 until d).map(j => g(j)(j)).sum
    require(trace > 0L, "zero-variance input: trace(G) = 0")
    Result(mean, g, v, lambda, trace, LogReg.fdiv(1000L * lambda, trace))
  }

  /** (id, pc1) — each row's exact integer projection
    * Σ v_j·(x_j − m_j) onto the fitted component; a narrow map, the
    * (mean, vec) pair rides the closure.
    */
  def project(df: DataFrame, idCol: String, vecCol: String, r: Result): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val mean = r.mean
    val vec = r.vec
    df.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.map { case (id, f) =>
          val x = quantize(f)
          var s = 0L
          var j = 0
          val d = math.min(x.length, vec.length)
          while (j < d) { s += vec(j) * (x(j) - mean(j)); j += 1 }
          (id, s)
        }
      }
      .toDF(idCol, "pc1")
  }
}
