package graft.operators

import java.sql.Date

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Financial-risk primitives over a daily value series — drawdown
  * trajectory, historical VaR / expected shortfall, and the
  * Durbin–Watson autocorrelation diagnostic. The
  * revenue-as-a-time-series analytics the warehouse family (q178
  * Holt, q179 seasonal, q181 CUSUM) stops short of: "how bad did the
  * cumulative position get, how fat is the daily downside tail, and
  * are the trend residuals serially correlated?".
  *
  * Reference seam: the reference pipeline has no finance analytics;
  * this is the LLM-data-ops extension of the daily-series family
  * (SURVEY §2.12), sharing its exact-integer discipline.
  *
  * Exactness: inputs are cent-quantized BIGINTs; every cumulative
  * sum, running max, and difference is integer algebra, so the whole
  * trajectory hash-matches a window-function replay. Where a genuine
  * real division appears (ES mean, DW ratio) it is ONE fixed IEEE
  * double chain, micro-snapped (the q170 discipline).
  *
  * Scale shape: every operator below folds the [[SeriesFold]]
  * single-task gather of the day-count-bounded series.
  */
object Risk {

  /** Row shape of [[xmrChart]] (Option field needs a product encoder). */
  final case class XmrRow(
      day: Date, xq: Long, mr: Option[Long], flagX: Boolean, flagMr: Boolean)

  /** Row shape of [[varEs]] — var/es are None on a degenerate series
    * with fewer than 2 days (no deltas to take a quantile of). */
  final case class VarEsRow(
      n_days: Long, var_p: Option[Double], es_micro: Option[Long],
      n_tail: Long)

  /** Row shape of [[tailDependence]] (6 fields — past Encoders.tuple).
    * The lambda fields are None when k == 0 (n < 5): "undefined", not
    * "no tail dependence" — the [[VarEsRow]] degenerate-frame
    * convention. */
  final case class TailDepRow(
      n: Long, k: Long, both_low: Long, both_high: Long,
      lambda_low_milli: Option[Long], lambda_high_milli: Option[Long])

  /** (sequence ordinal, cumulative sum, running peak). */
  final case class DdState(rn: Long, cum: Long, peak: Long)

  val DdStart = DdState(0L, 0L, Long.MinValue)

  /** One drawdown step: extend the cumulative sum and its peak. */
  def drawdownStep(st: DdState, xq: Long): DdState = {
    val cum = st.cum + xq
    DdState(st.rn + 1L, cum, math.max(st.peak, cum))
  }

  /** Drawdown trajectory of the cumulative series: one row per day,
    * (day, xq, cum, peak, dd) with cum = running sum of xq, peak =
    * running max of cum, dd = peak − cum ≥ 0. All exact BIGINT.
    */
  def drawdown(series: DataFrame, dayCol: String, valCol: String): DataFrame =
    SeriesFold.series(series, dayCol, valCol) { rows =>
      SeriesFold.scan(DdStart, rows.iterator) { case (st, (day, xq)) =>
        val s = drawdownStep(st, xq)
        (s, (day, xq, s.cum, s.peak, s.peak - s.cum))
      }
    }(Encoders.tuple(Encoders.DATE, Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong))
      .toDF(dayCol, valCol, "cum", "peak", "dd")
      .orderBy(col(dayCol))

  /** Historical value-at-risk and expected shortfall of the
    * day-over-day changes of the series: one row
    * (n_days, var_p, es_micro, n_tail).
    *
    *  - deltas d_t = x_t − x_{t−1} over the day-ordered series
    *    (exact BIGINT cents; n−1 of them);
    *  - VaR_p = the linearly-interpolated p-quantile of the deltas
    *    (the quantile_cont convention q105 proved engine-identical:
    *    pos = p·(m−1), v = a + frac·(b−a) — one IEEE chain),
    *    r4-snapped;
    *  - ES = mean of the deltas ≤ the UNSNAPPED VaR (exact BIGINT
    *    sum / count, one double division), micro-snapped. The tail
    *    membership predicate uses the raw quantile so snapping can
    *    never move a boundary delta across it.
    */
  def varEs(series: DataFrame, dayCol: String, valCol: String,
      p: Double): DataFrame =
    SeriesFold.series(series, dayCol, valCol) { rows =>
      val ys = rows.map(_._2)
      val deltas =
        ys.sliding(2).filter(_.length == 2).map(a => a(1) - a(0))
          .toArray.sorted
      val m = deltas.length
      Iterator.single(if (m == 0) {
        // degenerate frame (< 2 days): no deltas — NULL-propagate
        // like coxBinary rather than index deltas(-1)
        VarEsRow(ys.length.toLong, None, None, 0L)
      } else {
        val pos = p * (m - 1)
        val lo = math.floor(pos).toInt
        val frac = pos - lo
        val varRaw =
          if (lo + 1 < m)
            deltas(lo) + frac * (deltas(lo + 1) - deltas(lo)).toDouble
          else deltas(lo).toDouble
        var tailSum = 0L
        var tailN = 0L
        deltas.takeWhile(_.toDouble <= varRaw).foreach { d =>
          tailSum += d; tailN += 1
        }
        // tailN >= 1 always: deltas(0) <= varRaw by construction
        val esMicro =
          math.floor(tailSum.toDouble / tailN * 1000000L + 0.5).toLong
        val varR4 = math.floor(varRaw * 10000 + 0.5) / 10000
        VarEsRow(ys.length.toLong, Some(varR4), Some(esMicro), tailN)
      })
    }(Encoders.product[VarEsRow])
      .toDF("n_days", "var_p", "es_micro", "n_tail")

  /** XmR (individuals + moving-range) Shewhart control chart over
    * the day-ordered series — the SPC member next to [[Cusum]] (that
    * one detects sustained DRIFT; this flags individual excursions
    * and short-term variance spikes): centre x̄ = fdiv(Σx, n),
    * average moving range MR̄ = fdiv(Σ|xₜ−xₜ₋₁|, n−1), and the
    * classic limits x̄ ± 2.66·MR̄ (X chart) and 3.267·MR̄ (MR chart,
    * the D₄ constant). Every comparison is cross-multiplied exact
    * integer algebra — |1000·(x−x̄)| > 2660·MR̄ — so flags replay
    * with zero tolerance. One row per day:
    * (day, xq, mr, flag_x, flag_mr), mr NULL on the first day.
    */
  def xmrChart(series: DataFrame, dayCol: String, valCol: String): DataFrame =
    SeriesFold.series(series, dayCol, valCol) { rows =>
      val n = rows.length.toLong
      val xbar = LogReg.fdiv(rows.map(_._2).sum, n)
      val mrs = rows.map(_._2).sliding(2).filter(_.length == 2)
        .map(a => math.abs(a(1) - a(0))).toArray
      val mrbar =
        if (n > 1) LogReg.fdiv(mrs.sum, n - 1) else 0L
      var prev = Option.empty[Long]
      rows.iterator.map { case (day, xq) =>
        val mr = prev.map(p => math.abs(xq - p))
        prev = Some(xq)
        XmrRow(day, xq, mr,
          math.abs(1000L * (xq - xbar)) > 2660L * mrbar,
          mr.exists(m => 1000L * m > 3267L * mrbar))
      }
    }(Encoders.product[XmrRow])
      .toDF(dayCol, valCol, "mr", "flag_x", "flag_mr")
      .orderBy(col(dayCol))

  /** The [[durbinWatson]] OLS line of `ys` against its 1-based day
    * rank t: (St, Stt, (slope_milli, intercept_milli)), the moments
    * exact and the slope ONE double division of exact BigInts. The
    * line is None on a one-day series, whose den = n·Stt − St² is 0:
    * the oracle's double division by zero is NULL there, and so is
    * everything computed from the line. */
  private def olsMilli(ys: Array[Long]): (Long, Long, Option[(Long, Long)]) = {
    val n = ys.length.toLong
    var st, sy, stt = 0L
    var sty = BigInt(0)
    var t = 0L
    ys.foreach { y =>
      t += 1; st += t; sy += y; stt += t * t; sty += BigInt(t) * y
    }
    val num = BigInt(n) * sty - BigInt(st) * sy
    val den = BigInt(n) * stt - BigInt(st) * st
    // one double division (operands < 2^63 at oracle scales →
    // engine-identical double images), THEN the 1e3 scale + floor
    val line = Option.when(den != 0) {
      val slope = math.floor(num.toDouble / den.toDouble * 1000L).toLong
      (slope, LogReg.fdiv(1000L * sy - slope * st, n))
    }
    (st, stt, line)
  }

  /** Huber-weighted IRLS trend of the day-ordered series — the
    * ROBUST companion to [[durbinWatson]]'s OLS line: a quarter with
    * a one-off revenue spike drags least squares; Huber weights
    * (w = 1 inside the threshold, T/|e| outside) bound its leverage.
    * Fixed 2 reweighting iterations from the OLS start (a one-step
    * M-estimator iterated once more), every state exact fixed point:
    *
    *  - iteration 0 = the [[durbinWatson]] OLS slope/intercept
    *    (milli), identical derivation;
    *  - residuals e_t = 1000·y − a − b·t exact BIGINT; threshold
    *    T = floor(2·median(|e|) + 0.5) (the quantile_cont-parity
    *    interpolation — ≈ 1.35σ for a normal core, the Huber knee);
    *  - weights w = 1000 if |e| ≤ T else fdiv(1000·T, |e|) — exact
    *    integer milli-weights;
    *  - weighted normal equations on exact BigInt/HUGEINT moments;
    *    the slope update is SIGN-SPLIT exact integer rounding,
    *    sign·((2000·|num| + |den|) div (2·|den|)) — both engines
    *    compute the identical operation, so no >2^63 value is ever
    *    cast to double.
    *
    * One row out: (n, slope0_milli, slope_milli, intercept_milli,
    * sum_w_milli). Day-count-bounded single-task fold (the
    * [[durbinWatson]] class). On one day the OLS start is undefined
    * and every column but n is NULL, as in the oracle.
    */
  def huberTrend(series: DataFrame, dayCol: String, valCol: String): DataFrame =
    SeriesFold.series(series, dayCol, valCol) { rows =>
      val ys = rows.map(_._2)
      val n = ys.length.toLong
      olsMilli(ys)._3 match {
        case None => Iterator.single(HuberRow(n, None, None, None, None))
        case Some((slope0, inter0)) =>
          // with two or more days, every day whose |e| is at most the
          // median keeps weight 1000 — at least two distinct t — so the
          // weighted den below is never 0
          var slope = slope0
          var inter = inter0
          var sumW = 0L
          for (_ <- 1 to 2) {
            val es = Array.tabulate(ys.length) { i =>
              1000L * ys(i) - inter - slope * (i + 1L)
            }
            val abs = es.map(math.abs).sorted
            val m = abs.length
            val pos = 0.5 * (m - 1)
            val lo = math.floor(pos).toInt
            val med =
              if (lo + 1 < m) abs(lo) + (pos - lo) * (abs(lo + 1) - abs(lo)).toDouble
              else abs(lo).toDouble
            val th = math.floor(2.0 * med + 0.5).toLong
            var sw, swt, swy = BigInt(0)
            var swtt, swty = BigInt(0)
            var i = 0
            sumW = 0L
            while (i < ys.length) {
              val ae = math.abs(es(i))
              val w = if (ae <= th) 1000L else LogReg.fdiv(1000L * th, ae)
              sumW += w
              val ti = i + 1L
              sw += w; swt += BigInt(w) * ti; swy += BigInt(w) * ys(i)
              swtt += BigInt(w) * ti * ti; swty += BigInt(w) * ti * ys(i)
              i += 1
            }
            val num = sw * swty - swt * swy
            val den = sw * swtt - swt * swt
            val sign = if ((num < 0) != (den < 0)) -1L else 1L
            slope = sign *
              ((num.abs * 2000 + den.abs) / (den.abs * 2)).toLong
            inter = math.floor(
              (BigInt(1000L) * swy - BigInt(slope) * swt).toDouble
                / sw.toDouble).toLong
          }
          Iterator.single(HuberRow(n, Some(slope0), Some(slope), Some(inter), Some(sumW)))
      }
    }(Encoders.product[HuberRow]).toDF()

  /** Row shape of [[huberTrend]]. */
  final case class HuberRow(
      n: Long, slope0_milli: Option[Long], slope_milli: Option[Long],
      intercept_milli: Option[Long], sum_w_milli: Option[Long])

  /** Durbin–Watson statistic of the residuals from the OLS line of
    * the day-ordered series against its 1-based day rank: one row
    * (n, slope_milli, intercept_milli, dw_micro).
    *
    * Fixed-point derivation (every step mirrored in the oracle):
    *  - exact BIGINT moments St, Sy, Stt, Sty over t = 1..n;
    *  - slope_milli = floor(num/den · 1e3) with num = n·Sty − St·Sy,
    *    den = n·Stt − St² — BigInt-carried so no Spark-side overflow
    *    at any SF, but |num| stays < 2^63 at oracle scales, where
    *    DuckDB's HUGEINT→DOUBLE cast takes its exact single-word
    *    path (the two-word path double-rounds; BigInt.toDouble does
    *    not — keeping double-cast operands below 2^63 is what makes
    *    the double images engine-identical);
    *  - intercept_milli = fdiv(1e3·Sy − slope_milli·St, n);
    *  - residual e_t = 1e3·y_t − intercept_milli − slope_milli·t —
    *    MILLI, not micro: Σe²·2e6 must stay inside INT128, and the
    *    sf0.1 residuals (~2^48 milli) already push Σe² to ~2^87;
    *    micro residuals overflowed DuckDB's HUGEINT there (observed);
    *  - DW = Σ(e_t − e_{t−1})² / Σe_t², the sums exact BigInt/HUGEINT
    *    (squares exceed 2^63) and the micro-snap as EXACT integer
    *    floor division — (2·1e6·Σd² + Σe²) div (2·Σe²) ≡
    *    floor(1e6·Σd²/Σe² + 0.5) — so no >2^63 value is ever cast to
    *    double on either engine (HUGEINT `//` on positives is floor).
    *
    * Undefined divisions are NULL where the oracle's are: on one day
    * the line (and so dw_micro), on a series the line fits exactly
    * (Σe² = 0) dw_micro alone.
    */
  def durbinWatson(series: DataFrame, dayCol: String, valCol: String): DataFrame =
    SeriesFold.series(series, dayCol, valCol) { rows =>
      val ys = rows.map(_._2)
      val line = olsMilli(ys)._3
      val dwMicro = line.flatMap { case (slopeMilli, interMilli) =>
        var prevE = 0L
        var first = true
        var sumDiff2, sumE2 = BigInt(0)
        var t = 0L
        ys.foreach { y =>
          t += 1
          val e = 1000L * y - interMilli - slopeMilli * t
          if (!first) sumDiff2 += BigInt(e - prevE) * (e - prevE)
          sumE2 += BigInt(e) * e
          prevE = e; first = false
        }
        // floor(1e6·Σd²/Σe² + 0.5) as exact integer floor division —
        // both operands positive, so BigInt `/` (truncation) is floor
        Option.when(sumE2 != 0)(((sumDiff2 * 2000000L + sumE2) / (sumE2 * 2)).toLong)
      }
      Iterator.single(DwRow(ys.length.toLong, line.map(_._1), line.map(_._2), dwMicro))
    }(Encoders.product[DwRow]).toDF()

  /** Row shape of [[durbinWatson]]. */
  final case class DwRow(
      n: Long, slope_milli: Option[Long], intercept_milli: Option[Long],
      dw_micro: Option[Long])

  /** Per-day regression influence diagnostics for the [[durbinWatson]]
    * OLS trend fit: leverage h_t = 1/n + (t−t̄)²/Sxx and Cook's
    * distance D_t = (e²/s²)·h/(2(1−h)²) — WHICH days bent the trend
    * line, the row-grain companion to q267's single serial-correlation
    * number. The fit replays the exact q267 fdiv recurrence; the
    * e²/s² ratio is computed as EXACT integer floor divisions first
    * (e²·1e6 // (Σe²//(n−2))) so no >2^63 value is ever cast to
    * double (the q267 HUGEINT→DOUBLE discipline); h and the final
    * Cook chain are ONE double sequence each, micro-snapped. The
    * influence flag D > 4/n is an exact integer cross-multiplication.
    * Returns (day, xq, e_milli, h_micro, cook_micro, influential); on
    * one day, with no line and Sxx = 0, e_milli and h_micro are NULL,
    * as in the oracle.
    */
  final case class CookRow(
      day: Date, xq: Long, e_milli: Option[Long], h_micro: Option[Long],
      cook_micro: Long, influential: Boolean)

  def cooksDistance(series: DataFrame, dayCol: String, valCol: String): DataFrame =
    SeriesFold.series(series, dayCol, valCol) { rows =>
      val ys = rows.map(_._2)
      val n = ys.length.toLong
      val (st, stt, line) = olsMilli(ys)
      var sumE2 = BigInt(0)
      var t = 0L
      val es = ys.map { y =>
        t += 1
        line.map { case (slopeMilli, interMilli) =>
          val e = 1000L * y - interMilli - slopeMilli * t
          sumE2 += BigInt(e) * e
          e
        }
      }
      val s2q = if (n > 2) sumE2 / BigInt(n - 2) else BigInt(0)
      val nd = n.toDouble
      val tbar = st.toDouble / nd
      val sxx = stt.toDouble - st.toDouble * st.toDouble / nd
      t = 0L
      rows.iterator.zip(es.iterator).map { case ((day, y), e) =>
        t += 1
        val h = Option.when(sxx != 0.0)(
          1.0 / nd + (t.toDouble - tbar) * (t.toDouble - tbar) / sxx)
        val cookMicro = (e, h) match {
          case (Some(e), Some(h)) if s2q != BigInt(0) =>
            val r2q = (BigInt(e) * e * 1000000L) / s2q
            math.floor(r2q.toDouble / 1000000.0 * h
              / (2.0 * (1.0 - h) * (1.0 - h)) * 1000000.0 + 0.5).toLong
          case _ => 0L
        }
        CookRow(day, y, e, h.map(h => math.floor(h * 1000000.0 + 0.5).toLong),
          cookMicro, cookMicro * n > 4000000L)
      }
    }(Encoders.product[CookRow])
      .toDF(dayCol, valCol, "e_milli", "h_micro", "cook_micro",
        "influential")
      .orderBy(col(dayCol))

  /** Lower/upper TAIL-DEPENDENCE estimate between two day-keyed
    * series — the co-crash diagnostic a correlation can't give
    * ([[varEs]] sizes one series' tail; this asks whether two
    * desks' bad days COINCIDE). Rank-based (the empirical-copula
    * estimator): a day is in a series' lower tail iff its
    * (value, day)-rank ≤ k = n DIV 5, upper iff rank > n − k;
    * λ̂_L = P(Y low | X low) = both_low/k, λ̂_U symmetric —
    * exact integer counts with one milli snap each, independence
    * reference = k/n = 1/5. Deterministic: the (value, day)
    * tie-break makes ranks total.
    *
    * One row out: (n, k, both_low, both_high, lambda_low_milli,
    * lambda_high_milli). Day-count-bounded single-task fold over
    * the JOINED calendar (days present in both series). With n < 5
    * (k = 0) the estimator is undefined and both lambdas are NULL —
    * never 0, which would read as "no tail dependence".
    */
  def tailDependence(
      x: DataFrame, y: DataFrame,
      dayCol: String, valCol: String): DataFrame = {
    val spark = x.sparkSession
    import spark.implicits._
    val joined = x.select(col(dayCol).cast("date").as("day"),
        col(valCol).cast("long").as("xv"))
      .join(y.select(col(dayCol).cast("date").as("day"),
        col(valCol).cast("long").as("yv")), "day")
    SeriesFold.gather(joined.as[(Date, Long, Long)])(_._1) { rows =>
      val n = rows.length.toLong
      val k = n / 5
      // rank r ≤ k ⇔ membership in the k smallest under (value, day)
      def lowSet(sel: ((Date, Long, Long)) => Long): Set[Date] =
        rows.sortBy(r => (sel(r), r._1.getTime)).take(k.toInt)
          .map(_._1).toSet
      def highSet(sel: ((Date, Long, Long)) => Long): Set[Date] =
        rows.sortBy(r => (sel(r), r._1.getTime)).takeRight(k.toInt)
          .map(_._1).toSet
      val xl = lowSet(_._2); val yl = lowSet(_._3)
      val xh = highSet(_._2); val yh = highSet(_._3)
      val bothLow = (xl intersect yl).size.toLong
      val bothHigh = (xh intersect yh).size.toLong
      // k == 0 (n < 5): the estimator is UNDEFINED — None, not 0,
      // which would read as "no tail dependence" (the VarEsRow
      // degenerate-frame convention)
      val lamL = if (k > 0) Some(LogReg.fdiv(bothLow * 2000 + k, 2 * k))
        else None
      val lamU = if (k > 0) Some(LogReg.fdiv(bothHigh * 2000 + k, 2 * k))
        else None
      Iterator.single(TailDepRow(n, k, bothLow, bothHigh, lamL, lamU))
    }(Encoders.product[TailDepRow])
      .toDF("n", "k", "both_low", "both_high",
        "lambda_low_milli", "lambda_high_milli")
  }

  /** Row shape of [[grangerLag1]] — f is None on a degenerate frame
    * (singular normal equations or zero unrestricted SSE). */
  final case class GrangerRow(direction: String, n: Long, f_micro: Option[Long])

  /** Lag-1 Granger-causality F statistics between two day-keyed
    * series, BOTH directions — the temporal-precedence companion of
    * [[tailDependence]] (that one asks "do their bad days coincide";
    * this asks "does yesterday's X improve today's Y forecast beyond
    * Y's own history"): F = (SSE_r − SSE_u)·(n−3)/SSE_u comparing
    * yₜ ~ yₜ₋₁ against yₜ ~ yₜ₋₁ + xₜ₋₁, closed-form via centered
    * moments.
    *
    * Exactness: series are DOLLAR-quantized (cents DIV 100) so every
    * raw cross-moment is an exact BIGINT < 2⁵³; centered moments and
    * the F ratio are ONE fixed all-double chain over those exact
    * sums, mirrored operation-for-operation in SQL (the q302
    * convention — intermediate products exceed int64, so BOTH
    * engines run the identical double chain), micro-snapped. Lags
    * are by OBSERVED-day order (calendar gaps lag to the previous
    * observed day — documented, mirrored by the oracle's row_number
    * self-join). Day-count-bounded single-task fold.
    */
  def grangerLag1(
      x: DataFrame, y: DataFrame,
      dayCol: String, valCol: String): DataFrame = {
    val spark = x.sparkSession
    import spark.implicits._
    val joined = x.select(col(dayCol).cast("date").as("day"),
        expr(s"CAST($valCol AS BIGINT) DIV 100").as("xv"))
      .join(y.select(col(dayCol).cast("date").as("day"),
        expr(s"CAST($valCol AS BIGINT) DIV 100").as("yv")), "day")
    SeriesFold.gather(joined.as[(Date, Long, Long)])(_._1) { rows =>
      val n = rows.length - 1      // lagged pairs
      var sa, sb, sc, sd = 0L
      var saa, sbb, scc, sdd, sac, sad, sbc, sbd, scd = 0L
      var t = 1
      while (t < rows.length) {
        val a = rows(t)._3; val b = rows(t)._2        // y_t, x_t
        val c = rows(t - 1)._3; val d = rows(t - 1)._2 // y_{t-1}, x_{t-1}
        sa += a; sb += b; sc += c; sd += d
        saa += a * a; sbb += b * b; scc += c * c; sdd += d * d
        sac += a * c; sad += a * d; sbc += b * c; sbd += b * d
        scd += c * d
        t += 1
      }
      def f(cyy: Double, cy1y: Double, cx1y: Double,
          cy1y1: Double, cy1x1: Double, cx1x1: Double): Option[Long] = {
        val sser = cyy - cy1y * cy1y / cy1y1
        val det = cy1y1 * cx1x1 - cy1x1 * cy1x1
        if (det == 0.0) None
        else {
          val b1 = (cy1y * cx1x1 - cx1y * cy1x1) / det
          val b2 = (cx1y * cy1y1 - cy1y * cy1x1) / det
          val sseu = cyy - b1 * cy1y - b2 * cx1y
          if (sseu <= 0.0) None
          else Some(math.floor(
            (sser - sseu) * (n - 3) / sseu * 1000000.0 + 0.5).toLong)
        }
      }
      if (n < 4) Iterator(GrangerRow("x_to_y", n.toLong, None),
        GrangerRow("y_to_x", n.toLong, None))
      else {
        val nd = n.toDouble
        def cen(sab: Long, s1: Long, s2: Long): Double =
          nd * sab.toDouble - s1.toDouble * s2.toDouble
        val xy = f(cen(saa, sa, sa), cen(sac, sa, sc), cen(sad, sa, sd),
          cen(scc, sc, sc), cen(scd, sc, sd), cen(sdd, sd, sd))
        val yx = f(cen(sbb, sb, sb), cen(sbd, sb, sd), cen(sbc, sb, sc),
          cen(sdd, sd, sd), cen(scd, sc, sd), cen(scc, sc, sc))
        Iterator(GrangerRow("x_to_y", n.toLong, xy),
          GrangerRow("y_to_x", n.toLong, yx))
      }
    }(Encoders.product[GrangerRow])
      .toDF("direction", "n", "f_micro")
      .orderBy(col("direction"))
  }

  /** Hurst exponent by rescaled-range (R/S) analysis of the
    * day-ordered series — the long-memory diagnostic next to
    * [[durbinWatson]] (lag-1) and the ACF family (fixed lags):
    * H > 0.5 = persistent trends, < 0.5 = mean reversion. For each
    * window size m, consecutive non-overlapping blocks of the
    * day-ranked series (trailing partial block dropped) yield
    *   R = max − min of the cumulative deviations from the block
    *   mean (EXACT BIGINTs: means are fdiv, so deviations are
    *   integers), and S = sqrt(Σe²/m) — sqrt is IEEE
    *   exactly-rounded, so the one double chain R/S replays
    *   cross-engine; rs_micro snapped per block, block means are
    *   exact fdiv over the snapped integers.
    * H = the OLS slope of ln(mean R/S) on ln(m) over the window
    * sizes, computed from the 4 snapped means (one bounded double
    * chain, milli-snapped). Constant blocks (S = 0) drop on both
    * sides. Returns one row per m: (m, n_blocks, mean_rs_micro,
    * hurst_milli) with the shared slope on every row.
    */
  def hurstRs(
      series: DataFrame, dayCol: String, valCol: String,
      sizes: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 2), "window sizes >= 2")
    SeriesFold.series(series, dayCol, valCol) { rows =>
      val ys = rows.map(_._2)
      val perM = sizes.flatMap { m =>
        val nb = ys.length / m
        val rss = (0 until nb).flatMap { b =>
          val blk = ys.slice(b * m, (b + 1) * m)
          val mean = LogReg.fdiv(blk.sum, m)
          val e = blk.map(_ - mean)
          var cum = 0L; var mx = Long.MinValue; var mn = Long.MaxValue
          e.foreach { d => cum += d; if (cum > mx) mx = cum; if (cum < mn) mn = cum }
          val r = math.max(mx, 0L) - math.min(mn, 0L)
          val se2 = e.map(d => d * d).sum
          if (se2 == 0L) None
          else {
            val s = math.sqrt(se2.toDouble / m)
            Some(math.floor(r / s * 1000000.0 + 0.5).toLong)
          }
        }
        if (rss.isEmpty) None
        else Some((m.toLong, rss.length.toLong,
          LogReg.fdiv(rss.sum, rss.length)))
      }
      // OLS slope of ln(meanRs/1e6) on ln(m) over the window sizes
      val pts = perM.map { case (m, _, mu) =>
        (math.log(m.toDouble), math.log(mu.toDouble / 1000000.0))
      }
      val np = pts.length
      val hurstMilli =
        if (np < 2) 0L
        else {
          val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
          val sxx = pts.map(p => p._1 * p._1).sum
          val sxy = pts.map(p => p._1 * p._2).sum
          math.floor((np * sxy - sx * sy) / (np * sxx - sx * sx)
            * 1000.0 + 0.5).toLong
        }
      perM.iterator.map { case (m, nb, mu) => (m, nb, mu, hurstMilli) }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong))
      .toDF("m", "n_blocks", "mean_rs_micro", "hurst_milli")
      .orderBy(col("m"))
  }
}
