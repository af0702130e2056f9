package graft.operators

import java.sql.Date

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}

/** Financial-risk primitives (operators.Risk): hand-computed drawdown
  * trajectory, VaR/ES tail semantics on a known delta set, the DW ≈ 2
  * behaviour on an alternating residual pattern, and layout
  * invariance for all three (day order must come from the data, not
  * partition order).
  */
class RiskSpec extends SparkSpec {

  private def d(day: Int): Date = Date.valueOf(f"2024-07-$day%02d")

  test("drawdown: hand-computed cum/peak/dd trajectory") {
    import spark.implicits._
    val df = Seq((d(1), 10L), (d(2), -4L), (d(3), 7L), (d(4), -20L), (d(5), 2L))
      .toDF("day", "xq")
    val out = Risk.drawdown(df, "day", "xq")
      .select($"cum", $"peak", $"dd")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (10L, 10L, 0L),
      (6L, 10L, 4L),
      (13L, 13L, 0L),
      (-7L, 13L, 20L),
      (-5L, 13L, 18L)), s"got $out")
  }

  test("varEs: interpolated quantile and tail mean on known deltas") {
    import spark.implicits._
    // series 0,10,30,60,20,25 → deltas 10,20,30,-40,5 → sorted
    // -40,5,10,20,30; p=0.25 → pos=1.0 → VaR = 5 exactly; tail
    // {-40,5} → ES mean = -17.5 → -17500000 micro
    val xs = Seq(0L, 10L, 30L, 60L, 20L, 25L)
    val df = xs.zipWithIndex.map { case (v, i) => (d(i + 1), v) }
      .toDF("day", "xq")
    val out = Risk.varEs(df, "day", "xq", 0.25)
      .select($"n_days", $"var_p", $"es_micro", $"n_tail")
      .as[(Long, Double, Long, Long)].head()
    assert(out == ((6L, 5.0, -17500000L, 2L)), s"got $out")
  }

  test("varEs: single-day series NULL-propagates instead of indexing " +
    "deltas(-1)") {
    import spark.implicits._
    val df = Seq((d(1), 42L)).toDF("day", "xq")
    val out = Risk.varEs(df, "day", "xq", 0.25)
      .select($"n_days", $"var_p", $"es_micro", $"n_tail")
      .as[(Long, Option[Double], Option[Long], Long)].head()
    assert(out == ((1L, None, None, 0L)), s"got $out")
  }

  test("xmrChart: single-day series yields one unflagged row " +
    "(no moving range to index)") {
    import spark.implicits._
    val df = Seq((d(1), 42L)).toDF("day", "xq")
    val out = Risk.xmrChart(df, "day", "xq")
      .select($"xq", $"mr", $"flag_x", $"flag_mr")
      .as[(Long, Option[Long], Boolean, Boolean)].collect().toSeq
    assert(out == Seq((42L, None, false, false)), s"got $out")
  }

  test("tailDependence: comonotone desks hit lambda = 1, " +
    "antimonotone lambda = 0") {
    import spark.implicits._
    val days = (1 to 20).map(i => Date.valueOf(f"2024-07-$i%02d"))
    val x = days.zipWithIndex.map { case (dd, i) => (dd, (i + 1) * 100L) }
      .toDF("day", "xq")
    val ySame = x
    val yOpp = days.zipWithIndex.map { case (dd, i) => (dd, (20 - i) * 100L) }
      .toDF("day", "xq")
    val co = Risk.tailDependence(x, ySame, "day", "xq")
      .select($"n", $"k", $"both_low", $"lambda_low_milli")
      .as[(Long, Long, Long, Long)].head()
    assert(co === ((20L, 4L, 4L, 1000L)), s"got $co")
    val anti = Risk.tailDependence(x, yOpp, "day", "xq")
      .select($"both_low", $"both_high", $"lambda_low_milli")
      .as[(Long, Long, Long)].head()
    assert(anti === ((0L, 0L, 0L)), s"got $anti")
  }

  test("tailDependence: n < 5 gives k = 0 and NULL lambdas (undefined, " +
    "not 'no tail dependence') — the VarEsRow degenerate convention") {
    import spark.implicits._
    val days = (1 to 4).map(i => Date.valueOf(f"2024-07-$i%02d"))
    val x = days.zipWithIndex.map { case (dd, i) => (dd, (i + 1) * 100L) }
      .toDF("day", "xq")
    val out = Risk.tailDependence(x, x, "day", "xq")
      .select($"n", $"k", $"lambda_low_milli", $"lambda_high_milli")
      .as[(Long, Long, Option[Long], Option[Long])].head()
    assert(out === ((4L, 0L, None, None)), s"got $out")
  }

  test("hurstRs: constant series yields no blocks (S = 0 guard); " +
    "block counts follow the calendar") {
    import spark.implicits._
    def series(n: Int, f: Int => Long) = (1 to n)
      .map(i => (Date.valueOf(f"2024-${(i - 1) / 28 + 1}%02d-${(i - 1) % 28 + 1}%02d"), f(i)))
      .toDF("day", "xq")
    assert(Risk.hurstRs(series(40, _ => 500L), "day", "xq",
      sizes = Seq(8, 16)).count() === 0L)
    val rnd = new scala.util.Random(5)
    val out = Risk.hurstRs(series(40, _ => 100L + rnd.nextInt(50)),
        "day", "xq", sizes = Seq(8, 16))
      .select($"m", $"n_blocks").as[(Long, Long)].collect().toMap
    assert(out === Map(8L -> 5L, 16L -> 2L), s"got $out")
  }

  test("durbinWatson: perfect line has zero residuals guarded; " +
    "alternating residuals push DW toward 4") {
    import spark.implicits._
    // y = 100·t + alternating ±1: slope_milli ≈ 100000, residuals
    // alternate sign, so Σ(Δe)² ≈ 4·Σe² → dw_micro near 4e6.
    // Days span two months so all 40 are distinct (deterministic order).
    val df2 = (1 to 40)
      .map(i => (Date.valueOf(f"2024-${i / 28 + 1}%02d-${i % 28 + 1}%02d"),
        100L * i + (if (i % 2 == 0) 1L else -1L)))
      .toDF("day", "xq")
    val out = Risk.durbinWatson(df2, "day", "xq")
      .select($"n", $"dw_micro").as[(Long, Long)].head()
    assert(out._1 == 40L)
    assert(out._2 > 3500000L && out._2 <= 4100000L, s"got $out")
  }

  test("durbinWatson / huberTrend on an exact line: NULL DW, Huber defined, as in the oracle") {
    import spark.implicits._
    // xq = 500 + 100·t: every OLS residual is 0, so Σe² = 0 and the
    // q267 SQL's integer division yields NULL in DuckDB; q287 gives
    // these values (both SQL texts run in DuckDB on this series)
    val line = (1 to 10).map(t => (d(t), 500L + 100L * t)).toDF("day", "xq")
    assert(Risk.durbinWatson(line, "day", "xq").collect().toSeq ===
      Seq(Row(10L, 100000L, 500000L, null)))
    assert(Risk.huberTrend(line, "day", "xq").collect().toSeq ===
      Seq(Row(10L, 100000L, 100000L, 500000L, 10000L)))
  }

  test("xmrChart: hand-computed centre, limits, and flags") {
    import spark.implicits._
    // x̄ = fdiv(701,5) = 140; MRs 2,4,3,199 → MR̄ = fdiv(208,4) = 52.
    // X limit: |1000(x−140)| > 2660·52 = 138320 → only the 300 spike.
    // MR limit: 1000·mr > 3267·52 = 169884 → only the 199 jump.
    val df = Seq((d(1), 100L), (d(2), 102L), (d(3), 98L), (d(4), 101L),
      (d(5), 300L)).toDF("day", "xq")
    val out = Risk.xmrChart(df, "day", "xq")
      .select($"xq", $"mr", $"flag_x", $"flag_mr")
      .as[(Long, Option[Long], Boolean, Boolean)].collect().toSeq
    assert(out == Seq(
      (100L, None, false, false),
      (102L, Some(2L), false, false),
      (98L, Some(4L), false, false),
      (101L, Some(3L), false, false),
      (300L, Some(199L), true, true)), s"got $out")
  }

  test("huberTrend: an end-of-series spike drags OLS more than Huber") {
    import spark.implicits._
    val df = (1 to 20).map { i =>
      val spike = if (i == 20) 5000L else 0L
      (Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)),
        100L * i + spike)
    }.toDF("day", "xq")
    val r = Risk.huberTrend(df, "day", "xq").head()
    val (ols, rob) =
      (r.getAs[Long]("slope0_milli"), r.getAs[Long]("slope_milli"))
    assert(ols > 100000L, s"spiked OLS slope must exceed 100: $r")
    assert(math.abs(rob - 100000L) < math.abs(ols - 100000L),
      s"Huber must sit closer to the clean slope: $r")
    assert(r.getAs[Long]("sum_w_milli") < 20L * 1000L,
      s"the spike row must be down-weighted: $r")
  }

  test("all three are layout invariant") {
    import spark.implicits._
    val df = (1 to 25).map(i => (d(i), 50L + (i * 2654435761L) % 400L))
      .toDF("day", "xq")
    def dd(x: DataFrame) = Risk.drawdown(x, "day", "xq")
      .as[(Date, Long, Long, Long, Long)].collect().toSeq
    def ve(x: DataFrame) = Risk.varEs(x, "day", "xq", 0.05)
      .as[(Long, Double, Long, Long)].collect().toSeq
    def dw(x: DataFrame) = Risk.durbinWatson(x, "day", "xq")
      .as[(Long, Long, Long, Long)].collect().toSeq
    def xm(x: DataFrame) = Risk.xmrChart(x, "day", "xq")
      .as[(Date, Long, Option[Long], Boolean, Boolean)].collect().toSeq
    def hb(x: DataFrame) = Risk.huberTrend(x, "day", "xq")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(dd(df.repartition(1)) == dd(df.repartition(6)))
    assert(ve(df.repartition(1)) == ve(df.repartition(6)))
    assert(dw(df.repartition(1)) == dw(df.repartition(6)))
    assert(xm(df.repartition(1)) == xm(df.repartition(6)))
    assert(hb(df.repartition(1)) == hb(df.repartition(6)))
  }
}
