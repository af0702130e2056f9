package graft.operators

import java.sql.Date

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The shared single-task gather (SeriesFold.series / gather) under
  * every day-keyed series operator: an empty series forms no group and
  * yields no rows with the declared columns, a single day folds, and
  * day order — not input or partition order — decides every row.
  */
class SeriesFoldSpec extends SparkSpec {

  /** (name, declared columns, rows from one day, operator). */
  private val ops: Seq[(String, Seq[String], Int, DataFrame => DataFrame)] = Seq(
    ("Risk.drawdown", Seq("day", "xq", "cum", "peak", "dd"), 1,
      Risk.drawdown(_, "day", "xq")),
    ("Risk.varEs", Seq("n_days", "var_p", "es_micro", "n_tail"), 1,
      Risk.varEs(_, "day", "xq", 0.05)),
    ("Risk.xmrChart", Seq("day", "xq", "mr", "flag_x", "flag_mr"), 1,
      Risk.xmrChart(_, "day", "xq")),
    ("Risk.huberTrend",
      Seq("n", "slope0_milli", "slope_milli", "intercept_milli", "sum_w_milli"), 1,
      Risk.huberTrend(_, "day", "xq")),
    ("Risk.durbinWatson", Seq("n", "slope_milli", "intercept_milli", "dw_micro"), 1,
      Risk.durbinWatson(_, "day", "xq")),
    ("Risk.cooksDistance",
      Seq("day", "xq", "e_milli", "h_micro", "cook_micro", "influential"), 1,
      Risk.cooksDistance(_, "day", "xq")),
    ("Risk.hurstRs", Seq("m", "n_blocks", "mean_rs_micro", "hurst_milli"), 0,
      Risk.hurstRs(_, "day", "xq")),
    ("Risk.tailDependence",
      Seq("n", "k", "both_low", "both_high", "lambda_low_milli", "lambda_high_milli"), 1,
      df => Risk.tailDependence(df, mirrored(df), "day", "xq")),
    ("Risk.grangerLag1", Seq("direction", "n", "f_micro"), 2,
      df => Risk.grangerLag1(df, mirrored(df), "day", "xq")),
    ("Holt.smooth", Seq("day", "xq", "level", "trend", "forecast"), 1,
      Holt.smooth(_, "day", "xq", 4L, 8L)),
    ("Holt.holtWinters", Seq("day", "xq", "level", "trend", "s_used", "fitted"), 0,
      Holt.holtWinters(_, "day", "xq", 4L, 8L, 4L)),
    ("Kalman.localLevel", Seq("day", "xq", "level", "resid", "k_micro"), 1,
      Kalman.localLevel(_, "day", "xq")),
    ("Cusum.detect", Seq("day", "xq", "su", "sl", "alarm"), 1,
      Cusum.detect(_, "day", "xq")),
    ("Seasonal.decompose",
      Seq("day", "xq", "weekday", "trend_q", "seasonal_q", "resid_q"), 1,
      Seasonal.decompose(_, "day", "xq")))

  /** The second series of a two-series operator: same days, values
    * reflected and shifted (so its ranks and lags differ from x's). */
  private def mirrored(df: DataFrame): DataFrame =
    df.select(col("day"), (lit(700000L) - col("xq") * 3 + col("xq") % 7).as("xq"))

  /** 70 consecutive days (hurstRs' largest window is 64) of hash-mixed
    * cents with a drift, some negative. */
  private val days: Seq[(Date, Long)] = (0 until 70).map { t =>
    (Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(t)),
      (t * 2654435761L) % 90000L - 20000L + 300L * t)
  }

  private def frame(rows: Seq[(Date, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("day", "xq")
  }

  test("an empty series yields no rows, with the declared columns") {
    val empty = frame(Nil)
    ops.foreach { case (name, declared, _, op) =>
      val out = op(empty)
      assert(out.columns.toSeq === declared, name)
      assert(out.collect().isEmpty, name)
    }
  }

  test("a single day folds to its one-day result") {
    val one = frame(days.take(1))
    ops.foreach { case (name, _, rows, op) =>
      assert(op(one).collect().length === rows, name)
    }
    // no OLS line through one day: NULL wherever the oracle SQL's
    // division by zero is NULL (the q267/q287/q340 SQL run in DuckDB)
    val (day, xq) = days.head
    assert(Risk.huberTrend(one, "day", "xq").collect().toSeq ===
      Seq(Row(1L, null, null, null, null)))
    assert(Risk.durbinWatson(one, "day", "xq").collect().toSeq ===
      Seq(Row(1L, null, null, null)))
    assert(Risk.cooksDistance(one, "day", "xq").collect().toSeq ===
      Seq(Row(day, xq, null, null, 0L, false)))
  }

  test("days spread over several partitions in reverse order fold as the sorted series") {
    val sorted = frame(days).coalesce(1)
    val shuffled = frame(days.reverse).repartition(5)
    assert(shuffled.rdd.getNumPartitions > 1)
    ops.foreach { case (name, _, _, op) =>
      val expected = op(sorted).collect().toSeq
      assert(expected.nonEmpty, name)
      assert(op(shuffled).collect().toSeq === expected, name)
    }
  }
}
