package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Classical additive seasonal decomposition of a daily series —
  * x = trend + seasonal + residual with a centered 7-day moving
  * average trend and per-ISO-weekday seasonal means: the
  * "is this drop a trend break or just a weekend" read-out behind
  * every ingest-volume dashboard.
  *
  * Exactness: all in integer fixed point —
  *   trend_t = fdiv(Σ_{k=−3..3} x_{t+k}, 7)  (full windows only;
  *     the 3 edge rows each side carry NULL),
  *   seasonal_w = fdiv(Σ detrended, count) over weekday w,
  *   resid = x − trend − seasonal
  * — [[LogReg.fdiv]] floors identically in both engines, so every
  * row replays in the oracle with no tolerance. Weekdays are ISO
  * (1 = Monday … 7 = Sunday: JVM `getDayOfWeek` ≡ DuckDB `isodow`).
  *
  * Scale shape: the [[SeriesFold.series]] single-task gather of the
  * day-count-bounded series.
  */
object Seasonal {

  /** (day, xq, weekday, trend_q, seasonal_q, resid_q) per day,
    * ordered; trend/resid are NULL on the 3 edge rows each side.
    */
  def decompose(series: DataFrame, dayCol: String, valCol: String): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    SeriesFold.series(series, dayCol, valCol) { rows =>
      val n = rows.length
      val x = rows.map(_._2)
      val wd = rows.map(_._1.toLocalDate.getDayOfWeek.getValue.toLong)
      val trend = Array.tabulate(n) { t =>
        if (t >= 3 && t < n - 3) {
          var s = 0L
          var k = -3
          while (k <= 3) { s += x(t + k); k += 1 }
          Some(LogReg.fdiv(s, 7L))
        } else None
      }
      val sumCnt = new scala.collection.mutable.HashMap[Long, (Long, Long)]()
      trend.indices.foreach { t =>
        trend(t).foreach { tr =>
          val (s, c) = sumCnt.getOrElse(wd(t), (0L, 0L))
          sumCnt(wd(t)) = (s + (x(t) - tr), c + 1L)
        }
      }
      val seasonal = sumCnt.map { case (w, (s, c)) => w -> LogReg.fdiv(s, c) }
      rows.indices.iterator.map { t =>
        val sw = seasonal.get(wd(t))
        (rows(t)._1, x(t), wd(t), trend(t),
          sw, for { tr <- trend(t); s <- sw } yield x(t) - tr - s)
      }
    }
      .toDF(dayCol, valCol, "weekday", "trend_q", "seasonal_q", "resid_q")
      .orderBy(col(dayCol))
  }
}
