package graft.series

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classical seasonal decomposition (statsmodels `seasonal_decompose`
  * parity; reference src/decomposition.py:75-109) expressed entirely in
  * DataFrame window ops so it scales to any number of series with exactly
  * ONE shuffle (everything is windowed over the same series key).
  *
  *  - trend: centered moving average of `period` points (even periods use
  *    the standard half-weighted 2xMA filter), null where incomplete;
  *  - seasonal: per-phase nanmean of detrended, centered (additive: minus
  *    grand mean of the phase means; multiplicative: divided by it);
  *  - resid: y - trend - seasonal (or y / (trend * seasonal)).
  *
  * Output adds columns: idx, trend, seasonal, resid, fitted.
  */
object Decomposition {

  def additive(df: DataFrame, valueCol: String, period: Int,
      keyCols: Seq[String], orderCols: Seq[String]): DataFrame =
    classical(df, valueCol, period, keyCols, orderCols, multiplicative = false)

  def multiplicative(df: DataFrame, valueCol: String, period: Int,
      keyCols: Seq[String], orderCols: Seq[String]): DataFrame =
    classical(df, valueCol, period, keyCols, orderCols, multiplicative = true)

  private def classical(df: DataFrame, valueCol: String, period: Int,
      keyCols: Seq[String], orderCols: Seq[String],
      multiplicative: Boolean): DataFrame = {
    require(period >= 2, "period must be >= 2")
    val key = keyCols.map(col)
    val ord = Window.partitionBy(key: _*).orderBy(orderCols.map(col): _*)
    val y = col(valueCol)

    // positional index within the series (statsmodels phases are positional)
    val withIdx = df.withColumn("idx", row_number().over(ord) - 1)

    // trend: centered MA; even period = 2xMA == half-weights on the ends
    val trend: Column = if (period % 2 == 1) {
      val h = (period - 1) / 2
      val w = ord.rowsBetween(-h, h)
      when(count(y).over(w) === period, avg(y).over(w))
    } else {
      val h = period / 2
      val w = ord.rowsBetween(-h, h)
      val full = count(y).over(w) === (period + 1)
      val s = sum(y).over(w)
      val endL = first(y).over(w)   // y[i-h] within the frame
      val endR = last(y).over(w)    // y[i+h]
      when(full, (s - (endL + endR) * 0.5) / period)
    }
    val withTrend = withIdx.withColumn("trend", trend)

    // multiplicative division guards: statsmodels REFUSES non-positive
    // series for multiplicative decomposition; this engine degrades the
    // affected rows to null components instead (a zero trend/seasonal
    // would otherwise ANSI-crash the job). when() with no otherwise =
    // SQL NULLIF: null where the divisor is 0, the division never runs.
    val detrended = if (multiplicative) y / when(col("trend") =!= 0, col("trend"))
      else y - col("trend")
    val withDet = withTrend
      .withColumn("phase", pmod(col("idx"), lit(period)))
      .withColumn("detrended", detrended)

    // per-phase nanmean via range-peer window (same shuffle key);
    // grand mean over the `period` phase means, unweighted
    val wPhase = Window.partitionBy(key: _*).orderBy(col("phase"))
      .rangeBetween(0, 0)
    val wKey = Window.partitionBy(key: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wPhaseOrd = Window.partitionBy(key: _*).orderBy(col("phase"), col("idx"))
    val withPhaseMean = withDet
      .withColumn("phase_mean", avg(col("detrended")).over(wPhase))
      .withColumn("first_of_phase",
        coalesce(col("phase") =!= lag(col("phase"), 1).over(wPhaseOrd), lit(true)))
    // count only phases with a DEFINED mean: a phase whose every detrended
    // value is null (short series, trend-null head/tail covering it) must
    // not deflate the grand mean — this is avg-ignoring-nulls, exactly the
    // SQL twin's `avg(pmean)` semantics
    val grand = sum(when(col("first_of_phase"), col("phase_mean"))).over(wKey) /
      sum(when(col("first_of_phase") && col("phase_mean").isNotNull, 1)).over(wKey)

    val seasonal = if (multiplicative)
      col("phase_mean") / when(grand =!= 0, grand)
      else col("phase_mean") - grand
    val withSeasonal = withPhaseMean.withColumn("seasonal", seasonal)

    val fit = col("trend") * col("seasonal")
    val resid = if (multiplicative) y / when(fit =!= 0, fit)
      else y - col("trend") - col("seasonal")
    val fitted = if (multiplicative) fit
      else col("trend") + col("seasonal")

    withSeasonal
      .withColumn("resid", resid)
      .withColumn("fitted", fitted)
      .drop("phase", "detrended", "phase_mean", "first_of_phase")
  }

  /** T4: trend/seasonal strength per series, statsmodels-on-pandas parity:
    * var is POPULATION (np.var, reference src/decomposition.py:197-204),
    * nulls dropped, clamp [0,1], strength=1 when var(resid)==0.
    * Input: output of [[additive]]/[[multiplicative]]/Stl. One groupBy pass.
    */
  def strengths(decomposed: DataFrame, keyCols: Seq[String]): DataFrame = {
    val key = keyCols.map(col)
    decomposed.groupBy(key: _*).agg(
      var_pop(col("trend")).as("var_trend"),
      var_pop(col("seasonal")).as("var_seasonal"),
      var_pop(col("resid")).as("var_resid"),
      count(col("resid")).as("n_resid"))
      .withColumn("trend_strength",
        when(col("var_resid") === 0.0, 1.0).otherwise(
          least(lit(1.0), greatest(lit(0.0),
            col("var_trend") / (col("var_trend") + col("var_resid"))))))
      .withColumn("seasonal_strength",
        when(col("var_resid") === 0.0, 1.0).otherwise(
          least(lit(1.0), greatest(lit(0.0),
            col("var_seasonal") / (col("var_seasonal") + col("var_resid"))))))
      .drop("var_trend", "var_seasonal")
  }
}
