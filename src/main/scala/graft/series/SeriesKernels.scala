package graft.series

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._

/** Per-series decomposition over grouped, sorted conversations.
  *
  * The reference builds a pandas Series per (monitor point, feature) and
  * runs STL on it in a driver loop (src/main_analysis.py:223-245). Here the
  * series key is the grouping key of a `flatMapSortedGroups` — one shuffle
  * by key, series arrive sorted, the Scala kernel runs inside executors,
  * parallelism = #conversations. Mega-conversations can't blow memory: a
  * series is buckets-per-conversation, not turns.
  */
object SeriesKernels {

  /** STL-decompose each series: input columns (key, idx, y) → output rows
    * (key, idx, y, trend, seasonal, resid). Series shorter than 2*period
    * pass through with null components (reference skips them,
    * src/main_analysis.py:236).
    */
  def stl(df: DataFrame, keyCol: String, idxCol: String, valueCol: String,
      period: Int, seasonal: Int = 7, robust: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val in = df.select(
      col(keyCol).cast("string").as("key"),
      col(idxCol).cast("int").as("idx"),
      col(valueCol).cast("double").as("y"))
      .as[(String, Int, Double)]
    val out = in.groupBy(col("key")).as[String, (String, Int, Double)]
      .flatMapSortedGroups(col("idx")) { (key, rows) =>
        val buf = rows.toArray
        val y = buf.map(_._3)
        if (y.length >= 2 * period) {
          val r = Stl.decompose(y, period, seasonal, robust = robust)
          buf.indices.iterator.map { i =>
            (key, buf(i)._2, y(i), Option(r.trend(i)), Option(r.seasonal(i)),
              Option(r.resid(i)))
          }
        } else {
          buf.indices.iterator.map { i =>
            (key, buf(i)._2, y(i), Option.empty[Double], Option.empty[Double],
              Option.empty[Double])
          }
        }
      }
    out.toDF(keyCol, idxCol, valueCol, "trend", "seasonal", "resid")
      .withColumn("fitted", col("trend") + col("seasonal"))
  }

  /** T7: decomposition-based forecast (reference src/decomposition.py:313-362):
    * linear trend extrapolated from the last two trend points + seasonal
    * pattern cycled from the last full period. Input: output of [[stl]] or
    * Decomposition.additive. Output: (key, step 1..periods, forecast).
    */
  def forecast(decomposed: DataFrame, keyCol: String, idxCol: String,
      period: Int, periods: Int = 30): DataFrame = {
    val spark = decomposed.sparkSession
    import spark.implicits._
    val in = decomposed.select(
      col(keyCol).cast("string").as("key"), col(idxCol).cast("int"),
      col("trend"), col("seasonal"))
      .as[(String, Int, Option[Double], Option[Double])]
    in.groupBy(col("key"))
      .as[String, (String, Int, Option[Double], Option[Double])]
      .flatMapSortedGroups(col(idxCol)) { (key, rows) =>
        val buf = rows.toArray
        val trendVals = buf.flatMap(_._3)
        val seasVals = buf.flatMap(_._4)
        if (trendVals.length >= 2 && seasVals.length >= period) {
          val slope = trendVals(trendVals.length - 1) - trendVals(trendVals.length - 2)
          val lastTrend = trendVals.last
          val lastSeason = seasVals.takeRight(period)
          (1 to periods).iterator.map { h =>
            (key, h, lastTrend + slope * h + lastSeason((h - 1) % period))
          }
        } else Iterator.empty
      }
      .toDF(keyCol, "step", "forecast")
  }
}
