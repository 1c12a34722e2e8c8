package graft.series

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The frame-chain form of PSI and exact KS over a [[Drift.sideCensus]]:
  * a weighted `percentile` edges aggregate, a join, a when-chain bin, a bin
  * aggregate, a totals window and the PSI aggregate; the KS CDFs as two
  * windows and an aggregate. It is the parity reference for the one sorted
  * kernel ([[Drift.scoreCensus]]) behind [[Drift.psi]], [[Drift.ks]] and
  * DistributionDrift, which must match it as a multiset
  * (DriftCensusDifferentialSpec).
  */
object DriftReference {

  def psi(df: DataFrame, valueCol: String, sideCol: String,
      keyCols: Seq[String], bins: Int = 10, eps: Double = 1e-4): DataFrame =
    psiFromCensus(Drift.sideCensus(df, valueCol, sideCol, keyCols), keyCols,
      bins, eps)

  def ks(df: DataFrame, valueCol: String, sideCol: String,
      keyCols: Seq[String]): DataFrame =
    ksFromCensus(Drift.sideCensus(df, valueCol, sideCol, keyCols), keyCols)

  /** PSI over a pre-built [[Drift.sideCensus]]. */
  def psiFromCensus(census: DataFrame, keyCols: Seq[String],
      bins: Int = 10, eps: Double = 1e-4): DataFrame = {
    val key = keyCols.map(col)
    val qs = (1 until bins).map(i => i.toDouble / bins)
    // exact WEIGHTED percentile over the census ≡ percentile over the raw
    // baseline rows (the Percentile aggregate accumulates a value→count
    // map internally either way; integer frequencies keep it exact).
    // Column API, not SQL text: a non-identifier column name must stay a
    // column reference rather than re-parse as an expression
    val edges = census.where(col("__cb") > 0).groupBy(key: _*).agg(
      percentile(col("__ksv"), array(qs.map(lit): _*), col("__cb")).as("edges"))
    // bin = #edges strictly below the value. The `size(filter(edges, e =>
    // v > e))` form is a HigherOrderFunction — interpreted per row per
    // edge; `bins` is statically known here, so the identical count is a
    // codegen'd when-chain over element_at (null parity: null edges →
    // null bin, as size(filter(null)) was; null value → every term 0 →
    // bin 0, as the all-dropped filter was).
    val binOf = when(col("edges").isNotNull,
      (1 until bins).map(i =>
        when(col("__ksv") > element_at(col("edges"), i), 1).otherwise(0))
        .reduce(_ + _))
    val counts = census.join(edges, keyCols)
      .withColumn("bin", binOf)
      .groupBy((key :+ col("bin")): _*).agg(
        sum(col("__cb")).as("n_base"),
        sum(col("__cc")).as("n_cur"))
    // empty sides (e.g. a single-bucket conversation) yield null PSI, not
    // a divide-by-zero under ANSI mode — callers treat null as "no signal"
    val wKey = Window.partitionBy(key: _*)
    val tBase = sum("n_base").over(wKey)
    val tCur = sum("n_cur").over(wKey)
    counts
      .withColumn("p", when(tBase > 0, greatest(col("n_base") / tBase, lit(eps))))
      .withColumn("q", when(tCur > 0, greatest(col("n_cur") / tCur, lit(eps))))
      .groupBy(key: _*)
      .agg(sum((col("p") - col("q")) * log(col("p") / col("q"))).as("psi"),
        // current-side row count, piggybacked so verdict "rows" never
        // needs a second scan (callers select what they use)
        sum(col("n_cur")).cast("long").as("n_cur"))
  }

  /** KS over a pre-built [[Drift.sideCensus]]. */
  def ksFromCensus(census: DataFrame, keyCols: Seq[String]): DataFrame = {
    val key = keyCols.map(col)
    // The CDF gap only changes at DISTINCT values, so the side counts are
    // reduced per (key, value) FIRST (map-side-combined hash agg) and the
    // window sort runs over the distinct-value census, not the raw rows —
    // for the global (keyless) tier this shrinks the single-partition
    // window from n rows to the distinct-value count (guide §2.3
    // "aggregate before you shuffle"; the previous form sorted every raw
    // row in one partition). The RANGE-frame tie handling is now implicit:
    // rows are unique per (key, value), so the cumulative sums ARE the
    // tie-correct CDFs evaluated at each distinct value — identical D.
    val counts = census
    val wKey = Window.partitionBy(key: _*)
    val wOrd = Window.partitionBy(key: _*).orderBy(col("__ksv"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nBase = sum(col("__cb")).over(wKey)
    val nCur = sum(col("__cc")).over(wKey)
    counts
      .withColumn("cdf_base", when(nBase > 0, sum(col("__cb")).over(wOrd) / nBase))
      .withColumn("cdf_cur", when(nCur > 0, sum(col("__cc")).over(wOrd) / nCur))
      .withColumn("d", abs(col("cdf_base") - col("cdf_cur")))
      .groupBy(key: _*)
      .agg(max(col("d")).as("ks"))
  }
}
