package graft.compile

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dsl.{Check, TurnRateDrift}
import graft.series.{Decomposition, Drift, SeriesKernels}

/** The frame-chain form of turn-rate drift: each statistic as its own
  * DataFrame pass (bucket groupBy + row_number window, STL groupByKey,
  * percentile groupBy + join for the fences, the PSI/KS census chain,
  * count groupBys and verdict joins). It is the parity reference for
  * [[Validator.turnRateDrift]]'s single grouped kernel, which must match it
  * as a multiset (TurnRateDriftDifferentialSpec).
  */
object TurnRateDriftReference {

  def turnRateDrift(df: DataFrame, check: Check, c: TurnRateDrift)
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    val key = check.keyCol
    val series = df
      .groupBy(col(key), window(col(check.tsCol), c.bucket).as("w"))
      .agg(count(lit(1)).as("n_turns"))
      .select(col(key), col("w.start").as("bucket_ts"), col("n_turns"))
      .withColumn("idx",
        (row_number().over(Window.partitionBy(col(key)).orderBy(col("bucket_ts"))) - 1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val decomposed = c.method match {
      case "stl" =>
        SeriesKernels.stl(series.withColumn("n_turns", col("n_turns").cast("double")),
          key, "idx", "n_turns", c.period, c.seasonal)
      case "classical" =>
        Decomposition.additive(series.withColumn("n_turns", col("n_turns").cast("double")),
          "n_turns", c.period, Seq(key), Seq("idx"))
      case other => throw new IllegalArgumentException(s"unknown method $other")
    }

    val anomalies = residualAnomalies(
      decomposed, Seq(key), c.residMethod, c.residThreshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val violations = anomalies.select(
      lit(c.name).as("constraint"),
      col(key).cast("string").as("conv_id"),
      col("idx").cast("int").as("turn_idx"),
      lit("n_turns").as("column"),
      col("resid").cast("string").as("observed"),
      lit(s"${c.residMethod}@${c.residThreshold}").as("bound"),
      lit(c.severity).as("severity"))

    // PSI/KS: first vs second half of each conversation's buckets
    val wKey = Window.partitionBy(col(key))
    val sided = series
      .withColumn("__max_idx", max(col("idx")).over(wKey))
      .withColumn("side", when(col("idx") * 2 <= col("__max_idx"), "baseline")
        .otherwise("current"))
    val psiDf = Drift.psi(sided, "n_turns", "side", Seq(key))
    val ksDf = Drift.ks(sided, "n_turns", "side", Seq(key))
    val residCounts = anomalies.groupBy(col(key))
      .agg(count(lit(1)).as("resid_anomalies"))
    val bucketCounts = series.groupBy(col(key)).agg(count(lit(1)).as("rows"))

    val verdicts = bucketCounts
      .join(psiDf, Seq(key), "left")
      .join(ksDf, Seq(key), "left")
      .join(residCounts, Seq(key), "left")
      .na.fill(0L, Seq("resid_anomalies"))
      .withColumn("pass",
        col("resid_anomalies") === 0 &&
          coalesce(col("psi") <= c.psiThreshold, lit(true)) &&
          coalesce(col("ks") <= c.ksThreshold, lit(true)))
      .select(col(key).cast("string").as("partition_key"),
        lit(c.name).as("constraint"), col("pass"), col("rows"),
        col("resid_anomalies").as("violations"),
        (col("resid_anomalies") / col("rows")).as("violation_rate"))

    (violations, verdicts, Seq(series, anomalies))
  }

  /** Residual anomaly rows (reference src/decomposition.py:140-181).
    * method ∈ {iqr, zscore, threshold}; thresholds match the reference
    * defaults (iqr k, zscore on SAMPLE std, abs threshold). Quantiles are
    * exact per-series via percentile over the key group — one extra
    * aggregation + re-join by key.
    */
  def residualAnomalies(decomposed: DataFrame, keyCols: Seq[String],
      method: String = "iqr", threshold: Double = 2.0): DataFrame = {
    val key = keyCols.map(col)
    method match {
      case "iqr" =>
        val q = decomposed.where(col("resid").isNotNull).groupBy(key: _*).agg(
          expr("percentile(resid, 0.25)").as("rq1"),
          expr("percentile(resid, 0.75)").as("rq3"))
        // fence comparisons carry a 1e-9-relative tolerance: with a
        // degenerate IQR (constant-ish residuals) the fence EQUALS the
        // common residual value and double-precision noise between rows
        // (different trend-window summation groupings) would otherwise
        // decide flags — an anomaly within 1e-9 of the fence is numerical
        // fiction, not signal
        val tol = lit(1e-9) *
          greatest(abs(col("lo")), abs(col("hi")), lit(1.0))
        decomposed.join(q, keyCols)
          .withColumn("lo", col("rq1") - lit(threshold) * (col("rq3") - col("rq1")))
          .withColumn("hi", col("rq3") + lit(threshold) * (col("rq3") - col("rq1")))
          .where(col("resid") < col("lo") - tol || col("resid") > col("hi") + tol)
          .drop("rq1", "rq3")
      case "zscore" =>
        val s = decomposed.where(col("resid").isNotNull).groupBy(key: _*).agg(
          avg(col("resid")).as("rmean"), stddev_samp(col("resid")).as("rstd"))
        decomposed.join(s, keyCols)
          // constant residuals (a perfectly periodic series) have rstd = 0:
          // null rz, nothing flagged — unguarded this is an ANSI
          // DIVIDE_BY_ZERO crash, and a perfect fit is not an anomaly
          .withColumn("rz", when(col("rstd") > 0,
            abs((col("resid") - col("rmean")) / col("rstd"))))
          .where(col("rz") > threshold)
          .drop("rmean", "rstd")
      case "threshold" =>
        decomposed.where(abs(col("resid")) > threshold)
      case other => throw new IllegalArgumentException(s"unknown method: $other")
    }
  }
}
