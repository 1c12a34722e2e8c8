package graft.series

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** T6: Augmented Dickey–Fuller stationarity test (reference
  * `analyze_stationarity`, src/decomposition.py:111-138 — statsmodels
  * `adfuller` with the default constant-only regression).
  *
  * Per-series kernel (same seam as STL): one shuffle groups each series,
  * the ADF regression runs inside executors on the sorted values —
  * parallelism = #series, state = O(series length), never driver-side.
  *
  * Semantics (statsmodels parity):
  *  - regression: Δy_t = α + β·y_{t-1} + Σ_{i=1..p} γ_i·Δy_{t-i} + ε
  *  - statistic: t(β) = β / se(β) from OLS
  *  - autolag AIC: all candidate lags 0..maxlag are fit on the SAME sample
  *    (length n-1-maxlag); AIC = -2·llf + 2·k with the Gaussian
  *    log-likelihood llf = -n/2·(ln 2π + ln(SSR/n) + 1); the winning lag is
  *    then refit on its own full sample (length n-1-lag)
  *  - maxlag default: ceil(12·(nobs/100)^¼) capped at (nobs-1)/2 - 2
  *  - critical values: MacKinnon (2010) response-surface for the
  *    constant-only ("c") variant, crit = b0 + b1/N + b2/N² + b3/N³
  *    (public QED WP 1227 table 2 — the same surface statsmodels ships),
  *    so `stationary` = (stat < crit5) reproduces the reference's
  *    p<0.05 verdicts.
  */
object Stationarity {

  final case class AdfResult(stat: Double, usedLag: Int, nobs: Int,
      crit1: Double, crit5: Double, crit10: Double) {
    def stationary: Boolean = stat < crit5
  }

  // MacKinnon (2010) tau_c response-surface coefficients (constant only)
  private val tauC = Map(
    1 -> Array(-3.43035, -6.5393, -16.786, -79.433),
    5 -> Array(-2.86154, -2.8903, -4.234, -40.040),
    10 -> Array(-2.56677, -1.5384, -2.809, 0.0))

  def critValue(pct: Int, nobs: Int): Double = {
    val b = tauC(pct)
    val n = nobs.toDouble
    b(0) + b(1) / n + b(2) / (n * n) + b(3) / (n * n * n)
  }

  /** OLS via normal equations (k is tiny: 2 + lags). Returns
    * (coef, ssr, se of coef(1) — the y_{t-1} slope).
    */
  private def ols(x: Array[Array[Double]], y: Array[Double])
      : (Array[Double], Double, Double) = {
    val n = y.length
    val k = x(0).length
    // X'X and X'y
    val xtx = Array.ofDim[Double](k, k)
    val xty = new Array[Double](k)
    var r = 0
    while (r < n) {
      val row = x(r)
      var i = 0
      while (i < k) {
        xty(i) += row(i) * y(r)
        var j = 0
        while (j < k) { xtx(i)(j) += row(i) * row(j); j += 1 }
        i += 1
      }
      r += 1
    }
    // solve (X'X) b = X'y and invert X'X via Gauss-Jordan with pivoting
    val a = Array.tabulate(k, 2 * k) { (i, j) =>
      if (j < k) xtx(i)(j) else if (j - k == i) 1.0 else 0.0
    }
    var col0 = 0
    while (col0 < k) {
      var piv = col0
      var best = math.abs(a(col0)(col0))
      var i = col0 + 1
      while (i < k) {
        if (math.abs(a(i)(col0)) > best) { best = math.abs(a(i)(col0)); piv = i }
        i += 1
      }
      val tmp = a(col0); a(col0) = a(piv); a(piv) = tmp
      val d = a(col0)(col0)
      var j = 0
      while (j < 2 * k) { a(col0)(j) /= d; j += 1 }
      i = 0
      while (i < k) {
        if (i != col0) {
          val f = a(i)(col0)
          var j2 = 0
          while (j2 < 2 * k) { a(i)(j2) -= f * a(col0)(j2); j2 += 1 }
        }
        i += 1
      }
      col0 += 1
    }
    val inv = Array.tabulate(k, k)((i, j) => a(i)(j + k))
    val coef = new Array[Double](k)
    var i2 = 0
    while (i2 < k) {
      var s = 0.0
      var j = 0
      while (j < k) { s += inv(i2)(j) * xty(j); j += 1 }
      coef(i2) = s
      i2 += 1
    }
    var ssr = 0.0
    r = 0
    while (r < n) {
      var fit = 0.0
      var j = 0
      while (j < k) { fit += x(r)(j) * coef(j); j += 1 }
      val e = y(r) - fit
      ssr += e * e
      r += 1
    }
    val sigma2 = ssr / (n - k)
    val seSlope = math.sqrt(sigma2 * inv(1)(1))
    (coef, ssr, seSlope)
  }

  /** Build the ADF design matrix for lag p over sample rows
    * t = start..n-2 (of the diff series): y = Δy_t, X = [1, y_{t}, Δy_{t-1..t-p}].
    */
  private def fitAdf(y: Array[Double], p: Int, start: Int)
      : (Double, Double, Int) = {
    val n = y.length
    val d = Array.tabulate(n - 1)(i => y(i + 1) - y(i)) // Δy_t at t=1..n-1
    val rows = (start until d.length).toArray
    val x = rows.map { t =>
      val base = Array(1.0, y(t)) // y_{t} is the level lag for Δy at t+1
      val lags = (1 to p).map(i => d(t - i)).toArray
      base ++ lags
    }
    val yy = rows.map(t => d(t))
    val (coef, ssr, se) = ols(x, yy)
    val stat = coef(1) / se
    (stat, ssr, yy.length)
  }

  /** Gaussian OLS AIC as statsmodels computes it. */
  private def aic(ssr: Double, n: Int, k: Int): Double = {
    val llf = -n / 2.0 * (math.log(2 * math.Pi) + math.log(ssr / n) + 1.0)
    -2.0 * llf + 2.0 * k
  }

  /** ADF over one series. `maxlag < 0` → statsmodels default with AIC
    * autolag; `maxlag >= 0` with `autolag=false` → fixed lag.
    */
  def adfStat(y: Array[Double], maxlag: Int = -1, autolag: Boolean = true)
      : AdfResult = {
    val n = y.length
    require(n >= 6, s"ADF needs at least 6 observations, got $n")
    // statsmodels adfuller computes BOTH the default maxlag and its cap from
    // the FULL series length n (x.shape[0]), not the differenced length n-1:
    // maxlag = ceil(12*(n/100)^0.25), capped at n//2 - ntrend - 1 (ntrend=1
    // for the 'c' regression). Using n-1 deviates at boundary lengths.
    val defaultMax = math.ceil(12.0 * math.pow(n / 100.0, 0.25)).toInt
    val cap = n / 2 - 2
    val ml = math.max(0, math.min(if (maxlag < 0) defaultMax else maxlag, cap))
    val usedLag =
      if (!autolag) ml
      else {
        // common sample: all candidates start at ml (statsmodels autolag)
        (0 to ml).minBy { p =>
          val (_, ssr, nn) = fitAdf(y, p, ml)
          aic(ssr, nn, p + 2)
        }
      }
    val (stat, _, nobs) = fitAdf(y, usedLag, usedLag)
    AdfResult(stat, usedLag, nobs,
      critValue(1, nobs), critValue(5, nobs), critValue(10, nobs))
  }

  /** DataFrame API: one verdict row per series key.
    * Input (key, idx, y); output (key, adf_stat, used_lag, nobs, crit_5pct,
    * stationary). Series shorter than `minLen` pass through with null stat
    * (reference skips, src/decomposition.py:120).
    */
  def adf(df: DataFrame, keyCol: String, idxCol: String, valueCol: String,
      maxlag: Int = -1, autolag: Boolean = true, minLen: Int = 12): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val in = df.select(
      col(keyCol).cast("string").as("key"),
      col(idxCol).cast("int").as("idx"),
      col(valueCol).cast("double").as("y"))
      .as[(String, Int, Double)]
    in.groupBy(col("key")).as[String, (String, Int, Double)]
      .flatMapSortedGroups(col("idx")) { (key, rows) =>
        val y = rows.map(_._3).toArray
        if (y.length >= minLen) {
          val r = adfStat(y, maxlag, autolag)
          Iterator.single((key, Option(r.stat), Option(r.usedLag),
            Option(r.nobs), Option(r.crit5), Option(r.stationary)))
        } else Iterator.single((key, Option.empty[Double], Option.empty[Int],
          Option.empty[Int], Option.empty[Double], Option.empty[Boolean]))
      }
      .toDF(keyCol, "adf_stat", "used_lag", "nobs", "crit_5pct", "stationary")
  }
}
