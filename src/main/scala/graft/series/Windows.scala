package graft.series

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Ordered per-series window kernels (SURVEY.md §2.5 W1–W8), with pandas
  * semantic parity where the reference depends on it:
  *
  *  - rolling stats honor `min_periods` (pandas default = window size →
  *    NaN head, reference src/geological_anomaly_detector.py:249-256);
  *  - stddev is SAMPLE (ddof=1) to match pandas `.rolling().std()`;
  *  - NaN-comparison-is-False: flags are `coalesce(flag, false)`.
  *
  * All kernels partition by the series key — at scale each conversation's
  * turns co-locate after one shuffle and every kernel below reuses that
  * same partitioning (no extra shuffles between chained window ops).
  */
object Windows {

  def seriesWindow(partitionCols: Seq[String], orderCols: Seq[String]): WindowSpec =
    Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols.map(col): _*)

  /** W1: trailing rolling mean/std over `window` rows with min_periods
    * semantics. Returns (mean, std, n) columns suffixed onto df.
    */
  def rollingStats(df: DataFrame, valueCol: String, window: Int,
      partitionCols: Seq[String], orderCols: Seq[String],
      minPeriods: Option[Int] = None): DataFrame = {
    val mp = minPeriods.getOrElse(window)
    val w = seriesWindow(partitionCols, orderCols).rowsBetween(-(window - 1), 0)
    val v = col(valueCol)
    val n = count(v).over(w)
    df.withColumn(s"${valueCol}_n", n)
      .withColumn(s"${valueCol}_rolling_mean",
        when(n >= mp, avg(v).over(w)))
      .withColumn(s"${valueCol}_rolling_std",
        when(n >= mp, stddev_samp(v).over(w)))
  }

  /** W2: rolling z-score + |z|>threshold flag (null/NaN ⇒ not flagged).
    * A constant full window has rolling_std = 0.0: its z is null (no
    * variance ⇒ no anomaly, matching the streaming kernel), and the
    * division never runs — Spark 4's default ANSI mode throws
    * DIVIDE_BY_ZERO even for doubles, so an unguarded z would crash the
    * whole job on the first flat window. A NaN in the window makes
    * rolling_std NaN, and Spark SQL ORDERS NaN above every number
    * (`NaN > 0` is TRUE, unlike the streaming kernel's Scala
    * comparison) — both guards below carry an explicit !isnan so a
    * NaN-poisoned window is not flagged on either path.
    */
  def rollingZ(df: DataFrame, valueCol: String, window: Int, zThreshold: Double,
      partitionCols: Seq[String], orderCols: Seq[String],
      minPeriods: Option[Int] = None): DataFrame = {
    val withStats = rollingStats(df, valueCol, window, partitionCols, orderCols, minPeriods)
    val std = col(s"${valueCol}_rolling_std")
    val z = when(!isnan(std) && std > 0,
      (col(valueCol) - col(s"${valueCol}_rolling_mean")) / std)
    withStats
      .withColumn(s"${valueCol}_z", z)
      .withColumn(s"${valueCol}_z_anomaly",
        coalesce(!isnan(z) && abs(z) > zThreshold, lit(false)))
  }

  /** Default rows per (key, chunk): large enough that ordinary
    * conversations never split.
    */
  val DefaultChunk: Int = 1 << 16

  /** The chunk-and-halo rule behind every bounded per-key series pass. A
    * plain `Window.partitionBy(key)` puts a whole conversation on one task
    * — a 10^7-turn mega-thread becomes a single straggler. Here rows are
    * chunked by `__chunk = floor(ord / chunk)`, and the last (window-1)
    * order values of each chunk are copied into the next one as a halo
    * (`__copy` = 1; one scan: the halo rides an explode, not a second
    * read). A pass grouped by (key, `__chunk`) and ordered by `ordCol`
    * then sees every row's trailing window, and emits only home rows
    * (`__copy` = 0) — so no task ever sorts more than chunk + window - 1
    * rows of one key, and a mega-thread spreads over n/chunk tasks. Halo
    * rows occupy the order values below the landing chunk's home rows.
    * A null order value lands, without a halo, in a null chunk.
    *
    * Requires a DENSE integer order column (turn_idx = 0..n-1, the north-
    * rule data model): halo membership is decided by ord value, which
    * equals the row position only when the index has no gaps. With gaps a
    * head-of-chunk window may see fewer than `window` rows and stay
    * un-flagged (never a false positive).
    *
    * Why this is NOT gated on a mega-key probe (VERDICT r2 item 9): when
    * no conversation reaches `chunk` rows, zero rows satisfy `haloNeeded`,
    * so the explode degenerates to a 1-element-array generate — a few % of
    * the pass. A `megaKeys` probe to decide whether to skip it is itself a
    * full groupBy-count job over the fact table, which costs more than the
    * generate it would eliminate. Callers that KNOW their keys are bounded
    * can use a plain window directly.
    */
  def chunkWithHalo(df: DataFrame, ordCol: String, window: Int,
      chunk: Int): DataFrame = {
    require(chunk >= window, s"chunk ($chunk) must be >= window ($window)")
    val ord = col(ordCol).cast("long")
    val haloNeeded = pmod(ord, lit(chunk.toLong)) >= (chunk - (window - 1)).toLong
    df.withColumn("__copy", explode(
        when(haloNeeded, array(lit(0), lit(1))).otherwise(array(lit(0)))))
      .withColumn("__chunk", floor(ord / chunk) + col("__copy"))
  }

  /** W3: centered rolling mean (smoothing; reference src/preprocessing.py:230-234). */
  def centeredMean(df: DataFrame, valueCol: String, window: Int,
      partitionCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    val half = window / 2
    // pandas rolling(center=True) window covers [i-half, i+window-1-half]
    val w = seriesWindow(partitionCols, orderCols).rowsBetween(-half, window - 1 - half)
    df.withColumn(s"${valueCol}_smooth",
      when(count(col(valueCol)).over(w) >= window, avg(col(valueCol)).over(w)))
  }

  /** W5: cumulative sum (pandas parity: null stays null, accumulation
    * skips nulls).
    */
  def cumsum(df: DataFrame, valueCol: String,
      partitionCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = seriesWindow(partitionCols, orderCols)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(s"${valueCol}_cumsum",
      when(col(valueCol).isNotNull, sum(col(valueCol)).over(w)))
  }

  /** W6: forward fill (last non-null up to current row). */
  def ffill(df: DataFrame, valueCol: String,
      partitionCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = seriesWindow(partitionCols, orderCols)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(s"${valueCol}_ffill",
      last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** W6: backward fill. */
  def bfill(df: DataFrame, valueCol: String,
      partitionCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = seriesWindow(partitionCols, orderCols)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    df.withColumn(s"${valueCol}_bfill",
      first(col(valueCol), ignoreNulls = true).over(w))
  }

  /** W7: linear interpolation of nulls between bracketing non-null
    * neighbours, ffill/bfill at the edges (pandas
    * interpolate(limit_direction='both') parity on a row index;
    * reference src/preprocessing.py:57-59).
    */
  def interpolate(df: DataFrame, valueCol: String, idxCol: String,
      partitionCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    val wPrev = seriesWindow(partitionCols, orderCols)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = seriesWindow(partitionCols, orderCols)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val v = col(valueCol)
    val prevV = last(v, ignoreNulls = true).over(wPrev)
    val prevI = last(when(v.isNotNull, col(idxCol)), ignoreNulls = true).over(wPrev)
    val nextV = first(v, ignoreNulls = true).over(wNext)
    val nextI = first(when(v.isNotNull, col(idxCol)), ignoreNulls = true).over(wNext)
    val frac = (col(idxCol) - prevI).cast("double") / (nextI - prevI).cast("double")
    val interp = when(v.isNotNull, v)
      .when(prevV.isNotNull && nextV.isNotNull, prevV + (nextV - prevV) * frac)
      .when(prevV.isNotNull, prevV)
      .otherwise(nextV)
    df.withColumn(s"${valueCol}_interp", interp)
  }

  /** W8: lag difference (trend slope for extrapolation). */
  def lagDiff(df: DataFrame, valueCol: String,
      partitionCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = seriesWindow(partitionCols, orderCols)
    df.withColumn(s"${valueCol}_diff",
      col(valueCol) - lag(col(valueCol), 1).over(w))
  }

  /** W4: exponentially weighted mean, pandas ewm(span).mean() parity
    * (adjusted weights: y_t = Σ (1-a)^i x_{t-i} / Σ (1-a)^i, a=2/(span+1)).
    *
    * No Spark built-in recursion; expressed as two finite-window sums over
    * the last `cap` rows. With the default `maxCap` 200 the truncation
    * error (1-a)^cap is < 1e-12 for span ≤ 14; at span 40 it is ~4.5e-5
    * relative — still far below the 3σ-class verdict thresholds, but NOT
    * strict-parity territory: raise `maxCap` (553 covers span 40 at
    * 1e-12) when a parity check needs it and the wider window is worth
    * its cost. Stays inside codegen'd window exec (no mapGroups detour).
    */
  def ewm(df: DataFrame, valueCol: String, span: Int,
      partitionCols: Seq[String], orderCols: Seq[String],
      maxCap: Int = 200): DataFrame = {
    val a = 2.0 / (span + 1.0)
    val decay = 1.0 - a
    val cap = math.min(math.ceil(-12 / math.log10(decay)).toInt.max(span), maxCap)
    val w = seriesWindow(partitionCols, orderCols)
    val terms = (0 until cap).map { i =>
      val x = if (i == 0) col(valueCol) else lag(col(valueCol), i).over(w)
      (x, math.pow(decay, i))
    }
    val num = terms.map { case (x, wt) => when(x.isNotNull, x * wt).otherwise(lit(0.0)) }
      .reduce(_ + _)
    val den = terms.map { case (x, wt) => when(x.isNotNull, lit(wt)).otherwise(lit(0.0)) }
      .reduce(_ + _)
    df.withColumn(s"${valueCol}_ewm", when(den > 0, num / den))
  }

  /** T9: Savitzky–Golay smoothing as a fixed-coefficient FIR filter
    * (reference src/preprocessing.py:237-243 = scipy savgol_filter).
    *
    * Full scipy `mode='interp'` semantics, including the edges: a
    * quadratic is least-squares-fitted to the FIRST window and evaluated
    * at head positions 0..m-1 (symmetrically for the tail), so an exact
    * quadratic input is reproduced EXACTLY at every row. All w rows of
    * the projection matrix H = V(VᵀV)⁻¹Vᵀ are precomputed at plan time
    * (row m is the classical central coefficient vector); the per-row
    * branch is a codegen'd CASE on the row's window position. A null
    * inside a row's window nulls that row's output (the reference
    * interpolates nulls away first); series shorter than the window are
    * all-null (scipy refuses them).
    */
  def savgol(df: DataFrame, valueCol: String, window: Int,
      partitionCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    require(window % 2 == 1, "savgol window must be odd")
    val m = (window - 1) / 2
    val h = savgolProjection(window) // w×w, quadratic fit
    val w = seriesWindow(partitionCols, orderCols)
    val wAll = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rn = row_number().over(
      Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols.map(col): _*))
    val cnt = count(lit(1)).over(wAll)
    // window position q of this row: j for head row j<m, m interior,
    // w-1-j' for tail row j' from the end
    def fitAt(q: Int): Column =
      (0 until window).map { i =>
        val off = i - q
        val x = if (off == 0) col(valueCol)
          else if (off < 0) lag(col(valueCol), -off).over(w)
          else lead(col(valueCol), off).over(w)
        when(x.isNotNull, x * h(q)(i))
      }.reduce(_ + _)
    val headCases = (0 until m).foldLeft(when(lit(false), lit(0.0))) {
      (acc, j) => acc.when(rn - 1 === j, fitAt(j))
    }
    val tailCases = (0 until m).foldLeft(headCases) {
      (acc, j) => acc.when(cnt - rn === j, fitAt(window - 1 - j))
    }
    df.withColumn(s"${valueCol}_savgol",
      when(cnt < window, lit(null).cast("double"))
        .otherwise(tailCases.otherwise(fitAt(m))))
  }

  /** Projection matrix of the quadratic LS fit over window positions
    * 0..w-1: H = V(VᵀV)⁻¹Vᵀ with V_{i,p} = i^p, p = 0..2. Row q holds the
    * FIR weights producing the fitted value at position q; row m equals
    * the textbook central Savitzky–Golay coefficients.
    */
  private def savgolProjection(w: Int): Array[Array[Double]] = {
    val s = Array.tabulate(5)(k => (0 until w).map(i => math.pow(i, k)).sum)
    val a = Array(
      Array(s(0), s(1), s(2)),
      Array(s(1), s(2), s(3)),
      Array(s(2), s(3), s(4)))
    val inv = Array(Array(1.0, 0, 0), Array(0.0, 1, 0), Array(0.0, 0, 1))
    for (p <- 0 until 3) { // Gauss-Jordan with partial pivot (3×3)
      val piv = (p until 3).maxBy(r => math.abs(a(r)(p)))
      if (piv != p) { val t = a(p); a(p) = a(piv); a(piv) = t
        val ti = inv(p); inv(p) = inv(piv); inv(piv) = ti }
      val d = a(p)(p)
      for (c <- 0 until 3) { a(p)(c) /= d; inv(p)(c) /= d }
      for (r <- 0 until 3 if r != p) {
        val f = a(r)(p)
        for (c <- 0 until 3) { a(r)(c) -= f * a(p)(c); inv(r)(c) -= f * inv(p)(c) }
      }
    }
    Array.tabulate(w, w) { (q, i) =>
      (for (p1 <- 0 until 3; p2 <- 0 until 3)
        yield math.pow(q, p1) * inv(p1)(p2) * math.pow(i, p2)).sum
    }
  }
}
