package graft.series

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.dsl.TurnRateDrift

/** Turn-rate drift scored one conversation at a time: a single
  * `groupByKey(key).flatMapSortedGroups(order)` over the bucketed series
  * runs decomposition (STL, unless residuals are supplied), residual
  * anomalies, PSI and exact KS between the series' halves, and the
  * verdict, all in the JVM on the sorted buckets — one shuffle by key
  * instead of a chain of key-partitioned windows, aggregates and joins
  * (the shape [[SeriesKernels]] uses for STL alone). A series is
  * buckets-per-conversation, not turns, so a mega-conversation stays small.
  *
  * Each statistic repeats the arithmetic of the Spark SQL it replaces:
  * residual fences use Spark's `percentile` ([[Percentile]]) with a
  * 1e-9-relative tolerance; z-scores use `avg` and `stddev_samp`'s update
  * formulas; PSI takes 10 equal-frequency bins from the baseline's
  * frequency-weighted percentile edges, bins by `v > edge`, clamps at
  * 1e-4 and uses `StrictMath.log`; KS is the exact CDF gap over the
  * distinct values.
  */
object DriftKernel {

  private val Bins = 10
  private val Eps = 1e-4

  /** One bucket: turn count `n` and, when the decomposition already ran,
    * its residual (null where the decomposition leaves none).
    */
  final case class Bucket(key: String, n: Long, resid: Option[Double])
  final case class Anomaly(idx: Int, resid: Double)
  /** One row per conversation: `anomalies` feed the violation rows,
    * `violations` is the count the verdict reports.
    */
  final case class Scored(key: String, rows: Long, violations: Long,
      pass: Boolean, anomalies: Seq[Anomaly])

  /** Score every series of `series` (one row per bucket), ordered by
    * `orderCol` within `keyCol`. With `residCol = None` the kernel
    * STL-decomposes each series of at least 2·period buckets (shorter
    * ones have no residuals); otherwise it scores the given residuals.
    */
  def score(series: DataFrame, keyCol: String, orderCol: String,
      valueCol: String, residCol: Option[String],
      c: TurnRateDrift): Dataset[Scored] = {
    require(Set("iqr", "zscore", "threshold")(c.residMethod),
      s"unknown method: ${c.residMethod}")
    val spark = series.sparkSession
    import spark.implicits._
    series.select(col(keyCol).cast("string").as("key"),
        col(valueCol).cast("long").as("n"),
        residCol.fold(lit(null))(col).cast("double").as("resid"),
        col(orderCol).as("__order"))
      .as[Bucket]
      .groupByKey(_.key)
      .flatMapSortedGroups(col("__order")) { (key, rows) =>
        val buf = rows.toArray
        val y = buf.map(_.n)
        val resid = if (residCol.isDefined) buf.map(_.resid) else stlResid(y, c)
        Iterator.single(scoreSeries(key, y, resid, c,
          phaseMajor = residCol.isDefined))
      }
  }

  private def stlResid(y: Array[Long],
      c: TurnRateDrift): Array[Option[Double]] =
    if (y.length >= 2 * c.period)
      Stl.decompose(y.map(_.toDouble), c.period, c.seasonal).resid.map(Some(_))
    else Array.fill(y.length)(None)

  /** Score one series given its residuals. A null key is never scored:
    * its verdict passes with no violations, and only the `threshold`
    * method (which needs no per-key statistic) still reports its
    * residual anomalies.
    *
    * The z statistics accumulate in the order Spark's aggregate met the
    * residuals: idx order for STL, and with `phaseMajor` (the classical
    * decomposition, whose last window pass sorts by phase) in
    * (idx mod period, idx) order. On near-constant residuals the spread
    * is rounding noise, and summation order then decides the z-scores.
    */
  private def scoreSeries(key: String, y: Array[Long],
      resid: Array[Option[Double]], c: TurnRateDrift,
      phaseMajor: Boolean): Scored = {
    val order =
      if (phaseMajor) resid.indices.sortBy(i => (i % c.period, i))
      else resid.indices
    if (key == null) {
      val emitted =
        if (c.residMethod == "threshold") residAnomalies(resid, order, c)
        else Nil
      return Scored(key, y.length, 0L, pass = true, emitted)
    }
    val anomalies = residAnomalies(resid, order, c)
    val (psi, ks) = psiKs(y)
    val pass = anomalies.isEmpty && psi.forall(_ <= c.psiThreshold) &&
      ks.forall(_ <= c.ksThreshold)
    Scored(key, y.length, anomalies.size.toLong, pass, anomalies)
  }

  private def residAnomalies(resid: Array[Option[Double]], order: Seq[Int],
      c: TurnRateDrift): Seq[Anomaly] = {
    val present = order.flatMap(resid(_)).toArray
    if (present.isEmpty) return Nil
    val k = c.residThreshold
    val flagged: Double => Boolean = c.residMethod match {
      case "iqr" =>
        val Array(q1, q3) = Percentile.of(present, 0.25, 0.75)
        val lo = q1 - k * (q3 - q1)
        val hi = q3 + k * (q3 - q1)
        // with a degenerate IQR the fence equals the common residual and
        // summation noise would decide flags: 1e-9-relative slack
        val tol = 1e-9 * math.max(math.max(math.abs(lo), math.abs(hi)), 1.0)
        r => r < lo - tol || r > hi + tol
      case "zscore" =>
        // avg: a running sum from 0.0; stddev_samp: Welford's update
        var sum = 0.0; var n = 0.0; var mean = 0.0; var m2 = 0.0
        for (r <- present) {
          sum += r
          val newN = n + 1.0
          val delta = r - mean
          val deltaN = delta / newN
          mean += deltaN
          m2 += delta * (delta - deltaN)
          n = newN
        }
        val avg = sum / present.length
        // one residual has no sample deviation; a constant series has 0
        val std = if (n > 1.0) math.sqrt(m2 / (n - 1.0)) else 0.0
        if (std > 0) r => math.abs((r - avg) / std) > k else _ => false
      case "threshold" => r => math.abs(r) > k
    }
    resid.indices.flatMap(i =>
      resid(i).filter(flagged).map(Anomaly(i, _)))
  }

  /** PSI and exact KS between the first half of the series (baseline:
    * idx·2 <= last idx) and the rest; both None when the current half is
    * empty (a single-bucket series carries no drift signal).
    */
  private def psiKs(y: Array[Long]): (Option[Double], Option[Double]) = {
    val last = y.length - 1
    // distinct-value census: baseline / current counts per value
    val census = y.indices.groupBy(y(_)).toArray.sortBy(_._1).map {
      case (v, is) =>
        val nb = is.count(_ * 2 <= last).toLong
        (v, nb, is.size - nb)
    }
    val tB = census.map(_._2).sum
    val tC = census.map(_._3).sum
    if (tC == 0) return (None, None)

    val base = census.filter(_._2 > 0)
    val edges = Percentile.weighted(base.map(_._1.toDouble), base.map(_._2),
      (1 until Bins).map(_.toDouble / Bins): _*)
    val nb = new Array[Long](Bins)
    val nc = new Array[Long](Bins)
    val seen = new Array[Boolean](Bins)
    var cumB = 0L; var cumC = 0L; var ks = 0.0
    for ((v, b, c) <- census) {
      val bin = edges.count(v.toDouble > _)
      nb(bin) += b; nc(bin) += c; seen(bin) = true
      cumB += b; cumC += c
      ks = math.max(ks, math.abs(cumB.toDouble / tB - cumC.toDouble / tC))
    }
    var psi = 0.0
    for (i <- 0 until Bins if seen(i)) {
      val pb = math.max(nb(i).toDouble / tB, Eps)
      val qc = math.max(nc(i).toDouble / tC, Eps)
      psi += (pb - qc) * StrictMath.log(pb / qc)
    }
    (Some(psi), Some(ks))
  }
}
