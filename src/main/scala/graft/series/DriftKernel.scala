package graft.series

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dsl.TurnRateDrift

/** Turn-rate drift scored one conversation at a time: a single
  * `groupBy(key).as[Row, Row].flatMapSortedGroups(order)` runs
  * decomposition (STL, unless residuals are supplied), residual anomalies,
  * PSI and exact KS between the series' halves, and the verdict, all in
  * the JVM on the sorted group — one shuffle by key instead of a chain of
  * key-partitioned windows, aggregates and joins. Grouping on the real key
  * column (the [[RollingKernel]] idiom) lets an input already
  * hash-partitioned on the key satisfy the grouping without another
  * exchange. A series is buckets-per-conversation, not turns, so a
  * mega-conversation keeps O(buckets) state.
  *
  * Each statistic repeats the arithmetic of the Spark SQL it replaces:
  * residual fences use Spark's `percentile` ([[Percentile]]) with a
  * 1e-9-relative tolerance; z-scores use `avg` and `stddev_samp`'s update
  * formulas; PSI (10 bins, 1e-4 clamp) and KS come from
  * [[Drift.censusPsiKs]], the arithmetic `Drift.psi` and `Drift.ks` use.
  *
  * Both entry points emit one row per key: the key as its own type,
  * `rows` (buckets), `violations`, `pass`, and the `anomalies` array of
  * (bucket idx, residual) that feeds the violation rows.
  */
object DriftKernel {

  private val Bins = 10
  private val Eps = 1e-4

  private final case class Anomaly(idx: Int, resid: Double)

  /** STL drift straight from turns: `turns` holds one row per turn with a
    * non-null `bucketCol` (the bucket start). Each group streams its turns
    * in bucket order and counts runs of equal bucket starts into the
    * series — the per-(key, bucket) count without an aggregate and exchange
    * of its own — then STL-decomposes a series of at least 2·period
    * buckets (a shorter one has no residuals).
    */
  def scoreTurns(turns: DataFrame, keyCol: String, bucketCol: String,
      c: TurnRateDrift): DataFrame = {
    val bucketAt = turns.schema.fieldIndex(bucketCol)
    grouped(turns, keyCol, bucketCol, c) { rows =>
      val counts = ArrayBuilder.make[Long]
      var bucket: Any = null
      var n = 0L
      rows.foreach { r =>
        val b = r.get(bucketAt)
        if (n > 0 && b != bucket) { counts += n; n = 0L }
        bucket = b
        n += 1
      }
      if (n > 0) counts += n
      val y = counts.result()
      (y, stlResid(y, c), false)
    }
  }

  /** Drift over a decomposed series: one row per bucket, `orderCol`
    * ordering the buckets of a key, `valueCol` the bucket's turn count and
    * `residCol` its residual (null where the decomposition leaves none).
    */
  def scoreResiduals(series: DataFrame, keyCol: String, orderCol: String,
      valueCol: String, residCol: String, c: TurnRateDrift): DataFrame = {
    val in = series.select(col(keyCol), col(orderCol),
      col(valueCol).cast("long"), col(residCol).cast("double"))
    grouped(in, keyCol, orderCol, c) { rows =>
      val buf = rows.toArray
      val y = buf.map(_.getLong(2))
      val resid = buf.map(r => if (r.isNullAt(3)) None else Some(r.getDouble(3)))
      (y, resid, true)
    }
  }

  /** Groups `in` on `keyCol`, sorts each group by `orderCol`, and scores
    * the (series, residuals, phaseMajor) that `series` reads off the group.
    */
  private def grouped(in: DataFrame, keyCol: String, orderCol: String,
      c: TurnRateDrift)(
      series: Iterator[Row] => (Array[Long], Array[Option[Double]], Boolean))
      : DataFrame = {
    require(Set("iqr", "zscore", "threshold")(c.residMethod),
      s"unknown method: ${c.residMethod}")
    val keyField = in.schema(keyCol)
    val anomalyType = StructType(Seq(
      StructField("idx", IntegerType, nullable = false),
      StructField("resid", DoubleType, nullable = false)))
    val outType = StructType(Seq(
      keyField.copy(name = "key", nullable = true),
      StructField("rows", LongType, nullable = false),
      StructField("violations", LongType, nullable = false),
      StructField("pass", BooleanType, nullable = false),
      StructField("anomalies", ArrayType(anomalyType, containsNull = true))))
    in.groupBy(col(keyCol))
      .as[Row, Row](Encoders.row(StructType(Seq(keyField))),
        Encoders.row(in.schema))
      .flatMapSortedGroups(col(orderCol)) { (k, rows) =>
        val (y, resid, phaseMajor) = series(rows)
        val (violations, pass, anomalies) =
          scoreSeries(k.isNullAt(0), y, resid, c, phaseMajor)
        Iterator.single(Row(k.get(0), y.length.toLong, violations, pass,
          anomalies.map(a => Row(a.idx, a.resid))))
      }(Encoders.row(outType))
      .toDF()
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
  private def scoreSeries(nullKey: Boolean, y: Array[Long],
      resid: Array[Option[Double]], c: TurnRateDrift,
      phaseMajor: Boolean): (Long, Boolean, Seq[Anomaly]) = {
    val order =
      if (phaseMajor) resid.indices.sortBy(i => (i % c.period, i))
      else resid.indices
    if (nullKey) {
      val emitted =
        if (c.residMethod == "threshold") residAnomalies(resid, order, c)
        else Nil
      return (0L, true, emitted)
    }
    val anomalies = residAnomalies(resid, order, c)
    val (psi, ks) = psiKs(y)
    val pass = anomalies.isEmpty && psi.forall(_ <= c.psiThreshold) &&
      ks.forall(_ <= c.ksThreshold)
    (anomalies.size.toLong, pass, anomalies)
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
    * idx·2 <= last idx) and the rest, over its distinct-value census
    * ([[Drift.censusPsiKs]]); both None when the current half is empty (a
    * single-bucket series carries no drift signal).
    */
  private def psiKs(y: Array[Long]): (Option[Double], Option[Double]) = {
    val last = y.length - 1
    val census = y.indices.groupBy(y(_)).toArray.sortBy(_._1)
    val nb = census.map(_._2.count(_ * 2 <= last).toLong)
    Drift.censusPsiKs(census.map(_._1.toDouble), nb,
      census.indices.map(i => census(i)._2.size - nb(i)).toArray,
      nullFirst = false, Bins, Eps)
  }
}
