package graft.series

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Rolling z-score drift (W2) and the duplicate-key census of a
  * `UniqueKey(key, order)`, scored in one sorted pass per (key, chunk):
  * the [[Windows.chunkWithHalo]] projection, then
  * `groupBy(key, __chunk).as[…].flatMapSortedGroups(order)`. Grouping on
  * real columns lets an input already hash-partitioned on the key satisfy
  * the grouping without another exchange, and the pass replaces the
  * sliding-frame window and the two census windows (each with its own
  * sort) that it stands for.
  *
  * Each group streams its sorted rows with O(window) state: a ring of the
  * last `window` values, re-folded for every row with Spark's own update
  * formulas (a sum from 0.0 for `avg`, Welford's update for
  * `stddev_samp`), so means, deviations and z-scores are bit-identical to
  * the sliding ROWS frame, which re-aggregates its buffer the same way. A
  * decimal value column takes its mean as Spark's `avg(decimal)` does: the
  * exact sum divided at scale 39, rounded half-up to the result scale.
  *
  * Tie groups are runs of equal order values; the census emits the first
  * row of every home tie group with more than one row, never for a null
  * order value — `!(ord <=> lag(ord))` over an integral order column.
  */
object RollingKernel {

  /** Spark's `avg` and `stddev_samp` over the `n` values of `ring` that
    * start at `from` (wrapping), oldest first. `avg` sums from 0.0 and
    * divides by the count; `stddev_samp` runs Welford's update and has no
    * value (NaN here, null in Spark) for n <= 1.
    */
  private[graft] def meanStd(ring: Array[Double], from: Int,
      n: Int): (Double, Double) = {
    var sum = 0.0; var cnt = 0.0; var mean = 0.0; var m2 = 0.0
    var i = 0
    while (i < n) {
      val x = ring((from + i) % ring.length)
      sum += x
      val newN = cnt + 1.0
      val delta = x - mean
      val deltaN = delta / newN
      mean += deltaN
      m2 += delta * (delta - deltaN)
      cnt = newN
      i += 1
    }
    (sum / n, if (cnt > 1.0) math.sqrt(m2 / (cnt - 1.0)) else Double.NaN)
  }

  /** `|diff / std| > threshold`, where a NaN or non-positive std has no
    * z-score (a constant window is no anomaly) and a NaN z never flags —
    * the `!isnan` guards Spark SQL needs, since it orders NaN above every
    * number.
    */
  private[graft] def flagged(diff: Double, std: Double,
      threshold: Double): Boolean =
    !std.isNaN && std > 0 && {
      val z = diff / std
      !z.isNaN && math.abs(z) > threshold
    }

  /** Flagged rows of `df`: (keyCol, ordCol, valueCol, `__peers`). A row
    * with a null `__peers` is a rolling-z flag: its trailing `window` rows
    * are all non-null and |z| > `threshold`. With `dupKeys`, a row with
    * `__peers` set is a duplicate (key, order) value held by `__peers`
    * rows, and its value is null. Only (key, order, value) are read.
    */
  def flags(df: DataFrame, keyCol: String, ordCol: String, valueCol: String,
      window: Int, threshold: Double, dupKeys: Boolean,
      chunk: Int): DataFrame = {
    require(window >= 1, s"rolling window must be >= 1, got $window")
    val valueType = df.schema(valueCol).dataType
    // the fold reads doubles; a value of another type rides along as
    // itself too, for a decimal mean and the observed string
    val asDouble = if (valueType == DoubleType) Nil
      else Seq(col(valueCol).cast("double").as("__x"))
    val staged = Windows.chunkWithHalo(
      df.select(Seq(col(keyCol), col(ordCol), col(valueCol)) ++ asDouble: _*),
      ordCol, window, chunk)
    // positional rows: key, chunk, order, copy, value[, value as double]
    val in = staged.select(Seq(col(keyCol), col("__chunk"), col(ordCol),
      col("__copy"), col(valueCol)) ++ asDouble.map(_ => col("__x")): _*)
    val xAt = 4 + asDouble.size
    // a decimal mean: Spark's avg result scale
    val meanScale = valueType match {
      case d: DecimalType => Some(math.min(d.scale + 4, DecimalType.MAX_SCALE))
      case _ => None
    }
    val keyType = StructType(Seq(in.schema(keyCol), in.schema("__chunk")))
    val outType = StructType(Seq(in.schema(keyCol), in.schema(ordCol),
      in.schema(valueCol), StructField("__peers", LongType))
      .map(_.copy(nullable = true)))
    in.groupBy(col(keyCol), col("__chunk"))
      .as[Row, Row](Encoders.row(keyType), Encoders.row(in.schema))
      .flatMapSortedGroups(col(ordCol)) { (k, rows) =>
        new Scorer(k.get(0), window, threshold, dupKeys, xAt, meanScale)
          .run(rows)
      }(Encoders.row(outType))
      .toDF()
  }

  /** One (key, chunk) group's state: the value ring and the open tie group. */
  private final class Scorer(key: Any, window: Int, threshold: Double,
      dupKeys: Boolean, xAt: Int, meanScale: Option[Int]) {
    private val ring = new Array[Double](window)
    private val present = new Array[Boolean](window)
    private val decimals =
      if (meanScale.isDefined) new Array[JBigDecimal](window) else null
    private var pushed = 0L
    private var nulls = 0
    private var tieOrd: Any = null
    private var tieRows = 0L
    private var tieHome = false

    def run(rows: Iterator[Row]): Iterator[Row] =
      rows.flatMap(step) ++ closeTie()

    private def step(r: Row): Iterator[Row] = {
      val ord = r.get(2)
      val home = r.getInt(3) == 0
      val slot = (pushed % window).toInt
      if (pushed >= window && !present(slot)) nulls -= 1
      present(slot) = !r.isNullAt(xAt)
      if (present(slot)) ring(slot) = r.getDouble(xAt) else nulls += 1
      if (decimals != null) decimals(slot) = r.getDecimal(4)
      pushed += 1
      val dup =
        if (!dupKeys) Iterator.empty
        else if (tieRows > 0 && ord == tieOrd) { tieRows += 1; Iterator.empty }
        else {
          val closed = closeTie()
          tieOrd = ord; tieRows = 1; tieHome = home && ord != null
          closed
        }
      if (home && pushed >= window && nulls == 0 && rollingFlag(r, slot))
        dup ++ Iterator.single(Row(key, ord, r.get(4), null))
      else dup
    }

    private def rollingFlag(r: Row, newest: Int): Boolean = {
      val oldest = (newest + 1) % window
      val (mean, std) = meanStd(ring, oldest, window)
      val diff = meanScale match {
        case None => ring(newest) - mean
        case Some(scale) if !std.isNaN && std > 0 =>
          var sum = JBigDecimal.ZERO
          decimals.foreach(d => sum = sum.add(d))
          val decMean = sum.divide(JBigDecimal.valueOf(window.toLong), 39,
            RoundingMode.HALF_UP).setScale(scale, RoundingMode.HALF_UP)
          r.getDecimal(4).subtract(decMean).doubleValue
        case _ => Double.NaN
      }
      flagged(diff, std, threshold)
    }

    private def closeTie(): Iterator[Row] =
      if (tieHome && tieRows > 1) Iterator.single(Row(key, tieOrd, null, tieRows))
      else Iterator.empty
  }
}
