package graft.series

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.agg.Sketches

/** Distribution-drift scoring (SURVEY.md §2.9 T10): PSI and two-sample KS
  * between a baseline and a current slice, per series key or global.
  *
  * The reference scores drift per-point with rolling z / residual outliers;
  * the north star adds PSI/KS thresholds over the same bucketed series.
  * The exact variants share one distinct-value census ([[sideCensus]]) and
  * one sorted kernel over it ([[scoreCensus]]): a map-side-combined
  * aggregate, then `groupBy(keys).flatMapSortedGroups(value)` scoring PSI
  * and KS per key in the JVM. The sketch variant rides the mergeable
  * t-digests so a 100 TB baseline never gets rescanned.
  */
object Drift {

  /** Shared per-(key, value) side census: baseline/current counts per
    * DISTINCT value. [[psi]], [[ks]] and [[scoreCensus]] all read this ONE
    * map-side-combined aggregation, so the raw rows are scanned once and
    * everything downstream runs on the distinct-value census, not rows
    * (guide §2.3 "aggregate before you shuffle").
    */
  def sideCensus(df: DataFrame, valueCol: String, sideCol: String,
      keyCols: Seq[String]): DataFrame =
    df.groupBy((keyCols.map(col) :+ col(valueCol).as("__ksv")): _*)
      .agg(sum((col(sideCol) === "baseline").cast("long")).as("__cb"),
        sum((col(sideCol) === "current").cast("long")).as("__cc"))

  /** PSI = Σ (p_i - q_i) · ln(p_i / q_i) over equal-frequency bins derived
    * from the baseline side. Input: one DataFrame with `sideCol` ∈
    * {'baseline','current'}; output: one row per key with a baseline
    * (`psi`, and `n_cur`, the current side's row count) — a key with no
    * baseline row, or with a null key component, has no row. `psi` is null
    * when the current side is empty. Keyless, the one global row is always
    * there, its `psi` null when either side is empty.
    */
  def psi(df: DataFrame, valueCol: String, sideCol: String,
      keyCols: Seq[String], bins: Int = 10, eps: Double = 1e-4): DataFrame = {
    val scored = scoreCensus(sideCensus(df, valueCol, sideCol, keyCols),
      keyCols, bins, eps)
    if (keyCols.isEmpty)
      scored.agg(first(col("psi")).as("psi"), first(col("n_cur")).as("n_cur"))
    else scored.where(col("__has_base"))
      .select((keyCols.map(col) :+ col("psi") :+ col("n_cur")): _*)
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic per key:
    * D = max_x |F_baseline(x) - F_current(x)|, the CDF gap evaluated at
    * every distinct value of the census (so tie peers from either side are
    * all counted before the gap is taken — KS = 0 for two identical
    * all-tied samples). One row per key; `ks` is null when either side is
    * empty.
    */
  def ks(df: DataFrame, valueCol: String, sideCol: String,
      keyCols: Seq[String]): DataFrame = {
    val scored = scoreCensus(sideCensus(df, valueCol, sideCol, keyCols),
      keyCols)
    if (keyCols.isEmpty) scored.agg(first(col("ks")).as("ks"))
    else scored.select((keyCols.map(col) :+ col("ks")): _*)
  }

  /** PSI and exact KS per key over a [[sideCensus]], in one sorted kernel:
    * `groupBy(keys).flatMapSortedGroups(__ksv)` streams each key's
    * value-sorted census into primitive arrays (O(distinct values) state,
    * no `Row`s held) and scores it with [[censusPsiKs]]. One row per key
    * group: the keys, `psi`, `n_cur`, `ks`, and `__has_base` — a baseline
    * row exists and no key component is null, the keys the frame form's
    * inner join to the baseline edges kept. Keyless, the census is scored
    * as one group, present only when the census is non-empty.
    */
  def scoreCensus(census: DataFrame, keyCols: Seq[String], bins: Int = 10,
      eps: Double = 1e-4): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val in = if (keyCols.isEmpty) census.withColumn("__all", lit(true))
      else census
    val keys = if (keyCols.isEmpty) Seq("__all") else keyCols
    val keyType = StructType(keys.map(in.schema(_)))
    val vAt = in.schema.fieldIndex("__ksv")
    val cbAt = in.schema.fieldIndex("__cb")
    val ccAt = in.schema.fieldIndex("__cc")
    val outType = StructType(keyType.fields ++ Seq(
      StructField("psi", DoubleType), StructField("n_cur", LongType),
      StructField("ks", DoubleType),
      StructField("__has_base", BooleanType, nullable = false)))
    val scored = in.groupBy(keys.map(col): _*)
      .as[Row, Row](Encoders.row(keyType), Encoders.row(in.schema))
      .flatMapSortedGroups(col("__ksv")) { (k, rows) =>
        val values = ArrayBuilder.make[Double]
        val cb = ArrayBuilder.make[Long]
        val cc = ArrayBuilder.make[Long]
        var nullFirst = false
        rows.foreach { r =>
          // the census holds one row per distinct value; a null value
          // sorts first, and a null count (null sides only) counts 0
          if (r.isNullAt(vAt)) nullFirst = true
          values += (if (r.isNullAt(vAt)) 0.0
            else r.get(vAt).asInstanceOf[Number].doubleValue)
          cb += (if (r.isNullAt(cbAt)) 0L else r.getLong(cbAt))
          cc += (if (r.isNullAt(ccAt)) 0L else r.getLong(ccAt))
        }
        val (bs, cs) = (cb.result(), cc.result())
        val (psiV, ksV) = censusPsiKs(values.result(), bs, cs, nullFirst,
          bins, eps)
        val hasBase = bs.exists(_ > 0) &&
          (0 until k.length).forall(!k.isNullAt(_))
        Iterator.single(Row.fromSeq(k.toSeq ++ Seq(psiV.getOrElse(null),
          cs.sum, ksV.getOrElse(null), hasBase)))
      }(Encoders.row(outType))
      .toDF()
    if (keyCols.isEmpty) scored.drop("__all") else scored
  }

  /** `x > y` as Spark SQL orders doubles: numeric, -0.0 = 0.0, and NaN
    * equal to itself and above every other value.
    */
  private def sqlGreater(x: Double, y: Double): Boolean =
    x != y && java.lang.Double.compare(x, y) > 0

  /** PSI and exact KS of one key's census: `values` ascending in Spark's
    * order (distinct; with `nullFirst` the first entry stands for the null
    * value), `cb`/`cc` their baseline/current counts. Both are None unless
    * both sides are non-empty.
    *
    * PSI takes `bins` equal-frequency bins whose edges are the baseline's
    * frequency-weighted `percentile` ([[Percentile.weighted]], nulls
    * excluded), bins a value by how many edges it is `>` in Spark's
    * ordering (a null value, or every value when the baseline holds only
    * nulls, lands in bin 0), clamps each side's share at `eps` and sums
    * the bins that hold a census row in bin order with `StrictMath.log`.
    * KS is the largest gap between the running CDFs, nulls counted first.
    */
  private[series] def censusPsiKs(values: Array[Double], cb: Array[Long],
      cc: Array[Long], nullFirst: Boolean, bins: Int,
      eps: Double): (Option[Double], Option[Double]) = {
    val tB = cb.sum
    val tC = cc.sum
    if (tB == 0 || tC == 0) return (None, None)
    val from = if (nullFirst) 1 else 0
    val base = (from until values.length).filter(cb(_) > 0)
    val edges = Percentile.weighted(base.map(values).toArray,
      base.map(cb).toArray, (1 until bins).map(_.toDouble / bins): _*)
    val nb = new Array[Long](bins)
    val nc = new Array[Long](bins)
    val seen = new Array[Boolean](bins)
    var cumB = 0L; var cumC = 0L; var ks = 0.0
    for (i <- values.indices) {
      val bin = if (i < from) 0 else edges.count(sqlGreater(values(i), _))
      nb(bin) += cb(i); nc(bin) += cc(i); seen(bin) = true
      cumB += cb(i); cumC += cc(i)
      ks = math.max(ks, math.abs(cumB.toDouble / tB - cumC.toDouble / tC))
    }
    var psi = 0.0
    for (i <- 0 until bins if seen(i)) {
      val p = math.max(nb(i).toDouble / tB, eps)
      val q = math.max(nc(i).toDouble / tC, eps)
      psi += (p - q) * StrictMath.log(p / q)
    }
    (Some(psi), Some(ks))
  }

  /** Sketch-based KS for the 100 TB path: one t-digest per side (mergeable,
    * checkpointable), D approximated as max |rank_base(x) - rank_cur(x)|
    * over a grid of `gridPoints` quantiles of the pooled sketch. Single
    * aggregation pass over the data; the grid evaluation is driver-trivial.
    */
  def ksSketch(df: DataFrame, valueCol: String, sideCol: String,
      keyCols: Seq[String], gridPoints: Int = 101): DataFrame = {
    val key = keyCols.map(col)
    val v = col(valueCol)
    val sketches = df.groupBy(key: _*).agg(
      Sketches.tdigestAgg(when(col(sideCol) === "baseline", v)).as("td_base"),
      Sketches.tdigestAgg(when(col(sideCol) === "current", v)).as("td_cur"))
    val ds = (0 until gridPoints).map { i =>
      val q = i.toDouble / (gridPoints - 1)
      val x = Sketches.tdigestQuantile(col("td_base"), q)
      abs(Sketches.tdigestRank(col("td_base"), x) -
        Sketches.tdigestRank(col("td_cur"), x))
    }
    sketches.withColumn("ks", greatest(ds: _*)).drop("td_base", "td_cur")
  }

  /** A12: ensemble majority vote across constraint flag columns —
    * k-of-n vote (reference >= 2 of 3,
    * src/geological_anomaly_detector.py:211-213; strict majority at
    * src/anomaly_detection.py:313-325).
    */
  def ensembleVote(df: DataFrame, flagCols: Seq[String], k: Int,
      outCol: String = "ensemble_anomaly"): DataFrame = {
    val votes = flagCols.map(c => coalesce(col(c), lit(false)).cast("int"))
      .reduce(_ + _)
    df.withColumn(outCol, votes >= k)
  }

  /** A13: min-max normalized anomaly score from raw score columns, then
    * row-mean and level bucketing (reference
    * src/geological_anomaly_detector.py:301-338): level thresholds
    * 0.3/0.6/0.8 → normal/low/medium/high.
    */
  def anomalyScore(df: DataFrame, scoreCols: Seq[String]): DataFrame = {
    val mins = scoreCols.map(c => min(col(c)).as(s"${c}_mn"))
    val maxs = scoreCols.map(c => max(col(c)).as(s"${c}_mx"))
    val stats = df.agg((mins ++ maxs).head, (mins ++ maxs).tail: _*)
    val joined = df.crossJoin(broadcast(stats))
    val normed = scoreCols.map { c =>
      val rng = col(s"${c}_mx") - col(s"${c}_mn")
      when(rng > 0, (col(c) - col(s"${c}_mn")) / rng).otherwise(lit(0.0))
    }
    val meanScore = normed.map(n => coalesce(n, lit(0.0))).reduce(_ + _) /
      lit(scoreCols.size)
    joined
      .withColumn("anomaly_score", meanScore)
      .withColumn("anomaly_level",
        when(col("anomaly_score") > 0.8, "high")
          .when(col("anomaly_score") > 0.6, "medium")
          .when(col("anomaly_score") > 0.3, "low")
          .otherwise("normal"))
      .drop(scoreCols.flatMap(c => Seq(s"${c}_mn", s"${c}_mx")): _*)
  }
}
