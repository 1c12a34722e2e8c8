package graft.series

import org.apache.spark.sql.functions._
import graft.GraftSuite
import graft.compile.TurnRateDriftReference

/** Differential oracle for the distributed classical decomposition: an
  * independent array-based implementation of the statsmodels formulas
  * (centered MA / phase nanmeans), compared element-wise (SURVEY.md §5.2).
  */
class DecompositionSpec extends GraftSuite {
  import spark.implicits._

  private def oracle(y: Array[Option[Double]], p: Int)
      : (Array[Option[Double]], Array[Double], Array[Option[Double]]) = {
    val n = y.length
    val trend = Array.tabulate(n) { i =>
      if (p % 2 == 1) {
        val h = (p - 1) / 2
        if (i - h < 0 || i + h >= n) None
        else {
          val win = (i - h to i + h).map(y)
          if (win.exists(_.isEmpty)) None else Some(win.flatten.sum / p)
        }
      } else {
        val h = p / 2
        if (i - h < 0 || i + h >= n) None
        else {
          val win = (i - h to i + h).map(y)
          if (win.exists(_.isEmpty)) None
          else Some((win.flatten.sum - 0.5 * (y(i - h).get + y(i + h).get)) / p)
        }
      }
    }
    val det = Array.tabulate(n)(i => for (a <- y(i); b <- trend(i)) yield a - b)
    val phaseMeans = (0 until p).map { v =>
      val xs = (v until n by p).flatMap(det)
      xs.sum / xs.size
    }
    val grand = phaseMeans.sum / p
    val seasonal = Array.tabulate(n)(i => phaseMeans(i % p) - grand)
    val resid = Array.tabulate(n)(i =>
      for (a <- y(i); b <- trend(i)) yield a - b - seasonal(i))
    (trend, seasonal, resid)
  }

  private def runCase(p: Int, withNulls: Boolean): Unit = {
    val n = 60
    val y: Array[Option[Double]] = Array.tabulate(n) { i =>
      if (withNulls && i % 13 == 0) None
      else Some(0.1 * i + 4 * math.sin(2 * math.Pi * i / p) + (i % 3))
    }
    val df = y.zipWithIndex.map { case (v, i) => ("k", i, v) }.toSeq
      .toDF("key", "i", "y")
    val got = Decomposition.additive(df, "y", p, Seq("key"), Seq("i"))
      .orderBy("i")
      .select("trend", "seasonal", "resid").collect()
    val (et, es, er) = oracle(y, p)
    got.zipWithIndex.foreach { case (r, i) =>
      def cmp(a: Any, e: Option[Double], what: String): Unit = (Option(a), e) match {
        case (Some(x: Double), Some(v)) =>
          assert(math.abs(x - v) < 1e-9, s"$what i=$i: $x vs $v")
        case (None, None) =>
        case other => fail(s"$what i=$i null mismatch: $other (expected $e)")
      }
      cmp(r.get(0), et(i), "trend")
      cmp(r.get(1), Some(es(i)), "seasonal")
      cmp(r.get(2), er(i), "resid")
    }
  }

  test("classical additive, odd period, dense")(runCase(7, withNulls = false))
  test("classical additive, odd period, with nulls")(runCase(7, withNulls = true))
  test("classical additive, even period (2xMA half-weights)")(runCase(24, withNulls = false))

  test("multiplicative decomposition: fitted*resid reconstructs y") {
    val n = 84
    val df = (0 until n).map(i =>
      ("k", i, (10.0 + 0.1 * i) * (1.0 + 0.3 * math.sin(2 * math.Pi * i / 7))))
      .toDF("key", "i", "y")
    val d = Decomposition.multiplicative(df, "y", 7, Seq("key"), Seq("i"))
      .where(col("resid").isNotNull)
    val bad = d.where(abs(col("trend") * col("seasonal") * col("resid") - col("y")) > 1e-9)
    assert(bad.isEmpty)
  }

  test("multiplicative with zeros: null components, no ANSI divide crash") {
    // statsmodels refuses non-positive multiplicative series; this engine
    // degrades zero-trend/seasonal rows to null instead of erroring
    val df = (0 until 56).map(i => ("k", i, 0.0)).toDF("key", "i", "y")
    val d = Decomposition.multiplicative(df, "y", 7, Seq("key"), Seq("i"))
    assert(d.count() == 56)
    assert(d.where(col("resid").isNotNull).count() == 0)
  }

  test("zscore anomalies on a perfect fit (constant residuals): none, no crash") {
    // pure seasonal+trend series -> residuals all ~0 with rstd = 0
    val df = (0 until 84).map(i => ("k", i, 5.0)).toDF("key", "i", "y")
    val dec = Decomposition.additive(df, "y", 7, Seq("key"), Seq("i"))
    val found =
      TurnRateDriftReference.residualAnomalies(dec, Seq("key"), "zscore", 3.0)
    assert(found.count() == 0)
  }

  test("strengths: strong seasonality detected, clamped [0,1]") {
    val n = 140
    val df = (0 until n).map(i =>
      ("k", i, 5.0 + 6 * math.sin(2 * math.Pi * i / 7) + 0.01 * (i % 5)))
      .toDF("key", "i", "y")
    val s = Decomposition.strengths(
      Decomposition.additive(df, "y", 7, Seq("key"), Seq("i")), Seq("key"))
      .collect()(0)
    val seas = s.getAs[Double]("seasonal_strength")
    assert(seas > 0.95 && seas <= 1.0)
  }

  test("residual anomalies: injected spikes found via iqr and zscore") {
    val n = 140
    val spikes = Set(40, 90)
    val df = (0 until n).map(i =>
      ("k", i, 2.0 + math.sin(2 * math.Pi * i / 7) +
        (if (spikes(i)) 25.0 else 0.0)))
      .toDF("key", "i", "y")
    val dec = Decomposition.additive(df, "y", 7, Seq("key"), Seq("i"))
    for (m <- Seq("iqr", "zscore")) {
      val found = TurnRateDriftReference.residualAnomalies(dec, Seq("key"), m,
          if (m == "iqr") 2.0 else 3.0)
        .select("i").as[Int].collect().toSet
      assert(spikes.subsetOf(found), s"$m missed spikes: $found")
    }
  }
}
