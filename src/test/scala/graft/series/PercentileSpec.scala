package graft.series

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.GraftSuite

/** The scalar [[Percentile]] helper against Spark's `percentile`
  * aggregate, unweighted and weighted by frequency, on generated samples
  * rich in ties, runs of equal values, signed zeros and single elements.
  * Results compare numerically (-0.0 == 0.0: which zero Spark returns
  * depends on its hash map's iteration order).
  */
class PercentileSpec extends GraftSuite {
  import spark.implicits._

  private val value: Gen[Double] = Gen.frequency(
    3 -> Gen.oneOf(-0.0, 0.0, 1.0, -1.0, 2.5, 59.24, 1e-300, -7.125),
    2 -> Gen.choose(-3, 3).map(_.toDouble),
    2 -> Gen.choose(-1e6, 1e6))

  private val sample: Gen[List[(Double, Long)]] = for {
    n <- Gen.frequency(2 -> Gen.const(1), 8 -> Gen.choose(2, 40))
    runs <- Gen.listOfN(n, for {
      v <- value
      len <- Gen.frequency(4 -> Gen.const(1), 1 -> Gen.choose(2, 6))
      w <- Gen.choose(1L, 5L)
    } yield List.fill(len)((v, w)))
  } yield runs.flatten

  private val percentages: Seq[Double] =
    (1 to 9).map(_ / 10.0) ++ Seq(0.25, 0.75) ++
      Gen.listOfN(6, Gen.choose(0.1, 0.9))
        .pureApply(Gen.Parameters.default, Seed(7L))

  test("equals Spark's percentile, unweighted and weighted, on tied samples") {
    val samples = (1 to 300).map(s =>
      sample.pureApply(Gen.Parameters.default, Seed(s.toLong)).toArray)
    val rows = samples.zipWithIndex.flatMap { case (xs, id) =>
      xs.map { case (v, w) => (id, v, w) }
    }
    val ps = array(percentages.map(lit): _*)
    val bySample = rows.toDF("id", "v", "w").groupBy("id")
      .agg(percentile(col("v"), ps).as("plain"),
        percentile(col("v"), ps, col("w")).as("weighted"))
      .as[(Int, Seq[Double], Seq[Double])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(bySample.size == samples.size)
    samples.zipWithIndex.foreach { case (xs, id) =>
      val (plain, weighted) = bySample(id)
      val v = xs.map(_._1)
      val got = Percentile.of(v, percentages: _*)
      val gotW = Percentile.weighted(v, xs.map(_._2), percentages: _*)
      // numeric equality per element: bit equality up to the zero's sign
      def same(a: Seq[Double], b: Seq[Double]) =
        a.length == b.length && a.zip(b).forall { case (x, y) => x == y }
      assert(same(got.toSeq, plain), s"sample $id unweighted: ${xs.toSeq}")
      assert(same(gotW.toSeq, weighted), s"sample $id weighted: ${xs.toSeq}")
    }
  }

  test("single element and empty input") {
    assert(Percentile.of(Array(3.5), 0.1, 0.9).toSeq == Seq(3.5, 3.5))
    assert(Percentile.of(Array.empty[Double], 0.5).isEmpty)
    assert(Percentile.weighted(Array(1.0, 2.0), Array(0L, 0L), 0.5).isEmpty)
  }
}
