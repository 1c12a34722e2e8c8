package graft.series

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSuite
import graft.compile.Validator
import graft.dsl.{Check, DistributionDrift}
import graft.sources.Tables

/** The sorted census kernel behind [[Drift.psi]], [[Drift.ks]] and
  * DistributionDrift against the frame-chain reference
  * ([[DriftReference]]): same schema (nullability included), the same
  * multiset of rows (`exceptAll` both ways, 0/0) with `psi` set aside,
  * and `psi` per key within 4 ulps. `ks` and `n_cur` match exactly. The
  * reference sums its bins in shuffle order and the kernel in bin order,
  * so exact `psi` equality does not hold: over the cases below about a
  * quarter of the values differ in their last bits.
  */
class DriftCensusDifferentialSpec extends GraftSuite {

  private val Ulps = 4

  /** A (k1, k2, side, v) frame: two key columns, a double value. */
  private def frame(rows: Seq[(String, Integer, String, java.lang.Double)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (a, b, s, v) => Row(a, b, s, v) }: _*),
      StructType(Seq(StructField("k1", StringType), StructField("k2", IntegerType),
        StructField("side", StringType), StructField("v", DoubleType))))

  private def side(k1: String, k2: Integer, s: String,
      vs: Seq[java.lang.Double]) = vs.map(v => (k1, k2, s, v))

  /** Rows as (key string, row), sorted by key — one row per key. */
  private def byKey(df: DataFrame, keys: Seq[String]): Seq[(String, Row)] =
    df.collect().toSeq.map(r => (keys.map(k => String.valueOf(r.getAs[Any](k)))
      .mkString("|"), r)).sortBy(_._1)

  private def sameMultiset(a: DataFrame, b: DataFrame, what: String): Unit = {
    def tagged(d: DataFrame, side: String) =
      d.select(lit(side).as("side"), struct(d.columns.map(col): _*).as("row"))
    val diff = tagged(a.exceptAll(b), "kernel-only")
      .union(tagged(b.exceptAll(a), "reference-only")).limit(10).collect()
    assert(diff.isEmpty, s"$what differ:\n${diff.mkString("\n")}")
  }

  private def closePsi(a: Any, b: Any, what: String): Unit = (a, b) match {
    case (null, null) =>
    case (x: Double, y: Double) =>
      assert(x == y || math.abs(x - y) <=
        Ulps * math.ulp(math.max(math.abs(x), math.abs(y))),
        s"$what: psi $x vs reference $y")
    case _ => fail(s"$what: psi $a vs reference $b")
  }

  /** Kernel-backed psi/ks == reference over `df`, keyed by `keys`. */
  private def assertSame(df: DataFrame, valueCol: String, keys: Seq[String],
      bins: Int = 10, what: String = ""): Unit = {
    val kp = Drift.psi(df, valueCol, "side", keys, bins)
    val rp = DriftReference.psi(df, valueCol, "side", keys, bins)
    val kk = Drift.ks(df, valueCol, "side", keys)
    val rk = DriftReference.ks(df, valueCol, "side", keys)
    assert(kp.schema == rp.schema, s"$what psi schema:\n${kp.schema.treeString}" +
      s"\nreference:\n${rp.schema.treeString}")
    assert(kk.schema == rk.schema, s"$what ks schema:\n${kk.schema.treeString}" +
      s"\nreference:\n${rk.schema.treeString}")
    sameMultiset(kk, rk, s"$what ks")
    sameMultiset(kp.drop("psi"), rp.drop("psi"), s"$what psi keys/n_cur")
    val (a, b) = (byKey(kp, keys), byKey(rp, keys))
    assert(a.map(_._1) == b.map(_._1), s"$what psi keys")
    for (((k, x), (_, y)) <- a.zip(b))
      closePsi(x.getAs[Any]("psi"), y.getAs[Any]("psi"), s"$what key $k")
  }

  private val keys2 = Seq("k1", "k2")

  test("two-column keys, null keys, null values, missing sides") {
    val df = frame(
      side("a", 1, "baseline", (1 to 40).map(i => Double.box((i % 9).toDouble))) ++
      side("a", 1, "current", (1 to 30).map(i => Double.box((i % 7).toDouble + 0.5))) ++
      side("a", 2, "baseline", (1 to 25).map(i => Double.box(i * 0.1))) ++
      side("a", 2, "current", (1 to 25).map(i => Double.box(i * 0.13))) ++
      // null key components: a KS row, never a PSI row
      side(null, 1, "baseline", Seq(1.0, 2.0, 3.0)) ++
      side(null, 1, "current", Seq(2.0, 4.0)) ++
      side("b", null, "baseline", Seq(1.0, 5.0)) ++
      side("b", null, "current", Seq(1.0)) ++
      // null values in both sides' totals, sorted first, binned to 0
      side("c", 1, "baseline", Seq(null, null, 1.0, 2.0, 2.0, 3.0)) ++
      side("c", 1, "current", Seq(null, 3.0, 4.0)) ++
      // an all-null baseline: null edges, one bin
      side("d", 1, "baseline", Seq(null, null)) ++
      side("d", 1, "current", Seq(null, 1.0, 2.0)) ++
      // no baseline: no PSI row, null KS
      side("e", 1, "current", Seq(1.0, 2.0)) ++
      // no current side: psi null, n_cur 0, null KS
      side("f", 1, "baseline", Seq(1.0, 2.0, 3.0)) ++
      // a side that is neither (or null) counts on no side
      side("g", 1, "other", Seq(7.0)) ++ side("g", 1, null, Seq(8.0)) ++
      side("g", 1, "baseline", Seq(7.0, 9.0)) ++ side("g", 1, "current", Seq(9.0)))
    for (bins <- Seq(2, 10, 20))
      assertSame(df, "v", keys2, bins, s"bins=$bins")
    // the cases above really reach the kernel's branches
    val psiKeys = Drift.psi(df, "v", "side", keys2).select("k1").collect()
      .map(_.getString(0)).toSet
    assert(psiKeys == Set("a", "c", "d", "f", "g"), psiKeys)
    val f = Drift.psi(df, "v", "side", keys2).where(col("k1") === "f").collect()(0)
    assert(f.isNullAt(2) && f.getLong(3) == 0L, f)
    assert(Drift.ks(df, "v", "side", keys2).count() == 9)
  }

  test("NaN on either side, the all-NaN-edges baseline, and +-0.0") {
    val nan = Double.NaN
    val df = frame(
      // {1.0, NaN} baseline: every edge is NaN, every value lands in bin 0
      side("n1", 1, "baseline", Seq(1.0, nan)) ++
      side("n1", 1, "current", Seq(0.5, 1.0, nan, 3.0)) ++
      // NaN only on the current side sorts above every value, in the top bin
      side("n2", 1, "baseline", (1 to 20).map(i => Double.box(i.toDouble))) ++
      side("n2", 1, "current", Seq(nan, nan, 5.0, 25.0)) ++
      // NaN in a larger baseline: the top edges interpolate to NaN
      side("n3", 1, "baseline", (1 to 12).map(i => Double.box(i.toDouble)) :+ Double.box(nan)) ++
      side("n3", 1, "current", Seq(nan, 12.0, 2.0)) ++
      // all-NaN baseline
      side("n4", 1, "baseline", Seq(nan, nan)) ++
      side("n4", 1, "current", Seq(1.0, nan)) ++
      // -0.0 and 0.0 are one value
      side("z", 1, "baseline", Seq(-0.0, 0.0, 0.0, 1.0, -1.0)) ++
      side("z", 1, "current", Seq(-0.0, -0.0, 1.0, 2.0)))
    for (bins <- Seq(2, 10, 20))
      assertSame(df, "v", keys2, bins, s"bins=$bins")
    val n1 = Drift.psi(df, "v", "side", keys2).where(col("k1") === "n1").collect()(0)
    assert(n1.getDouble(2) == 0.0, n1)
  }

  test("a long value column and a single key") {
    val df = spark.range(0, 3000).select(
      (col("id") % 7).cast("string").as("k"),
      when(col("id") % 3 === 0, "current").otherwise("baseline").as("side"),
      (pmod(col("id") * 2654435761L, lit(97L)) +
        when(col("id") % 3 === 0 && col("id") % 7 === 1, lit(20L)).otherwise(lit(0L)))
        .as("n"))
    assert(df.schema("n").dataType == LongType)
    for (bins <- Seq(2, 10, 20))
      assertSame(df, "n", Seq("k"), bins, s"bins=$bins")
  }

  test("keyless: one global row, also over an empty or one-sided input") {
    val df = spark.range(0, 500).select(
      when(col("id") % 4 === 0, "current").otherwise("baseline").as("side"),
      (col("id") % 23).cast("double").as("v"))
    for (in <- Seq(df, df.limit(0), df.where(col("side") === "current"),
        df.where(col("side") === "baseline")))
      assertSame(in, "v", Nil, what = "keyless")
  }

  test("q84 over the vendored sf0.1 events: values tied at a percentile edge") {
    // q84's sided frame (SparkEntry q84_snapshot_value_drift); for the
    // `invalid_role` key the 0.7 edge falls between two equal 59.24 values
    val base = Tables.transcripts(spark, "perfbench/data/sf0.1")
      .where(col("conv_id").isNotNull && col("value").isNotNull)
      .withColumn("d", substring(col("conv_id"), 6, 18).cast("int"))
      .select("role", "value", "d")
    val sided = base.withColumn("side", lit("baseline")).unionByName(
      base.withColumn("value",
          when(pmod(col("d"), lit(3)) === 0, col("value") * 1.25 + 0.5)
            .otherwise(col("value")))
        .withColumn("side", lit("current"))).cache()
    try {
      val edges = DriftReference.psi(sided, "value", "side", Seq("role"))
      assert(edges.count() == 5)
      val census = Drift.sideCensus(sided, "value", "side", Seq("role"))
        .where(col("role") === "invalid_role" && col("__cb") > 0)
      val tied = census.agg(percentile(col("__ksv"), lit(0.7), col("__cb"))).collect()(0)
      assert(tied.getDouble(0) == 59.24, tied)
      for (bins <- Seq(2, 10, 20))
        assertSame(sided, "value", Seq("role"), bins, s"q84 bins=$bins")
    } finally sided.unpersist()
  }

  test("DistributionDrift: the one-collect verdict equals the reference's PSI and KS") {
    import spark.implicits._
    val values = (0 until 600).map(i => ((i * 37) % 101).toDouble / 4)
    val dims = Validator.Context(Map(
      "ref" -> values.toDF("v"),
      "ref_nan" -> (values.map(Double.box) ++ Seq[java.lang.Double](null, Double.NaN))
        .toDF("v"),
      "empty" -> Seq[java.lang.Double](null, null).toDF("v")))
    for {
      (shift, dim) <- Seq((0.0, "ref"), (3.0, "ref"), (10.0, "ref_nan"), (5.0, "empty"))
      bins <- Seq(2, 10)
    } {
      val cur = (0 until 400).map(i => (s"c${i % 9}", i, values(i) + (i % 3) * shift))
        .toDF("conv_id", "turn_idx", "value")
      val c = DistributionDrift("value", dim, "v", maxPsi = 0.0, bins = bins,
        maxKs = Some(0.0))
      val r = Validator.validate(cur, Check("dd", Seq(c)), dims)
      try {
        val sided = dims.dims(dim).select(col("v").cast("double").as("__v"))
          .where(col("__v").isNotNull && !isnan(col("__v")))
          .withColumn("__side", lit("baseline"))
          .unionByName(cur.select(col("value").as("__v"))
            .withColumn("__side", lit("current")))
          .withColumn("__k", lit(1))
        val psiRef = DriftReference.psi(sided, "__v", "__side", Seq("__k"), bins)
          .collect().headOption
        val ksRef = DriftReference.ks(sided, "__v", "__side", Seq("__k"))
          .collect().headOption.filterNot(_.isNullAt(1)).map(_.getDouble(1))
        val what = s"shift=$shift dim=$dim bins=$bins"
        val verdict = r.verdicts.where(col("constraint") === c.name).collect()
        assert(verdict.length == 1, what)
        assert(verdict(0).getAs[Long]("rows") == psiRef.fold(0L)(_.getLong(2)), what)
        val observed = r.violations.where(col("constraint") === c.name)
          .select("bound", "observed").collect()
          .map(v => v.getString(0).take(2) -> v.getString(1)).toMap
        assert(observed.get("ks") == ksRef.filter(_ > 0).map(_.toString), what)
        val psiVal = psiRef.filterNot(_.isNullAt(1)).map(_.getDouble(1))
        assert(observed.contains("ps") == psiVal.exists(_ > 0), what)
        psiVal.filter(_ > 0).foreach(p =>
          closePsi(observed("ps").toDouble, p, what))
      } finally r.unpersistAll()
    }
  }
}
