package graft.skew

import org.apache.spark.sql.functions._
import graft.GraftSuite
import graft.compile.Validator
import graft.dsl._
import graft.sources.{Tables, TranscriptGen}

/** SURVEY §5.6 scale/skew smoke: a mega-conversation must not change
  * verdicts and must not own a partition after salting.
  */
class SkewSpec extends GraftSuite {
  import spark.implicits._

  test("salting bounds per-reducer rows for the mega key") {
    val t = TranscriptGen.generate(spark, nConvs = 101, baseTurns = 40,
      megaFactor = 100).cache() // conv 0 and 100? (0 and 100 % 101 → only 0)
    val counts = t.groupBy("conv_id").count()
    val maxConv = counts.agg(max("count")).collect()(0).getLong(0)
    val meanConv = counts.agg(avg("count")).collect()(0).getDouble(0)
    assert(maxConv > 20 * meanConv, "fixture must be skewed")

    val salted = Salting.saltedRepartition(t, "conv_id", "turn_idx",
      salts = 16, numPartitions = 16)
    val perPartition = salted
      .withColumn("pid", spark_partition_id())
      .groupBy("pid").count()
      .agg(max("count")).collect()(0).getLong(0)
    val total = t.count()
    // no partition holds more than ~3x its fair share
    assert(perPartition < 3.0 * total / 16,
      s"partition holds $perPartition of $total rows")
  }

  test("verdicts identical with and without the mega-conversation's skew handling") {
    val t = TranscriptGen.generate(spark, nConvs = 50, baseTurns = 30,
      megaFactor = 60)
    val check = Check("skew", Seq(
      UniqueKey(Seq("conv_id", "turn_idx")),
      ReferentialIntegrity("role", "role_dim", "role")))
    val ctx = Validator.Context(Map("role_dim" -> Tables.roleDim(spark)))
    val a = Validator.validate(t.repartition(4), check, ctx)
    val b = Validator.validate(
      Salting.saltedRepartition(t, "conv_id", "turn_idx", 8, 16)
        .drop("_salt"), check, ctx)
    val va = a.violations.orderBy("constraint", "conv_id", "turn_idx").collect().toSeq
    val vb = b.violations.orderBy("constraint", "conv_id", "turn_idx").collect().toSeq
    assert(va == vb)
  }

  test("chunked rolling window bounds per-task rows for a mega-conversation " +
      "with verdicts unchanged") {
    import graft.compile.RollingZReference
    // one mega conversation (megaFactor 200 ≫ the default 50) + normals;
    // dupRate huge → dense unique turn_idx so chunked == plain exactly
    val t = TranscriptGen.generate(spark, nConvs = 101, baseTurns = 40,
      megaFactor = 200, dupRate = Int.MaxValue)
      .withColumn("v", pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(1000))
        .cast("double"))
    val chunk = 512 // mega conv has 8000 turns → must spread over ≥15 chunks
    val bounded = RollingZReference.boundedRollingStats(t, "v", 24, "conv_id",
      "turn_idx", chunk = chunk)
    // per-(key, chunk) group never exceeds chunk + window - 1 rows
    val grp = t.groupBy(col("conv_id"), floor(col("turn_idx").cast("long") / chunk))
      .count().agg(max("count")).collect()(0).getLong(0)
    assert(grp <= chunk, s"home-chunk group has $grp rows")

    // identical to the plain unbounded window on dense input
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      .rowsBetween(-23, 0)
    val plain = t
      .withColumn("v_n", count(col("v")).over(w))
      .withColumn("v_rolling_mean", avg(col("v")).over(w))
      .withColumn("v_rolling_std", stddev_samp(col("v")).over(w))
    val key = Seq("conv_id", "turn_idx")
    val a = bounded.select("conv_id", "turn_idx", "v_n", "v_rolling_mean", "v_rolling_std")
      .orderBy(key.map(col): _*).collect().toSeq
    val b = plain.select("conv_id", "turn_idx", "v_n", "v_rolling_mean", "v_rolling_std")
      .orderBy(key.map(col): _*).collect().toSeq
    assert(a.size == b.size)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getLong(2) == y.getLong(2), s"n differs at ${x.get(0)},${x.get(1)}")
      Seq(3, 4).foreach { i =>
        val (xa, ya) = (x.isNullAt(i), y.isNullAt(i))
        assert(xa == ya, s"nullity differs at ${x.get(0)},${x.get(1)} col $i")
        if (!xa) assert(math.abs(x.getDouble(i) - y.getDouble(i)) < 1e-9,
          s"value differs at ${x.get(0)},${x.get(1)} col $i")
      }
    }
  }

  test("mega-key census finds exactly the mega conversations") {
    val t = TranscriptGen.generate(spark, nConvs = 300, baseTurns = 40,
      megaFactor = 50)
    val mega = Salting.megaKeys(t, "conv_id", factor = 10.0)
      .select("conv_id").as[String].collect().toSet
    // generator: conv_idx % 101 == 0 → 0, 101, 202
    assert(mega == Set("conv_00000000", "conv_00000101", "conv_00000202"))
  }
}
