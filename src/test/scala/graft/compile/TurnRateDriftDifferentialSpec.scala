package graft.compile

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSuite
import graft.dsl.{Check, TurnRateDrift}
import graft.sources.{Tables, TranscriptGen}

/** The single grouped drift kernel ([[Validator.turnRateDrift]]) against
  * the frame-chain reference ([[TurnRateDriftReference]]): violations and
  * verdicts must be equal as multisets (`exceptAll` both ways, 0/0) for
  * every decomposition × residual method, on generated transcripts at
  * default and dense-burst skew, on the vendored sf0.01 transcripts, and
  * on degenerate inputs.
  */
class TurnRateDriftDifferentialSpec extends GraftSuite {

  private lazy val gen = TranscriptGen.generate(spark, nConvs = 240,
    baseTurns = 40).cache()
  private lazy val burst = TranscriptGen.generate(spark, nConvs = 240,
    baseTurns = 40, burstRate = 3).cache()

  private val methods = for {
    m <- Seq("stl", "classical")
    r <- Seq("iqr", "zscore", "threshold")
  } yield (m, r)

  private def residThreshold(r: String) = r match {
    case "iqr" => 1.5
    case "zscore" => 2.0
    case "threshold" => 2.0
  }

  /** Asserts kernel == reference; returns (violation rows, failing verdicts). */
  private def assertSame(df: DataFrame, c: TurnRateDrift,
      keyCol: String = "conv_id"): (Long, Long) = {
    val check = Check("drift", Seq(c), keyCol = keyCol)
    val (kv, kd, kc) = Validator.turnRateDrift(df, check, c)
    val (rv, rd, rc) = TurnRateDriftReference.turnRateDrift(df, check, c)
    try {
      for ((what, a, b) <- Seq(("violations", kv, rv), ("verdicts", kd, rd))) {
        def tagged(d: DataFrame, side: String) =
          d.select(lit(side).as("side"), struct(d.columns.map(col): _*).as("row"))
        val diff = tagged(a.exceptAll(b), "kernel-only")
          .union(tagged(b.exceptAll(a), "reference-only"))
          .limit(10).collect()
        assert(diff.isEmpty, s"$c $what differ:\n${diff.mkString("\n")}")
      }
      (kv.count(), kd.where(!col("pass")).count())
    } finally (kc ++ rc).foreach(_.unpersist())
  }

  /** Runs the comparisons concurrently: each is a chain of small jobs, so
    * overlapping them keeps the local executor's cores busy.
    */
  private def allSame(df: DataFrame,
      configs: Seq[TurnRateDrift]): Seq[(Long, Long)] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(configs.map(c => Future(assertSame(df, c)))),
      Duration.Inf)
  }

  /** One config per decomposition × residual method. */
  private def perMethod(f: (String, String) => TurnRateDrift) =
    methods.map { case (m, r) => f(m, r) }

  test("TranscriptGen, default skew: stl/classical x iqr/zscore/threshold, period 7") {
    val found = allSame(gen, perMethod((m, r) => TurnRateDrift(
      bucket = "1 minute", period = 7, method = m, residMethod = r,
      residThreshold = residThreshold(r), psiThreshold = 0.1,
      ksThreshold = 0.3)))
    // non-vacuous: anomalies and failing verdicts were actually compared
    assert(found.map(_._1).sum > 0 && found.map(_._2).sum > 0, found)
  }

  test("TranscriptGen, dense bursts: stl/classical x iqr/zscore/threshold, period 3") {
    val found = allSame(burst, perMethod((m, r) => TurnRateDrift(
      bucket = "30 seconds", period = 3, method = m, residMethod = r,
      residThreshold = residThreshold(r))))
    assert(found.map(_._1).sum > 0 && found.map(_._2).sum > 0, found)
  }

  test("vendored sf0.01 transcripts: 1 hour/24 and 10 minutes/6") {
    // the vendored sf0.01 tables sit next to the sf0.001 ones
    val t = Tables.transcripts(spark, sfTiny.replace("sf0.001", "sf0.01"))
    allSame(t, for {
      (bucket, period) <- Seq(("1 hour", 24), ("10 minutes", 6))
      c <- perMethod((m, r) => TurnRateDrift(bucket = bucket,
        period = period, method = m, residMethod = r, residThreshold = 3.0))
    } yield c)
  }

  test("degenerate: empty table") {
    val found = allSame(gen.where(lit(false)), perMethod((m, r) =>
      TurnRateDrift(bucket = "1 minute", period = 7, method = m,
        residMethod = r)))
    assert(found.forall(_ == ((0L, 0L))), found)
  }

  test("degenerate: a null conv_id group is never scored — one passing row") {
    // conversations 0-19 lose their key: one null group of 20 merged series
    val nulled = gen.withColumn("conv_id",
      when(col("conv_id") < "conv_00000020", lit(null)).otherwise(col("conv_id")))
    val configs = perMethod((m, r) => TurnRateDrift(bucket = "1 minute",
      period = 7, method = m, residMethod = r,
      residThreshold = residThreshold(r)))
    allSame(nulled, configs)
    for (c <- configs) {
      val (_, verdicts, cached) =
        Validator.turnRateDrift(nulled, Check("drift", Seq(c)), c)
      val nullRow = verdicts.where(col("partition_key").isNull).collect()
      assert(nullRow.length == 1, c)
      assert(nullRow.head.getAs[Boolean]("pass") &&
        nullRow.head.getAs[Long]("violations") == 0L, c)
      cached.foreach(_.unpersist())
    }
  }

  test("degenerate: single-bucket conversations") {
    // every turn of a conversation lands in the same bucket
    val flat = gen.withColumn("ts", to_timestamp(lit("2024-03-01 00:00:00")))
    val found = allSame(flat, perMethod((m, r) => TurnRateDrift(
      bucket = "1 hour", period = 7, method = m, residMethod = r)))
    assert(found.forall(_ == ((0L, 0L))), found)
  }

  test("degenerate: every series shorter than 2 x period") {
    allSame(gen, perMethod((m, r) => TurnRateDrift(bucket = "1 hour",
      period = 24, method = m, residMethod = r,
      residThreshold = residThreshold(r))))
  }

  test("degenerate: one mega-conversation") {
    // conversation 0 is a 50x mega-thread (2,000 turns, ~2,000 buckets)
    val mega = TranscriptGen.generate(spark, nConvs = 1, baseTurns = 40,
      burstRate = 1)
    allSame(mega, perMethod((m, r) => TurnRateDrift(bucket = "1 minute",
      period = 7, method = m, residMethod = r,
      residThreshold = residThreshold(r))))
  }
}
