package graft.compile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSuite
import graft.dsl.{Check, RollingZDrift, UniqueKey}
import graft.sources.{Tables, TranscriptGen}

/** The sorted rolling-z kernel ([[Validator.rollingZViolations]], through
  * `validate()`) against the window-chain reference
  * ([[RollingZReference]]): violations and verdicts of RollingZDrift plus
  * the fused UniqueKey(conv_id, turn_idx) must be equal as multisets
  * (`exceptAll` both ways, 0/0) across skews, windows 1/2/24, value
  * types, nulls and non-finite values, a constant series, and a
  * mega-conversation split into 512-turn chunks.
  */
class RollingZDifferentialSpec extends GraftSuite {

  /** Bench-style input: the turn gap from a lag window over (conv, turn). */
  private def withGap(t: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    t.withColumn("turn_gap_s",
      (unix_timestamp(col("ts")) - lag(unix_timestamp(col("ts")), 1).over(w))
        .cast("double"))
  }

  private def hashMod(salt: Int, m: Int): Column =
    pmod(xxhash64(lit(salt), col("conv_id"), col("turn_idx")), lit(m.toLong))

  /** Values 0..99 with a 10,000 spike on about 1 turn in 37. */
  private def spiky(t: DataFrame): DataFrame = t.withColumn("v",
    (hashMod(1, 100) + when(hashMod(2, 37) === 0, 10000).otherwise(0))
      .cast("double"))

  private lazy val gen = withGap(TranscriptGen.generate(spark, nConvs = 240,
    baseTurns = 40)).cache()
  private lazy val dense = withGap(TranscriptGen.generate(spark, nConvs = 240,
    baseTurns = 40, dupRate = 97)).cache()

  /** Window 1 never flags (no sample deviation); at window 2 every |z| is
    * sqrt(1/2) up to rounding, so this threshold splits pairs by the last
    * bits of the z-score; window 24 flags real spikes.
    */
  private val windows = Seq(1 -> 3.0, 2 -> math.sqrt(0.5), 24 -> 3.0)

  /** Asserts kernel == reference; returns (rolling-z rows, duplicate-key
    * rows) compared. `chunk` runs the kernel below `validate()`, which
    * always uses the default chunk.
    */
  private def assertSame(df: DataFrame, c: RollingZDrift,
      chunk: Option[Int] = None): (Long, Long) = {
    val check = Check("rz", Seq(UniqueKey(Seq("conv_id", "turn_idx")), c))
    val (kv, kd, cached) = chunk match {
      case None =>
        val r = Validator.validate(df, check)
        (r.violations, r.verdicts, r.cached)
      case Some(n) =>
        val v = Validator.rollingZViolations(df, check, n).reduce(_ unionByName _)
        (v, Validator.conversationVerdicts(df, "conv_id",
          RollingZReference.verdictConstraints(check), v), Nil)
    }
    val (rv, rd) = RollingZReference.validate(df, check,
      chunk.getOrElse(graft.series.Windows.DefaultChunk))
    try {
      for ((what, a, b) <- Seq(("violations", kv, rv), ("verdicts", kd, rd))) {
        def tagged(d: DataFrame, side: String) =
          d.select(lit(side).as("side"), struct(d.columns.map(col): _*).as("row"))
        val diff = tagged(a.exceptAll(b), "kernel-only")
          .union(tagged(b.exceptAll(a), "reference-only"))
          .limit(10).collect()
        assert(diff.isEmpty, s"$c $what differ:\n${diff.mkString("\n")}")
      }
      (kv.where(col("constraint").startsWith("rolling_z")).count(),
        kv.where(col("constraint").startsWith("unique(")).count())
    } finally cached.foreach(_.unpersist())
  }

  /** Runs the comparisons concurrently: each is a chain of small jobs. */
  private def allSame(df: DataFrame, configs: Seq[RollingZDrift],
      chunk: Option[Int] = None): Seq[(Long, Long)] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(configs.map(c =>
      Future(assertSame(df, c, chunk)))), Duration.Inf)
  }

  private def perWindow(column: String) =
    windows.map { case (w, t) => RollingZDrift(column, w, t) }

  /** non-vacuous: rolling flags and duplicate keys were both compared */
  private def assertFound(found: Seq[(Long, Long)]): Unit =
    assert(found.map(_._1).sum > 0 && found.map(_._2).sum > 0, found)

  test("TranscriptGen, default skew: turn gap at windows 1, 2 and 24") {
    val found = allSame(gen, perWindow("turn_gap_s"))
    assert(found.head._1 == 0, s"window 1 flagged: $found")
    assertFound(found)
  }

  test("TranscriptGen, dense duplicate keys (dupRate 97): windows 1, 2 and 24") {
    assertFound(allSame(dense, perWindow("turn_gap_s")))
  }

  test("vendored sf0.01 transcripts: value at windows 1, 2 and 24") {
    // row_number turn indices: no duplicate keys, only rolling flags
    val t = Tables.transcripts(spark, sfTiny.replace("sf0.001", "sf0.01"))
    val found = allSame(t, perWindow("value"))
    assert(found.map(_._1).sum > 0 && found.forall(_._2 == 0), found)
  }

  test("value types: int, long, float, double and decimal(10,2)") {
    val base = spiky(TranscriptGen.generate(spark, nConvs = 120,
      baseTurns = 40, dupRate = 97)).cache()
    try {
      // decimal values carry two fractional digits, so the decimal mean
      // is not the double mean
      val typed = base
        .withColumn("v_int", col("v").cast("int"))
        .withColumn("v_long", col("v").cast("long"))
        .withColumn("v_float", (col("v") / 8).cast("float"))
        .withColumn("v_dec", ((col("v") * 100 + hashMod(3, 100)) / 100)
          .cast("decimal(10,2)"))
      val configs = for {
        column <- Seq("v_int", "v_long", "v_float", "v", "v_dec")
        c <- perWindow(column).tail
      } yield c
      val found = allSame(typed, configs)
      assertFound(found)
      // every type flagged its own spikes at window 24
      assert(found.grouped(2).forall(_.last._1 > 0), found)
    } finally base.unpersist()
  }

  test("degenerate: null conv_id, null turn_idx, null/NaN/±Inf values") {
    val t = spiky(TranscriptGen.generate(spark, nConvs = 120,
      baseTurns = 40, dupRate = 97))
      .withColumn("v", when(hashMod(4, 31) === 0, lit(null).cast("double"))
        .when(hashMod(5, 37) === 0, lit(Double.NaN))
        .when(hashMod(6, 41) === 0, lit(Double.PositiveInfinity))
        .when(hashMod(7, 43) === 0, lit(Double.NegativeInfinity))
        .otherwise(col("v")))
      .withColumn("turn_idx", when(hashMod(8, 53) === 0, lit(null))
        .otherwise(col("turn_idx")))
      .withColumn("conv_id", when(col("conv_id") < "conv_00000010", lit(null))
        .otherwise(col("conv_id")))
      .cache()
    try assertFound(allSame(t, perWindow("v")))
    finally t.unpersist()
  }

  test("degenerate: a constant series has std 0 and flags nothing") {
    val flat = TranscriptGen.generate(spark, nConvs = 60, baseTurns = 40,
      dupRate = 97).withColumn("v", lit(7.0))
    val found = allSame(flat, perWindow("v"))
    assert(found.forall(_._1 == 0) && found.exists(_._2 > 0), found)
  }

  test("mega-conversation at chunk 512: halos carry the trailing windows") {
    // conversation 0 is an 8,000-turn mega-thread: 16 chunks of 512
    val t = spiky(TranscriptGen.generate(spark, nConvs = 101,
      baseTurns = 40, megaFactor = 200, dupRate = 97)).cache()
    try {
      val found = allSame(t, perWindow("v"), chunk = Some(512))
      assertFound(found)
      // flags in the first 23 turns of a later chunk need the halo
      val check = Check("rz", Seq(RollingZDrift("v", 24, 3.0)))
      val headFlags = Validator.rollingZViolations(t, check, 512).head
        .where(col("turn_idx") >= 512 && pmod(col("turn_idx"), lit(512)) < 23)
        .count()
      assert(headFlags > 0, "no flag depended on a halo")
    } finally t.unpersist()
  }
}
