package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.compile.Validator
import graft.dsl._
import graft.sources.{Tables, TranscriptGen}

/** SURVEY §5 test-plan item 3: the flagship suite's END-TO-END verdict and
  * violation artifacts, committed as goldens and asserted byte-stable under
  * partitioning changes. Any future semantic drift in the suite becomes a
  * visible diff in `src/test/resources/goldens/e2e_*.csv`. A second suite
  * (`e2e_global_*.csv`) pins the globally-verdicted families: every
  * one-row census family, the graded-rate `[global]` verdicts, the key
  * share guard, the stats verdicts and a schema mismatch. Both suites
  * also pin the output schemas, nullability included.
  *
  * Doubles are rendered at 1e-6 (aggregation order across partitions may
  * legally differ in the last ulp); everything else renders verbatim.
  * Regenerate with `GRAFT_REGEN_GOLDENS=1 sbt "testOnly graft.GoldenE2eSpec"`.
  */
class GoldenE2eSpec extends GraftSuite {

  private val goldenDir = "src/test/resources/goldens"

  private lazy val fixture =
    TranscriptGen.generate(spark, nConvs = 120, baseTurns = 48)

  private lazy val dims = Validator.Context(Map(
    "role_dim" -> Tables.roleDim(spark),
    "tool_dim" -> Tables.toolDim(spark)))

  // the flagship transcript suite (ValidatorSpec's shape) + the r5
  // declarative session-gap constraint
  private lazy val suite = Check("transcripts", Seq(
    NotNull("conv_id"),
    NotNull("text"),
    UniqueKey(Seq("conv_id", "turn_idx")),
    ReferentialIntegrity("role", "role_dim", "role"),
    ReferentialIntegrity("tool", "tool_dim", "tool"),
    TextEquals("text", TranscriptGen.textExpr(col("conv_id"), col("turn_idx"))),
    MinRows(1000),
    DistinctCountBetween("conv_id", 100, 150),
    MatchesRegex("conv_id", "^conv_[0-9]{8}$"),
    ValueBounds("turn_idx", Some(0), None),
    MaxSessionGap(7200L),
    TurnRateDrift(bucket = "10 minutes", period = 6, method = "stl",
      seasonal = 7, residThreshold = 3.0)))

  /** Sorted, stably-formatted lines: the byte content of a golden file. */
  private def render(df: DataFrame): Seq[String] = {
    val fields = df.schema.fields
    df.collect().map { row =>
      fields.zipWithIndex.map { case (f, i) =>
        if (row.isNullAt(i)) "NULL"
        else f.dataType match {
          // Locale.ROOT: golden bytes must not depend on the host JVM's
          // default locale (comma-decimal locales would corrupt them)
          case DoubleType =>
            "%.6f".formatLocal(java.util.Locale.ROOT, row.getDouble(i))
          case _ => String.valueOf(row.get(i))
        }
      }.mkString(",")
    }.toSeq.sorted
  }

  private def check(name: String, lines: Seq[String]): Unit = {
    val path = Paths.get(s"$goldenDir/$name")
    if (sys.env.get("GRAFT_REGEN_GOLDENS").contains("1")) {
      Files.write(path,
        (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      info(s"regenerated $path (${lines.size} lines)")
    } else {
      assert(Files.exists(path), s"golden $path missing — regen with " +
        "GRAFT_REGEN_GOLDENS=1")
      val want = new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
        .split("\n").filter(_.nonEmpty).toSeq
      assert(lines == want, s"$name drifted from the committed golden " +
        s"(${lines.size} vs ${want.size} lines)")
    }
  }

  test("flagship suite verdicts + violations match the committed goldens") {
    val r = Validator.validate(fixture, suite, dims)
    assertSchemas(r, Seq("conv_id", "turn_idx", "observed"),
      keyedVerdictColumns)
    check("e2e_violations.csv", render(r.violations))
    check("e2e_verdicts.csv", render(r.verdicts))
    r.unpersistAll()
  }

  private val violationColumns = Seq("constraint" -> StringType,
    "conv_id" -> StringType, "turn_idx" -> IntegerType,
    "column" -> StringType, "observed" -> StringType,
    "bound" -> StringType, "severity" -> StringType)
  private val verdictColumns = Seq("partition_key" -> StringType,
    "constraint" -> StringType, "pass" -> BooleanType, "rows" -> LongType,
    "violations" -> LongType, "violation_rate" -> DoubleType)
  private val allViolationColumns = violationColumns.map(_._1)
  // the verdict columns that are nullable once any census family's
  // verdict joins the per-conversation ones
  private val keyedVerdictColumns =
    Seq("partition_key", "constraint", "pass", "violation_rate")

  private def schema(columns: Seq[(String, DataType)],
      nullable: Seq[String]): StructType =
    StructType(columns.map { case (n, t) =>
      StructField(n, t, nullable.contains(n)) })

  private def assertSchemas(r: Validator.Result,
      violationsNullable: Seq[String], verdictsNullable: Seq[String]): Unit = {
    assert(r.violations.schema == schema(violationColumns, violationsNullable),
      r.violations.schema.treeString)
    assert(r.verdicts.schema == schema(verdictColumns, verdictsNullable),
      r.verdicts.schema.treeString)
  }

  // one hand-built table (3 conversations of 18/10/8 turns) whose columns
  // make each global family both pass and fail somewhere; one partition,
  // so aggregate merge order (and every observed double) is fixed
  private lazy val globalFixture: DataFrame = {
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-06-01T00:00:00Z")
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank",
      "the quick brown fox jumps over the lazy dog near the river bank",
      "the quick brown fox jumped over the lazy dog near the river bank",
      "der schnelle braune fuchs springt über den faulen hund am fluss",
      "please mail me at someone@example.com about the quarterly report",
      "zzzz qqqq xxxx",
      "a short note about the weather and the garden in the spring",
      "call 555-867-5309 if the delivery does not arrive on time")
    val rows = Seq(18, 10, 8).zipWithIndex.flatMap { case (n, c) =>
      (0 until n).map(i => (c, i))
    }.zipWithIndex.map { case ((c, i), g) =>
      (s"c$c", i,
        Seq("user", "assistant", "user", "system", "user", "bad")(g % 6),
        if (g == 35) null else texts(g % texts.size),
        if (g % 7 == 3) s"x$g" else (g * 3).toString,
        if (g % 5 == 0) null else f"tool_${g % 20}%02d",
        (g % 10).toDouble + (if (g == 20) 60.0 else 0.0),
        2.0 * (g % 10) + 1.0,
        java.sql.Timestamp.from(
          t0.plusSeconds(600L * (if (g < 18) g else g + 18))),
        if (g % 9 == 4) Seq(1.0f, 2.0f, 3.0f) else Seq(0.6f, 0.8f))
    }
    rows.toDF("conv_id", "turn_idx", "role", "text", "num_str", "tool",
      "value", "value2", "ts", "emb").coalesce(1)
  }

  private lazy val globalDims = Validator.Context(Map(
    "blessed" -> spark.range(10).select(col("id").cast("double").as("v"))))

  private lazy val globalSuite = Check("global", Seq(
    ExpectedSchema(Seq("conv_id" -> "string", "value" -> "string")),
    // stats verdicts
    MinRows(10),
    MeanBetween("value", 0.0, 100.0),
    StddevBetween("value", 0.0, 1.0),
    QuantileBetween("value", 0.5, 0.0, 100.0),
    DistinctCountBetween("role", 1, 3),
    NotNull("tool", maxNullRate = 0.5),
    // graded-rate families, two of them on num_str
    Compliance("small", "value < 9", maxFailRate = 0.1),
    ParsableAs("num_str", "int", maxFailRate = 0.2),
    LengthBounds("num_str", hi = Some(2L), maxFailRate = 0.05),
    NoPii("text", maxFailRate = 0.5),
    MinTextQuality("text", 0.3, maxFailRate = 0.5),
    VectorShape("emb", dim = Some(2), maxFailRate = 0.1),
    InSet("role", Seq("user", "assistant", "system"), maxFailRate = 0.1),
    MatchesRegex("conv_id", "^c[0-9]$", maxFailRate = 0.01),
    ValueBounds("value", Some(0.0), Some(50.0), maxFailRate = 0.2),
    // rate 0: per-conversation hard fail only, no [global] row
    InSet("tool", (0 until 16).map(i => f"tool_$i%02d")),
    MaxKeyShare("conv_id", maxFrac = 0.4, k = 8),
    // one-row families
    DistributionDrift("value", "blessed", "v"),
    DistributionDrift("value2", "blessed", "v", maxPsi = 0.1,
      maxKs = Some(0.1)),
    MaxDuplicateRate("text", 0.0),
    MaxDuplicateRate("conv_id", 1.0, normalized = true),
    TimeBucketCoverage("ts", "hour", 4L),
    MaxNearDuplicateRate("text", 0.0, threshold = 0.5, shingleK = 2,
      numHashes = 8, bands = 4, estJaccardMin = 0.1),
    CorrelationBetween("value", "value2", 0.9, 1.0),
    CorrelationBetween("turn_idx", "value2"),
    MaxStaleness("ts", "2024-06-01T12:00:00", 3600L),
    MaxStaleness("ts", "2024-06-01T08:00:00", 86400L),
    LanguageShare("text", "de", lo = 0.5),
    LanguageShare("text", "en"),
    ValueShareBetween("role", "user", 0.9, 1.0),
    ValueShareBetween("role", "system", 0.0, 0.5),
    EntropyBetween("role", 0.0, 0.5),
    EntropyBetween("conv_id"),
    UniquenessBetween(Seq("text"), 1.0, 1.0),
    DistinctnessBetween(Seq("conv_id", "turn_idx"), 0.5, 1.0),
    MutualInformationBetween("role", "conv_id", 0.0, 0.01),
    MutualInformationBetween("role", "text")))

  test("global-verdict families match the committed goldens") {
    val r = Validator.validate(globalFixture, globalSuite, globalDims)
    assertSchemas(r, allViolationColumns, keyedVerdictColumns)
    check("e2e_global_violations.csv", render(r.violations))
    check("e2e_global_verdicts.csv", render(r.verdicts))
    r.unpersistAll()
  }

  test("schema nullability follows the families a suite holds") {
    // row flags alone leave constraint/column/bound/severity non-null; a
    // census family's violation row, or any declared schema, makes every
    // column nullable. Stats-row verdicts keep partition_key non-null; a
    // census family's verdict does not.
    val rowOnly = Seq(NotNull("tool"), InSet("role", Seq("user")))
    val rowViolationColumns = Seq("conv_id", "observed")
    for ((extra, violationsNullable, verdictsNullable) <- Seq(
      (Seq(MinRows(10), NotNull("text", 0.5),
          Compliance("small", "value < 9", maxFailRate = 0.1)),
        rowViolationColumns, keyedVerdictColumns.tail),
      (Seq(MaxDuplicateRate("conv_id", 1.0)),
        rowViolationColumns, keyedVerdictColumns),
      (Seq(MaxDuplicateRate("text", 0.0)),
        allViolationColumns, keyedVerdictColumns),
      (Seq(MaxKeyShare("conv_id", 0.4, 8)),
        rowViolationColumns, keyedVerdictColumns),
      (Seq(ExpectedSchema(Seq("value" -> "double"))),
        allViolationColumns, keyedVerdictColumns.tail))) {
      val r = Validator.validate(globalFixture, Check("n", rowOnly ++ extra),
        globalDims)
      withClue(extra.map(_.name).mkString(",")) {
        assertSchemas(r, violationsNullable, verdictsNullable)
      }
      r.unpersistAll()
    }
  }

  test("the artifact is byte-stable under an input repartition") {
    val r7 = Validator.validate(fixture.repartition(7), suite, dims)
    check("e2e_violations.csv", render(r7.violations))
    check("e2e_verdicts.csv", render(r7.verdicts))
    r7.unpersistAll()
  }
}
