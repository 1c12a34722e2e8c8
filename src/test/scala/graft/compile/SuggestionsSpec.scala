package graft.compile

import org.apache.spark.sql.functions._
import graft.GraftSuite
import graft.dsl._

class SuggestionsSpec extends GraftSuite {
  import spark.implicits._

  // known-shape fixture: id unique non-null, category a repeating small
  // set, score numeric with one null, text high-cardinality, ghost mostly
  // null
  lazy val df = (0 until 200).map { i =>
    (f"id_$i%04d",
      Seq("alpha", "beta", "gamma")(i % 3),
      if (i == 17) None else Some(i.toDouble / 4),
      s"text payload $i",
      if (i % 10 == 0) Some("rare") else None)
  }.toDF("id", "category", "score", "text", "ghost").cache()

  lazy val suggested = Suggestions.suggest(df)

  test("census: exact per-column counts") {
    val byCol = Suggestions.census(df).map(c => c.column -> c).toMap
    assert(byCol("id").rows == 200 && byCol("id").nulls == 0 &&
      byCol("id").distinct == 200)
    assert(byCol("category").distinct == 3)
    assert(byCol("score").nulls == 1)
    assert(byCol("score").min.contains(0.0) &&
      byCol("score").max.contains(49.75))
    assert(byCol("ghost").nulls == 180)
  }

  test("a typo'd requested column refuses instead of silently profiling the rest") {
    val ex = intercept[IllegalArgumentException](
      Suggestions.census(df, Seq("id", "categorry")))
    assert(ex.getMessage.contains("categorry"))
  }

  test("rules: unique id, small-set category, bounded score, no not_null on mostly-null") {
    val by = suggested.groupBy(_.column).view.mapValues(_.map(_.suggestion).toSet).toMap
    // id_0042-style values fit the snake+counter battery shape; every
    // string column here is PII-clean, so each also locks in no_pii and
    // its observed character-length window
    assert(by("id") == Set("not_null", "unique_key", "matches_regex",
      "no_pii", "length_bounds"))
    assert(suggested.find(s => s.column == "id" &&
      s.suggestion == "matches_regex").get.details
      .contains("^[a-z]+_[0-9]+$"))
    // category is an enum (in_set), NOT a shape; text has spaces — no
    // battery pattern fires
    assert(by("category") == Set("not_null", "in_set", "no_pii",
      "length_bounds"))
    assert(!by("text").contains("matches_regex"))
    assert(by("score") == Set("not_null", "value_bounds"))
    // 90% null: no rate/shape rule fires, but the 20 clean non-null
    // values still support the no_pii and length lock-ins
    assert(by("ghost") == Set("no_pii", "length_bounds"))
    // the locked window is the observed one: id_0000..id_0199 are all 7
    val lenId = suggested.find(s => s.column == "id" &&
      s.suggestion == "length_bounds").get
    assert(lenId.lo.contains(7.0) && lenId.hi.contains(7.0), lenId)
    assert(lenId.constraint == LengthBounds("id", Some(7L), Some(7L)))
    val inSet = suggested.find(s => s.column == "category" &&
      s.suggestion == "in_set").get
    assert(inSet.details.contains("alpha,beta,gamma"))
    val notNullScore = suggested.find(s => s.column == "score" &&
      s.suggestion == "not_null").get
    // 1/200 = 0.005 exactly; ceil to 4dp keeps it
    assert(notNullScore.hi.contains(0.005))
  }

  test("no_pii rule: a column with any battery hit gets NO suggestion") {
    val dirty = Seq(
        (1, "clean prose here", "mail me at a@b.io"),
        (2, "more clean prose", "nothing here"))
      .toDF("n", "clean_txt", "dirty_txt")
    val s = Suggestions.suggest(dirty)
      .groupBy(_.column).view.mapValues(_.map(_.suggestion).toSet).toMap
    assert(s("clean_txt").contains("no_pii"), s)
    assert(!s.getOrElse("dirty_txt", Set.empty).contains("no_pii"), s)
    // the census carries the evidence
    val cen = Suggestions.census(dirty).map(c => c.column -> c).toMap
    assert(cen("clean_txt").piiHits.contains(0L))
    assert(cen("dirty_txt").piiHits.contains(1L))
    assert(cen("n").piiHits.isEmpty)
  }

  test("vector rule: constant-dim clean column suggested; poisoned or ragged columns aren't") {
    // exactly-representable norms (1.0, 1.0, 5.0) so the padded bounds
    // floor/ceil to themselves and the asserts are exact
    val vecs = Seq(
        (1, Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(1.0f)),
        (2, Seq(0.0f, 1.0f), Seq(Float.NaN, 1.0f), Seq(1.0f, 0.0f)),
        (3, Seq(3.0f, 4.0f), Seq(0.0f, 1.0f), Seq(0.0f)))
      .toDF("n", "clean_emb", "poisoned_emb", "ragged_emb")
    val cen = Suggestions.census(vecs).map(c => c.column -> c).toMap
    assert(cen("clean_emb").isVector &&
      cen("clean_emb").dimMin.contains(2L) &&
      cen("clean_emb").dimMax.contains(2L) &&
      cen("clean_emb").vecBadElems.contains(0L))
    // norms 1.0, 1.0, 5.0 exactly (floats exact at these values)
    assert(cen("clean_emb").normMin.contains(1.0) &&
      cen("clean_emb").normMax.contains(5.0))
    assert(cen("poisoned_emb").vecBadElems.contains(1L))
    assert(cen("ragged_emb").dimMin.contains(1L) &&
      cen("ragged_emb").dimMax.contains(2L))
    assert(cen("n").isVector == false && cen("n").dimMin.isEmpty)
    val s = Suggestions.suggest(vecs)
      .groupBy(_.column).view.mapValues(_.map(_.suggestion).toSet).toMap
    assert(s("clean_emb").contains("vector_shape"), s)
    assert(!s.getOrElse("poisoned_emb", Set.empty).contains("vector_shape"), s)
    assert(!s.getOrElse("ragged_emb", Set.empty).contains("vector_shape"), s)
    val vs = Suggestions.suggest(vecs).find(x =>
      x.column == "clean_emb" && x.suggestion == "vector_shape").get
    assert(vs.lo.contains(1.0) && vs.hi.contains(5.0) &&
      vs.details.contains("dim=2"), vs)
    vs.constraint match {
      case VectorShape("clean_emb", Some(2), Some(lo), Some(hi), _) =>
        assert(lo == 1.0 && hi == 5.0)
      case other => fail(s"expected VectorShape, got $other")
    }
    // the suggested vector constraint holds on the data that produced it
    val r = Validator.validate(
      vecs.withColumn("conv", lit("a")),
      graft.dsl.Check("v", Seq(vs.constraint), keyCol = "conv",
        orderCol = "n"))
    assert(r.verdicts.where(!col("pass")).count() == 0)
    r.unpersistAll()
  }

  test("suggested suite passes on the data that produced it") {
    // orderCol must stay OUT of the suggested unique keys (a UniqueKey on
    // the order column rides the rolling window's int-cast fast path)
    val check = Suggestions.toCheck("suggested", suggested,
      keyCol = "category", orderCol = "score", tsCol = "score")
    val r = Validator.validate(df, check, Validator.Context())
    // suggestion bounds are GLOBAL rates; the validator's rate verdicts
    // are per-partition, so the one partition holding the lone null
    // exceeds 0.005 locally — exactly the localization verdicts exist
    // for. Everything else passes everywhere.
    assert(r.verdicts.where(!col("pass") &&
      col("constraint") =!= "not_null(score)").count() == 0)
    assert(r.violations.where(col("constraint") =!= "not_null(score)")
      .count() == 0)
  }

  test("render -> parse round-trips the suggested suite") {
    val check = Suggestions.toCheck("suggested", suggested)
    val yaml = SuiteConfig.render(check)
    assert(SuiteConfig.parse(yaml) == check)
  }

  // shared with the completeness ratchet below: every ADT type must
  // appear here (TextEquals rides its own test — Column equality isn't
  // structural)
  private lazy val allTypes = Check("everything", Seq(
      NotNull("a", 0.01),
      InSet("a", Seq("x", "y")),
      MatchesRegex("a", "^x"),
      ValueBounds("v", Some(0.0), None),
      ExpectedSchema(Seq("a" -> "string", "v" -> "double"), allowExtra = false),
      UniqueKey(Seq("a", "b")),
      ReferentialIntegrity("a", "dim", "k", nullOk = false,
        broadcastDim = false, keyCensus = true),
      AsOfIntegrity("a", "dim", "k", "ts", "hour", nullOk = false,
        broadcastDim = false),
      MinRows(7),
      MeanBetween("v", 0, 1),
      StddevBetween("v", 0, 1),
      QuantileBetween("v", 0.5, 0, 1, approx = false),
      DistinctCountBetween("a", 1, 10),
      MaxKeyShare("a", 0.01, 512),
      RobustZ("v", 4.0, approx = false),
      IqrOutliers("v", 1.5, approx = false),
      GlobalZ("v", 2.5),
      RollingZDrift("v", 12, 2.5),
      MaxSessionGap(60),
      ContiguousIndex(1),
      DistributionDrift("v", "dim", "k", 0.1, 5, Some(0.3)),
      MaxDuplicateRate("a", 0.2, normalized = true, approx = true),
      Compliance("rule", "v >= 0", 0.1),
      ParsableAs("a", "int", 0.05),
      NoPii("a", Seq("email", "card"), 0.02),
      MaxStaleness("t", "2024-03-01T06:00:00", 86400),
      MaxNearDuplicateRate("a", 0.1, 0.8, 4, 64, 16, 0.5),
      MinTextQuality("a", 0.4, 0.02),
      LanguageShare("a", "en", 0.5, 1.0),
      UniquenessBetween(Seq("a", "b"), 0.9, 1.0),
      DistinctnessBetween(Seq("a"), 0.1, 0.9),
      CorrelationBetween("v", "w", 0.5, 1.0),
      EntropyBetween("a", 0.1, 2.0),
      MutualInformationBetween("a", "b", 0.0, 1.0),
      AllowedTransitions("a", Seq("x" -> "y", "y" -> "x"), Some(Seq("x"))),
      Monotonic("v", strict = true),
      NoConsecutiveRepeats("a"),
      FunctionalDependency(Seq("a", "b"), "c"),
      TurnCountBetween(2L, 5000L),
      ValueShareBetween("role", "user", 0.1, 0.9),
      TimeBucketCoverage("t", "day", 5L),
      LengthBounds("a", Some(2L), Some(400L), 0.01),
      LengthBounds("a", None, Some(400L)), // absent lo stays absent
      VectorShape("e", Some(64), Some(0.5), Some(1.5), 0.01),
      VectorShape("e", None, None, Some(2.0)), // absent legs stay absent
      TurnRateDrift("30 minutes", 12, "classical", 5, "iqr", 1.5, 0.1, 0.4)
    ), keyCol = "k", orderCol = "o", tsCol = "t")

  test("render -> parse round-trips every constraint type") {
    assert(SuiteConfig.parse(SuiteConfig.render(allTypes)) == allTypes)
  }

  test("render writes every constraint type byte-identical to the golden") {
    // pins the written format: key order, number forms and every default
    // written out explicitly
    val check = allTypes.copy(constraints = allTypes.constraints :+
      TextEquals("text", org.apache.spark.sql.GraftBridge.column(
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(
          "concat('turn_', cast(turn_idx as string))"))))
    val golden = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/goldens/suite_all_types.yaml")),
      "UTF-8")
    assert(SuiteConfig.render(check) == golden)
  }

  test("the round-trip fixture covers EVERY type in the constraint ADT (completeness ratchet)") {
    // a new constraint type added to the ADT without render/parse (or
    // without joining this fixture) fails HERE, not hours into a config
    // run — the source file is the authoritative type list
    val src = scala.io.Source.fromFile(
      "src/main/scala/graft/dsl/Constraints.scala", "UTF-8")
    val declared = try "final case class (\\w+)".r
      .findAllMatchIn(src.mkString).map(_.group(1)).toSet - "Check"
    finally src.close()
    assert(declared.size >= 40, s"suspicious ADT census: $declared")
    val covered = allTypes.constraints.map(_.getClass.getSimpleName).toSet +
      "TextEquals" // its own test below (Column equality isn't structural)
    assert((declared -- covered).isEmpty,
      s"ADT types missing from the round-trip fixture: ${declared -- covered}")
  }

  test("text_equals renders to SQL that parses back to the same expression") {
    val c = TextEquals("text", concat(lit("text payload "), col("idx")))
    val yaml = SuiteConfig.render(Check("t", Seq(c)))
    SuiteConfig.parse(yaml).constraints.head match {
      case TextEquals(col2, expected2) =>
        assert(col2 == "text")
        // Column equality isn't structural; compare by re-rendered SQL
        assert(org.apache.spark.sql.GraftBridge.expression(expected2).sql ==
          org.apache.spark.sql.GraftBridge.expression(c.expected).sql)
      case other => fail(s"expected TextEquals, got $other")
    }
  }
}
