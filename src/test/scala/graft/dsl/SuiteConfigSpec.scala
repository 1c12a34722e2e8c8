package graft.dsl

import graft.GraftSuite

/** The config-file face of the DSL: every constraint type parses to the
  * exact case-class value (defaults included), YAML and JSON are the same
  * document, and typos fail fast instead of silently dropping a check.
  */
class SuiteConfigSpec extends GraftSuite {

  test("parses every constraint type to the exact ADT value") {
    val check = SuiteConfig.parse(
      """name: full
        |keyCol: k
        |orderCol: o
        |tsCol: t
        |constraints:
        |  - {type: not_null, column: a, maxNullRate: 0.1}
        |  - {type: in_set, column: b, allowed: [x, y]}
        |  - {type: matches_regex, column: c, regex: "^x$"}
        |  - {type: value_bounds, column: d, lo: 1.5}
        |  - {type: unique_key, columns: [k, o]}
        |  - {type: referential, column: e, dim: dims1, dimColumn: v,
        |     nullOk: false, broadcastDim: false}
        |  - {type: asof_integrity, column: f, dim: snaps, dimColumn: v,
        |     dimTsColumn: valid_from, granularity: hour}
        |  - {type: min_rows, n: 100}
        |  - {type: mean_between, column: g, lo: 0, hi: 1}
        |  - {type: stddev_between, column: h, lo: 0, hi: 2}
        |  - {type: quantile_between, column: i, q: 0.9, lo: 0, hi: 5,
        |     approx: false}
        |  - {type: distinct_count_between, column: j, lo: 1, hi: 10}
        |  - {type: max_key_share, column: k, maxFrac: 0.01, k: 512}
        |  - {type: robust_z, column: l, threshold: 4.0}
        |  - {type: iqr_outliers, column: m}
        |  - {type: global_z, column: n2}
        |  - {type: rolling_z_drift, column: p, window: 12, threshold: 2.5}
        |  - {type: max_session_gap, maxGapSeconds: 3600}
        |  - {type: turn_rate_drift, method: classical, period: 6,
        |     bucket: 10 minutes}
        |  - {type: allowed_transitions, column: role,
        |     allowed: [[user, assistant], [assistant, user]],
        |     firstIn: [user]}
        |  - {type: monotonic, column: t, strict: true}
        |  - {type: no_consecutive_repeats, column: txt}
        |  - {type: functional_dependency, determinant: [k], dependent: day}
        |  - {type: referential, column: e2, dim: dims1, dimColumn: v,
        |     keyCensus: true}
        |  - {type: contiguous_index, base: 1}
        |  - {type: contiguous_index}
        |  - {type: distribution_drift, column: v, dim: blessed,
        |     dimColumn: ref_v, maxPsi: 0.1, bins: 20}
        |  - {type: max_duplicate_rate, column: txt, maxRate: 0.05,
        |     normalized: true, approx: true}
        |  - {type: max_duplicate_rate, column: txt}
        |  - {type: compliance, label: vf, predicate: "value >= 0",
        |     maxFailRate: 0.01}
        |  - {type: correlation_between, x: a, y: b, lo: 0.5}
        |  - {type: entropy_between, column: role, lo: 0.5, hi: 2.5}
        |  - {type: entropy_between, column: role}
        |  - {type: mutual_information_between, x: role, y: tool, hi: 0.5}
        |  - {type: parsable_as, column: txt, castTo: int, maxFailRate: 0.02}
        |  - {type: parsable_as, column: txt, castTo: "timestamp"}
        |  - {type: distribution_drift, column: v, dim: blessed,
        |     dimColumn: ref_v, maxKs: 0.2}
        |  - {type: uniqueness_between, columns: [k, o], lo: 0.95}
        |  - {type: distinctness_between, columns: [role], lo: 0.1, hi: 0.9}
        |  - {type: no_pii, column: txt, kinds: [email, card],
        |     maxFailRate: 0.01}
        |  - {type: no_pii, column: txt}
        |  - {type: max_staleness, column: t, asOf: "2024-03-01T06:00:00",
        |     maxLagSeconds: 86400}
        |  - {type: max_near_duplicate_rate, column: txt, maxRate: 0.02,
        |     threshold: 0.8, bands: 16}
        |  - {type: max_near_duplicate_rate, column: txt}
        |  - {type: min_text_quality, column: txt, minScore: 0.4,
        |     maxFailRate: 0.02}
        |  - {type: min_text_quality, column: txt}
        |  - {type: language_share, column: txt, lang: en, lo: 0.5}
        |  - {type: language_share, column: txt, lang: und, hi: 0.2}
        |  - {type: turn_count_between, lo: 5, hi: 500}
        |  - {type: turn_count_between}
        |  - {type: vector_shape, column: emb, dim: 64, normLo: 0.5,
        |     normHi: 1.5, maxFailRate: 0.01}
        |  - {type: vector_shape, column: emb, dim: 8}
        |  - {type: value_share_between, column: role, value: user, lo: 0.1}
        |  - {type: value_share_between, column: role, value: tool, hi: 0.3}
        |  - {type: time_bucket_coverage, column: t, bucket: day, minRows: 10}
        |  - {type: time_bucket_coverage, column: t}
        |  - {type: length_bounds, column: txt, lo: 5, hi: 5000,
        |     maxFailRate: 0.01}
        |  - {type: length_bounds, column: txt, hi: 100}
        |  - {type: in_set, column: b, allowed: [x], maxFailRate: 0.05}
        |  - {type: matches_regex, column: c, regex: "^x$",
        |     maxFailRate: 0.02}
        |  - {type: value_bounds, column: d, lo: 0, hi: 9,
        |     maxFailRate: 0.03}
        |""".stripMargin)
    assert(check.name == "full" && check.keyCol == "k" &&
      check.orderCol == "o" && check.tsCol == "t")
    val cs = check.constraints
    assert(cs(0) == NotNull("a", 0.1))
    assert(cs(1) == InSet("b", Seq("x", "y")))
    assert(cs(2) == MatchesRegex("c", "^x$"))
    assert(cs(3) == ValueBounds("d", Some(1.5), None))
    assert(cs(4) == UniqueKey(Seq("k", "o")))
    assert(cs(5) == ReferentialIntegrity("e", "dims1", "v",
      nullOk = false, broadcastDim = false))
    assert(cs(6) == AsOfIntegrity("f", "snaps", "v", "valid_from", "hour"))
    assert(cs(7) == MinRows(100))
    assert(cs(8) == MeanBetween("g", 0, 1))
    assert(cs(9) == StddevBetween("h", 0, 2))
    assert(cs(10) == QuantileBetween("i", 0.9, 0, 5, approx = false))
    assert(cs(11) == DistinctCountBetween("j", 1, 10))
    assert(cs(12) == MaxKeyShare("k", 0.01, 512))
    assert(cs(13) == RobustZ("l", 4.0))
    assert(cs(14) == IqrOutliers("m")) // defaults k=2.0, approx=true
    assert(cs(15) == GlobalZ("n2"))
    assert(cs(16) == RollingZDrift("p", 12, 2.5))
    assert(cs(17) == MaxSessionGap(3600))
    assert(cs(18) == TurnRateDrift(bucket = "10 minutes", period = 6,
      method = "classical"))
    assert(cs(19) == AllowedTransitions("role",
      Seq("user" -> "assistant", "assistant" -> "user"),
      firstIn = Some(Seq("user"))))
    assert(cs(20) == Monotonic("t", strict = true))
    assert(cs(21) == NoConsecutiveRepeats("txt"))
    assert(cs(22) == FunctionalDependency(Seq("k"), "day"))
    assert(cs(23) == ReferentialIntegrity("e2", "dims1", "v",
      keyCensus = true))
    assert(cs(24) == ContiguousIndex(1))
    assert(cs(25) == ContiguousIndex()) // base defaults to 0
    assert(cs(26) == DistributionDrift("v", "blessed", "ref_v", 0.1, 20))
    assert(cs(27) == MaxDuplicateRate("txt", 0.05, normalized = true,
      approx = true))
    assert(cs(28) == MaxDuplicateRate("txt")) // maxRate 0, exact, raw
    assert(cs(29) == Compliance("vf", "value >= 0", 0.01))
    assert(cs(30) == CorrelationBetween("a", "b", lo = 0.5)) // hi defaults 1.0
    assert(cs(31) == EntropyBetween("role", 0.5, 2.5))
    assert(cs(32) == EntropyBetween("role")) // lo 0, hi unbounded
    assert(cs(33) == MutualInformationBetween("role", "tool", hi = 0.5))
    assert(cs(34) == ParsableAs("txt", "int", 0.02))
    assert(cs(35) == ParsableAs("txt", "timestamp")) // maxFailRate 0
    assert(cs(36) == DistributionDrift("v", "blessed", "ref_v",
      maxKs = Some(0.2))) // maxPsi/bins default, KS leg opted in
    assert(cs(37) == UniquenessBetween(Seq("k", "o"), lo = 0.95)) // hi 1.0
    assert(cs(38) == DistinctnessBetween(Seq("role"), 0.1, 0.9))
    assert(cs(39) == NoPii("txt", Seq("email", "card"), 0.01))
    assert(cs(40) == NoPii("txt")) // kinds default to the full battery
    assert(cs(41) == MaxStaleness("t", "2024-03-01T06:00:00", 86400))
    assert(cs(42) == MaxNearDuplicateRate("txt", 0.02, threshold = 0.8,
      bands = 16))
    assert(cs(43) == MaxNearDuplicateRate("txt")) // defaults: q64's point
    assert(cs(44) == MinTextQuality("txt", 0.4, 0.02))
    assert(cs(45) == MinTextQuality("txt")) // defaults minScore 0.3
    assert(cs(46) == LanguageShare("txt", "en", lo = 0.5)) // hi defaults 1.0
    assert(cs(47) == LanguageShare("txt", "und", hi = 0.2)) // lo defaults 0
    assert(cs(48) == TurnCountBetween(5L, 500L))
    assert(cs(49) == TurnCountBetween()) // lo 1, hi unbounded
    assert(cs(50) == VectorShape("emb", Some(64), Some(0.5), Some(1.5), 0.01))
    assert(cs(51) == VectorShape("emb", Some(8))) // norm legs off, rate 0
    assert(cs(52) == ValueShareBetween("role", "user", lo = 0.1)) // hi 1.0
    assert(cs(53) == ValueShareBetween("role", "tool", hi = 0.3)) // lo 0.0
    assert(cs(54) == TimeBucketCoverage("t", "day", 10L))
    assert(cs(55) == TimeBucketCoverage("t")) // hour, minRows 1
    assert(cs(56) == LengthBounds("txt", Some(5L), Some(5000L), 0.01))
    assert(cs(57) == LengthBounds("txt", hi = Some(100L))) // lo absent
    assert(cs(58) == InSet("b", Seq("x"), 0.05)) // graded membership
    assert(cs(59) == MatchesRegex("c", "^x$", 0.02))
    assert(cs(60) == ValueBounds("d", Some(0.0), Some(9.0), 0.03))
  }

  test("render -> parse round-trips hostile strings (quotes, newlines, YAML metachars, unicode)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // the strings a config writer will eventually throw at the YAML
    // layer: quoting, flow/comment/anchor metacharacters, scalars that
    // look like other YAML types, regex metachars, non-ASCII
    val nasty: Gen[String] = Gen.oneOf(
      Gen.asciiPrintableStr.map(s => if (s.trim.isEmpty) "x" else s),
      Gen.oneOf("a\"b", "a'b", "a: b", "a\nb", "a\\nb", "- x", "{x: y}",
        "x # comment", "\ttab", "héllo wörld", "日本語テキスト",
        "a|b>c&d*e", "0.5", "true", "null", "~", "[]", "^t_\\d+$",
        "a{2,3}(b|c)\\\\", "*anchor", "&ref", "%tag", "@at", "`tick`"))
    (1 to 30).foreach { s =>
      def g(salt: Int): String =
        nasty.pureApply(Gen.Parameters.default, Seed(s.toLong * 1000 + salt))
      val check = Check("hostile", Seq(
        MatchesRegex("c1", g(1)),
        InSet("c2", List(g(2), g(3))),
        Compliance(g(4), g(5), 0.1),
        NotNull(g(6)), // hostile COLUMN name
        ValueBounds(g(7), Some(-1e300), Some(1e300))),
        keyCol = g(8), orderCol = "o", tsCol = "t")
      val parsed = SuiteConfig.parse(SuiteConfig.render(check))
      assert(parsed == check, s"seed=$s:\n${SuiteConfig.render(check)}")
    }
  }

  test("length_bounds: no bounds declared fails at parse with context") {
    val ex = intercept[IllegalArgumentException](SuiteConfig.parse(
      """name: x
        |constraints:
        |  - {type: length_bounds, column: txt}
        |""".stripMargin))
    assert(ex.getMessage.contains("length_bounds") &&
      ex.getMessage.contains("bound"))
  }

  test("time_bucket_coverage: an irregular bucket fails at parse with context") {
    val ex = intercept[IllegalArgumentException](SuiteConfig.parse(
      """name: x
        |constraints:
        |  - {type: time_bucket_coverage, column: t, bucket: month}
        |""".stripMargin))
    assert(ex.getMessage.contains("time_coverage") &&
      ex.getMessage.contains("month"))
  }

  test("value_share_between: impossible bounds fail at parse with context") {
    val ex = intercept[IllegalArgumentException](SuiteConfig.parse(
      """name: x
        |constraints:
        |  - {type: value_share_between, column: role, value: user,
        |     lo: 0.9, hi: 0.1}
        |""".stripMargin))
    assert(ex.getMessage.contains("value_share") &&
      ex.getMessage.contains("0.9"))
  }

  test("turn_count_between / vector_shape: impossible bounds fail at parse with context") {
    val ex = intercept[IllegalArgumentException](SuiteConfig.parse(
      """name: x
        |constraints:
        |  - {type: turn_count_between, lo: 10, hi: 5}
        |""".stripMargin))
    assert(ex.getMessage.contains("turn_count") &&
      ex.getMessage.contains("10"))
    // no legs declared: the constraint would be vacuously pass-everything
    val ex2 = intercept[IllegalArgumentException](SuiteConfig.parse(
      """name: x
        |constraints:
        |  - {type: vector_shape, column: emb}
        |""".stripMargin))
    assert(ex2.getMessage.contains("vector_shape") &&
      ex2.getMessage.contains("leg"))
    val ex3 = intercept[IllegalArgumentException](SuiteConfig.parse(
      """name: x
        |constraints:
        |  - {type: vector_shape, column: emb, normLo: 2.0, normHi: 1.0}
        |""".stripMargin))
    assert(ex3.getMessage.contains("vector_shape") &&
      ex3.getMessage.contains("2.0"))
  }

  test("min_text_quality / language_share: bad score or lang fails at parse with context") {
    val ex = intercept[IllegalArgumentException](SuiteConfig.parse(
      """name: x
        |constraints:
        |  - {type: min_text_quality, column: txt, minScore: 1.5}
        |""".stripMargin))
    assert(ex.getMessage.contains("min_text_quality") &&
      ex.getMessage.contains("1.5"))
    val ex2 = intercept[IllegalArgumentException](SuiteConfig.parse(
      """name: x
        |constraints:
        |  - {type: language_share, column: txt, lang: klingon}
        |""".stripMargin))
    assert(ex2.getMessage.contains("language_share") &&
      ex2.getMessage.contains("klingon"))
  }

  test("max_near_duplicate_rate: bands not dividing numHashes fails at parse") {
    val ex = intercept[IllegalArgumentException](SuiteConfig.parse(
      """name: x
        |constraints:
        |  - {type: max_near_duplicate_rate, column: txt, bands: 48}
        |""".stripMargin))
    assert(ex.getMessage.contains("max_near_duplicate_rate") &&
      ex.getMessage.contains("48"))
  }

  test("max_staleness: a garbage asOf fails at parse time with context") {
    val ex = intercept[IllegalArgumentException](SuiteConfig.parse(
      """name: x
        |constraints:
        |  - {type: max_staleness, column: t, asOf: lately, maxLagSeconds: 60}
        |""".stripMargin))
    assert(ex.getMessage.contains("max_staleness") &&
      ex.getMessage.contains("lately"))
  }

  test("no_pii: a typo'd kind fails at parse time with context") {
    val ex = intercept[IllegalArgumentException](SuiteConfig.parse(
      """name: x
        |constraints:
        |  - {type: no_pii, column: txt, kinds: [email, passport]}
        |""".stripMargin))
    assert(ex.getMessage.contains("no_pii") &&
      ex.getMessage.contains("passport"))
  }

  test("parsable_as: a typo'd DDL type fails at parse time with context") {
    val ex = intercept[IllegalArgumentException](SuiteConfig.parse(
      """name: x
        |constraints:
        |  - {type: parsable_as, column: txt, castTo: integerr}
        |""".stripMargin))
    assert(ex.getMessage.contains("parsable_as") &&
      ex.getMessage.contains("integerr"))
  }

  test("allowed_transitions / functional_dependency reject malformed lists") {
    def bad(doc: String): String =
      intercept[IllegalArgumentException](SuiteConfig.parse(
        s"""name: x
           |constraints:
           |  - $doc
           |""".stripMargin)).getMessage
    // a flat (non-pair) allowed list would silently validate nothing
    assert(bad("{type: allowed_transitions, column: r, allowed: [user, assistant]}")
      .contains("[from, to]"))
    assert(bad("{type: allowed_transitions, column: r, allowed: []}")
      .contains("non-empty"))
    assert(bad("{type: allowed_transitions, column: r, " +
      "allowed: [[user, assistant]], firstIn: []}").contains("non-empty"))
    assert(bad("{type: functional_dependency, determinant: [], dependent: d}")
      .contains("non-empty"))
    assert(bad("{type: functional_dependency, determinant: [k]}")
      .contains("dependent"))
    assert(bad("{type: monotonic, column: t, strict: yep}")
      .contains("boolean"))
  }

  test("expected_schema parses the column mapping (name-sorted — order-insensitive)") {
    val check = SuiteConfig.parse(
      """name: s
        |constraints:
        |  - {type: expected_schema, allowExtra: false,
        |     columns: {conv_id: string, turn_idx: int, ts: timestamp,
        |               emb: "array<float>"}}
        |""".stripMargin)
    assert(check.constraints.head == ExpectedSchema(Seq(
      "conv_id" -> "string", "emb" -> "array<float>", "ts" -> "timestamp",
      "turn_idx" -> "int"), allowExtra = false))
    intercept[IllegalArgumentException] {
      SuiteConfig.parse(
        """name: s
          |constraints: [{type: expected_schema, columns: {}}]
          |""".stripMargin)
    }
  }

  test("JSON and YAML documents parse identically; defaults fill in") {
    val yaml = SuiteConfig.parse(
      """name: s
        |constraints:
        |  - {type: not_null, column: a}
        |""".stripMargin)
    val json = SuiteConfig.parse(
      """{"name": "s", "constraints": [{"type": "not_null", "column": "a"}]}""")
    assert(yaml == json)
    assert(yaml.keyCol == "conv_id" && yaml.orderCol == "turn_idx" &&
      yaml.tsCol == "ts")
  }

  test("text_equals compiles expectedSql via expr (needs an active session)") {
    spark // force session init so functions.expr can parse
    val check = SuiteConfig.parse(
      """name: s
        |constraints:
        |  - {type: text_equals, column: text,
        |     expectedSql: "concat('turn_', cast(turn_idx as string))"}
        |""".stripMargin)
    val TextEquals(colName, expected) = check.constraints.head
    assert(colName == "text")
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val bad = Seq(("turn_0", 0), ("WRONG", 1)).toDF("text", "turn_idx")
      .where(col("text") =!= expected).collect()
    assert(bad.length == 1 && bad(0).getString(0) == "WRONG")
  }

  test("unknown constraint type fails fast and lists the supported set") {
    val ex = intercept[IllegalArgumentException] {
      SuiteConfig.parse(
        """name: s
          |constraints:
          |  - {type: not_nul, column: a}
          |""".stripMargin)
    }
    assert(ex.getMessage.contains("unknown constraint type 'not_nul'"))
    assert(ex.getMessage.contains("not_null"))
  }

  test("every name in supportedTypes reaches a real parser arm") {
    // the 'supported:' help list must never advertise a type the parser
    // rejects as unknown, nor (via the error message itself) omit one it
    // accepts — a typo near an omitted name got a help message claiming
    // the type doesn't exist (r5 ADVICE). A listed type may still fail on
    // MISSING FIELDS; only the unknown-type error is a list bug.
    SuiteConfig.supportedTypes.foreach { t =>
      scala.util.Try(SuiteConfig.parse(
        s"""name: s
           |constraints:
           |  - {type: $t}
           |""".stripMargin)) match {
        case scala.util.Failure(e) =>
          assert(!e.getMessage.contains("unknown constraint type"),
            s"supportedTypes lists '$t' but the parser calls it unknown")
        case scala.util.Success(_) => // all-optional-field type: fine
      }
    }
  }

  test("unknown field (typo) fails fast with the offending name") {
    val ex = intercept[IllegalArgumentException] {
      SuiteConfig.parse(
        """name: s
          |constraints:
          |  - {type: not_null, colum: a}
          |""".stripMargin)
    }
    assert(ex.getMessage.contains("'colum'"))
  }

  test("missing required field fails fast") {
    val ex = intercept[IllegalArgumentException] {
      SuiteConfig.parse(
        """name: s
          |constraints:
          |  - {type: referential, column: a, dim: d}
          |""".stripMargin)
    }
    assert(ex.getMessage.contains("'dimColumn'"))
  }

  test("mistyped optional fields are rejected, never coerced to 0/false") {
    // asDouble() on a TextNode would silently yield 0.0 → every point
    // flagged as drift; the strict layer must refuse instead
    val e1 = intercept[IllegalArgumentException] {
      SuiteConfig.parse(
        """name: s
          |constraints:
          |  - {type: rolling_z_drift, column: v, threshold: high}
          |""".stripMargin)
    }
    assert(e1.getMessage.contains("'threshold'") &&
      e1.getMessage.contains("number"), e1.getMessage)
    // this Jackson YAML build speaks YAML 1.1: unquoted yes IS boolean
    // true — accepted, not coerced
    val yes = SuiteConfig.parse(
      """name: s
        |constraints:
        |  - {type: referential, column: a, dim: d, dimColumn: v, nullOk: yes}
        |""".stripMargin)
    assert(yes.constraints.collect {
      case r: graft.dsl.ReferentialIntegrity => r.nullOk } == Seq(true))
    // ...but a non-boolean word would hit asBoolean() = false and
    // silently flip nullOk without the strict layer
    val e2 = intercept[IllegalArgumentException] {
      SuiteConfig.parse(
        """name: s
          |constraints:
          |  - {type: referential, column: a, dim: d, dimColumn: v, nullOk: maybe}
          |""".stripMargin)
    }
    assert(e2.getMessage.contains("'nullOk'") &&
      e2.getMessage.contains("boolean"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      SuiteConfig.parse(
        """name: s
          |constraints:
          |  - {type: value_bounds, column: v, lo: low}
          |""".stripMargin)
    }
    assert(e3.getMessage.contains("'lo'"), e3.getMessage)
  }

  test("expected_schema: a typo'd DDL type fails at parse time with the column name") {
    val ex = intercept[IllegalArgumentException] {
      SuiteConfig.parse(
        """name: s
          |constraints:
          |  - {type: expected_schema, columns: {ts: timestmap}}
          |""".stripMargin)
    }
    assert(ex.getMessage.contains("'ts'") &&
      ex.getMessage.contains("timestmap"), ex.getMessage)
  }

  test("dims map parses; absent dims is empty") {
    val d = SuiteConfig.dims(
      """name: s
        |dims: {roles: /tmp/roles, tools: /tmp/tools}
        |constraints: [{type: min_rows, n: 1}]
        |""".stripMargin)
    assert(d == Map("roles" -> "/tmp/roles", "tools" -> "/tmp/tools"))
    assert(SuiteConfig.dims("""{"name":"s","constraints":[]}""").isEmpty)
  }

  test("a dims entry that is not a path string fails with the dim's name") {
    def bad(dims: String): String =
      intercept[IllegalArgumentException](SuiteConfig.dims(
        s"""name: s
           |dims: $dims
           |constraints: [{type: min_rows, n: 1}]
           |""".stripMargin)).getMessage
    assert(bad("{roles: {path: /x}}").contains("'roles'"))
    assert(bad("{roles: /x, tools: null}").contains("'tools'"))
    assert(bad("{roles: [/x]}").contains("path string"))
  }

  test("in_set allowed takes scalars only; unique_key columns take strings only") {
    def parse(doc: String): Check = SuiteConfig.parse(
      s"""name: x
         |constraints:
         |  - $doc
         |""".stripMargin)
    // an int or boolean column's set is legitimate: read as the text
    assert(parse("{type: in_set, column: n, allowed: [1, 2.5, true, a]}")
      .constraints.head == InSet("n", Seq("1", "2.5", "true", "a")))
    val e1 = intercept[IllegalArgumentException](
      parse("{type: in_set, column: b, allowed: [{b: 1}, null, 2]}"))
    assert(e1.getMessage.contains("'allowed'") &&
      e1.getMessage.contains("in_set"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      parse("{type: unique_key, columns: [a, {b: 1}]}"))
    assert(e2.getMessage.contains("'columns'") &&
      e2.getMessage.contains("strings"), e2.getMessage)
  }

  test("an integer field refuses a fractional number instead of truncating it") {
    def bad(doc: String): String =
      intercept[IllegalArgumentException](SuiteConfig.parse(
        s"""name: x
           |constraints:
           |  - $doc
           |""".stripMargin)).getMessage
    assert(bad("{type: vector_shape, column: e, dim: 1.5}").contains("'dim'"))
    assert(bad("{type: min_rows, n: 2.5}").contains("integer"))
    assert(bad("{type: rolling_z_drift, column: v, window: 24.0}")
      .contains("'window'"))
  }

  test("empty or missing constraints list is rejected") {
    intercept[IllegalArgumentException] {
      SuiteConfig.parse("""{"name":"s","constraints":[]}""")
    }
    intercept[IllegalArgumentException] {
      SuiteConfig.parse("""{"name":"s"}""")
    }
  }
}
