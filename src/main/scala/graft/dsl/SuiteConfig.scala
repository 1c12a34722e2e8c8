package graft.dsl

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import org.apache.spark.sql.{Column, GraftBridge, functions}
import org.apache.spark.sql.types.DataType

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import scala.util.Try

/** Config-file face of the constraint DSL — the engine analog of the
  * reference's YAML-driven configuration (`config/regions.yaml:54-58`
  * parameterizes its detectors; `使用指南.md:207-214` documents config-first
  * extension). A suite file is YAML or JSON (YAML 1.2 is a JSON superset,
  * one parser handles both):
  *
  * {{{
  * name: transcripts
  * keyCol: conv_id          # defaults: conv_id / turn_idx / ts
  * dims:                    # optional: dimension name -> parquet path
  *   roles: /data/dims/roles
  * constraints:
  *   - {type: not_null, column: role}
  *   - {type: unique_key, columns: [conv_id, turn_idx]}
  *   - {type: referential, column: role, dim: roles, dimColumn: role}
  *   - {type: rolling_z_drift, column: gap_sec, window: 24, threshold: 3}
  *   - {type: max_session_gap, maxGapSeconds: 3600}
  *   - {type: turn_rate_drift, method: classical, period: 24}
  * }}}
  *
  * Parsing is STRICT: an unknown constraint type, an unknown field, or a
  * missing required field fails immediately with the offending name — in a
  * 10^12-turn run a silently-dropped typo ("colum") would surface as a
  * wrong verdict hours later, so the config layer refuses it up front.
  *
  * One codec table (`codecs` below) is the only place a constraint type's
  * YAML name, field names, required/optional status and defaults live: one
  * entry per type, its fields in case-class parameter order. [[parse]],
  * [[render]] and [[supportedTypes]] all read that table. `text_equals`
  * takes `expectedSql`, compiled via `functions.expr` (per-turn text
  * equality as ANSI SQL over the fact's own columns).
  */
object SuiteConfig {

  // YAMLFactory parses both YAML and JSON; mapper only builds trees here
  private val mapper = new ObjectMapper(new YAMLFactory())

  /** Parse a suite document (YAML or JSON) into a [[Check]]. */
  def parse(text: String): Check = parseTree(mapper.readTree(text))

  /** Dimension-table paths declared by the config (name -> parquet path);
    * the caller (e.g. [[graft.Runner]]) loads and registers them.
    */
  def dims(text: String): Map[String, String] = dimsOf(mapper.readTree(text))

  /** Read + parse a suite file. */
  def load(path: String): Check = parse(readFile(path))

  /** One read of the file for both the Check and its dims map — two
    * separate load calls could observe different documents if the file is
    * swapped between them.
    */
  def loadWithDims(path: String): (Check, Map[String, String]) = {
    val root = mapper.readTree(readFile(path))
    (parseTree(root), dimsOf(root))
  }

  private def readFile(path: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")

  private def parseTree(root: JsonNode): Check = {
    need(root != null && root.isObject, "suite config: top level must be a mapping")
    val header = within("suite") {
      known(root, Set("name", "keyCol", "orderCol", "tsCol", "dims",
        "constraints"))
      val cs = root.get("constraints")
      need(cs != null && cs.isArray && cs.size > 0,
        "'constraints' must be a non-empty list")
      Check(str("name").decode(root), Nil,
        str("keyCol", "conv_id").decode(root),
        str("orderCol", "turn_idx").decode(root),
        str("tsCol", "ts").decode(root))
    }
    header.copy(constraints =
      root.get("constraints").elements().asScala.map(constraint).toSeq)
  }

  private def dimsOf(root: JsonNode): Map[String, String] =
    Option(root.get("dims")).fold(Map.empty[String, String]) { d =>
      need(d.isObject, "suite config: 'dims' must be a mapping of name -> path")
      d.properties().asScala.map { e =>
        need(e.getValue.isTextual,
          s"suite config: dim '${e.getKey}' must be a path string")
        e.getKey -> e.getValue.asText()
      }.toMap
    }

  private def constraint(n: JsonNode): Constraint = {
    val t = within("constraint") {
      need(n.isObject, "each constraint must be a mapping")
      str("type").decode(n)
    }
    val codec = byName.getOrElse(t, throw new IllegalArgumentException(
      s"suite config: unknown constraint type '$t' (supported: " +
        supportedTypes.mkString(", ") + ")"))
    // the case classes validate their own arguments (bound order, DDL,
    // kind and language names); their errors get the same context
    within(s"constraint '$t'")(codec.decode(n))
  }

  /** Render a [[Check]] back to a YAML suite document that [[parse]] accepts
    * — the write half of the config round-trip. Every field is written
    * explicitly (a generated config should read as a complete record of
    * what will run, not depend on defaults that may drift); an absent
    * optional leg (`None`) is left out. The main producer is
    * [[graft.compile.Suggestions]]: profile a blessed snapshot, render the
    * suggested suite, review, commit.
    *
    * [[TextEquals]] holds a compiled Column; it renders via the
    * expression's SQL form, which round-trips through `functions.expr`.
    */
  def render(check: Check, dims: Map[String, String] = Map.empty): String = {
    val root = mapper.createObjectNode()
    root.put("name", check.name).put("keyCol", check.keyCol)
      .put("orderCol", check.orderCol).put("tsCol", check.tsCol)
    if (dims.nonEmpty) {
      val d = root.putObject("dims")
      dims.toSeq.sortBy(_._1).foreach { case (k, v) => d.put(k, v) }
    }
    val arr = root.putArray("constraints")
    check.constraints.foreach(c =>
      byClass(c.getClass).encode(c, arr.addObject()))
    mapper.writeValueAsString(root)
  }

  // ---- the codec table: one entry per constraint type -------------------------

  private val codecs: Seq[Codec] = Seq(
    codec("not_null", str("column"), dbl("maxNullRate", 0.0))(NotNull),
    codec("in_set", str("column"), scalars("allowed"),
      dbl("maxFailRate", 0.0))(InSet),
    codec("matches_regex", str("column"), str("regex"),
      dbl("maxFailRate", 0.0))(MatchesRegex),
    codec("value_bounds", str("column"), dbl.opt("lo"), dbl.opt("hi"),
        dbl("maxFailRate", 0.0)) { (c, lo, hi, rate) =>
      need(lo.nonEmpty || hi.nonEmpty, "need 'lo' and/or 'hi'")
      ValueBounds(c, lo, hi, rate)
    },
    codec("length_bounds", str("column"), lng.opt("lo"), lng.opt("hi"),
      dbl("maxFailRate", 0.0))(LengthBounds),
    codec("text_equals", str("column"), sql("expectedSql"))(TextEquals),
    codec("expected_schema", ddlColumns("columns"),
      bool("allowExtra", true))(ExpectedSchema),
    codec("unique_key", strs("columns"))(UniqueKey),
    codec("referential", str("column"), str("dim"), str("dimColumn"),
      bool("nullOk", true), bool("broadcastDim", true),
      bool("keyCensus", false))(ReferentialIntegrity),
    codec("asof_integrity", str("column"), str("dim"), str("dimColumn"),
      str("dimTsColumn"), str("granularity", "day"), bool("nullOk", true),
      bool("broadcastDim", true))(AsOfIntegrity),
    codec("min_rows", lng("n"))(MinRows),
    codec("mean_between", str("column"), dbl("lo"), dbl("hi"))(MeanBetween),
    codec("stddev_between", str("column"), dbl("lo"), dbl("hi"))(StddevBetween),
    codec("quantile_between", str("column"), dbl("q"), dbl("lo"), dbl("hi"),
      bool("approx", true))(QuantileBetween),
    codec("distinct_count_between", str("column"), lng("lo"),
      lng("hi"))(DistinctCountBetween),
    codec("max_key_share", str("column"), dbl("maxFrac", 1.0 / 512),
      int("k", 2048))(MaxKeyShare),
    codec("robust_z", str("column"), dbl("threshold", 3.5),
      bool("approx", true))(RobustZ),
    codec("iqr_outliers", str("column"), dbl("k", 2.0),
      bool("approx", true))(IqrOutliers),
    codec("global_z", str("column"), dbl("threshold", 3.0))(GlobalZ),
    codec("rolling_z_drift", str("column"), int("window", 24),
      dbl("threshold", 3.0))(RollingZDrift),
    codec("max_session_gap", lng("maxGapSeconds"))(MaxSessionGap),
    codec("contiguous_index", int("base", 0))(ContiguousIndex),
    codec("distribution_drift", str("column"), str("dim"), str("dimColumn"),
      dbl("maxPsi", 0.25), int("bins", 10),
      dbl.opt("maxKs"))(DistributionDrift),
    codec("max_duplicate_rate", str("column"), dbl("maxRate", 0.0),
      bool("normalized", false), bool("approx", false))(MaxDuplicateRate),
    codec("compliance", str("label"), str("predicate"),
      dbl("maxFailRate", 0.0))(Compliance),
    codec("parsable_as", str("column"), str("castTo"),
      dbl("maxFailRate", 0.0))(ParsableAs),
    codec("no_pii", str("column"), strs("kinds", graft.text.Pii.allKinds),
      dbl("maxFailRate", 0.0))(NoPii),
    codec("max_staleness", str("column"), str("asOf"),
      lng("maxLagSeconds"))(MaxStaleness),
    codec("max_near_duplicate_rate", str("column"), dbl("maxRate", 0.0),
      dbl("threshold", 0.7), int("shingleK", 3), int("numHashes", 64),
      int("bands", 32), dbl("estJaccardMin", 0.4))(MaxNearDuplicateRate),
    codec("min_text_quality", str("column"), dbl("minScore", 0.3),
      dbl("maxFailRate", 0.0))(MinTextQuality),
    codec("language_share", str("column"), str("lang"), dbl("lo", 0.0),
      dbl("hi", 1.0))(LanguageShare),
    codec("turn_count_between", lng("lo", 1L),
      lng("hi", Long.MaxValue))(TurnCountBetween),
    codec("value_share_between", str("column"), str("value"), dbl("lo", 0.0),
      dbl("hi", 1.0))(ValueShareBetween),
    codec("vector_shape", str("column"), int.opt("dim"), dbl.opt("normLo"),
      dbl.opt("normHi"), dbl("maxFailRate", 0.0))(VectorShape),
    codec("time_bucket_coverage", str("column"), str("bucket", "hour"),
      lng("minRows", 1L))(TimeBucketCoverage),
    codec("correlation_between", str("x"), str("y"), dbl("lo", -1.0),
      dbl("hi", 1.0))(CorrelationBetween),
    codec("entropy_between", str("column"), dbl("lo", 0.0),
      dbl("hi", Double.MaxValue))(EntropyBetween),
    codec("uniqueness_between", strs("columns"), dbl("lo", 1.0),
      dbl("hi", 1.0))(UniquenessBetween),
    codec("distinctness_between", strs("columns"), dbl("lo", 1.0),
      dbl("hi", 1.0))(DistinctnessBetween),
    codec("mutual_information_between", str("x"), str("y"), dbl("lo", 0.0),
      dbl("hi", Double.MaxValue))(MutualInformationBetween),
    codec("allowed_transitions", str("column"), pairs("allowed"),
      strs.opt("firstIn"))(AllowedTransitions),
    codec("monotonic", str("column"), bool("strict", false))(Monotonic),
    codec("no_consecutive_repeats", str("column"))(NoConsecutiveRepeats),
    codec("functional_dependency", strs("determinant"),
      str("dependent"))(FunctionalDependency),
    codec("turn_rate_drift", str("bucket", "1 hour"), int("period", 24),
      str("method", "stl"), int("seasonal", 7), str("residMethod", "iqr"),
      dbl("residThreshold", 2.0), dbl("psiThreshold", 0.25),
      dbl("ksThreshold", 0.5))(TurnRateDrift))

  private val byName = codecs.map(c => c.name -> c).toMap
  private val byClass: Map[Class[_], Codec] = codecs.map(c => c.cls -> c).toMap
  // a second entry for a name or class would silently shadow the first
  require(byName.size == codecs.size && byClass.size == codecs.size,
    "suite config: the codec table lists a type name or class twice")

  /** Every constraint type the parser accepts — the 'supported:' help in
    * the unknown-type error; the codec table's names, in table order.
    */
  val supportedTypes: Seq[String] = codecs.map(_.name)

  // ---- codec machinery --------------------------------------------------------

  /** One constraint type's YAML face: its `type` name, its fields in
    * case-class parameter order (so [[render]] can zip them with
    * `productIterator`), its class and its constructor.
    */
  private final class Codec(val name: String, fields: IndexedSeq[Field[_]],
      val cls: Class[_], build: IndexedSeq[Any] => Constraint) {
    private val allowed = fields.map(_.name).toSet + "type"
    // the unknown-field check runs first, so a typo ('colum') is reported
    // as unknown rather than as a missing 'column'
    def decode(n: JsonNode): Constraint = {
      known(n, allowed)
      build(fields.map(_.decode(n)))
    }
    def encode(c: Constraint, n: ObjectNode): Unit = {
      n.put("type", name)
      fields.zip(c.asInstanceOf[Product].productIterator)
        .foreach { case (f, v) => f.encode(n, v) }
    }
  }

  /** One YAML field: its name, its default (`None` = required), a strict
    * reader of a present, non-null value, and a writer.
    */
  private final case class Field[A](name: String, default: Option[A],
      read: JsonNode => A, write: (ObjectNode, A) => Unit) {
    def decode(n: JsonNode): A =
      Option(n.get(name)).filterNot(_.isNull).map(read).orElse(default)
        .getOrElse(throw new IllegalArgumentException(
          s"missing required field '$name'"))
    def encode(n: ObjectNode, v: Any): Unit = write(n, v.asInstanceOf[A])
  }

  /** How one YAML value type is checked, read and written. Reads are
    * type-checked, never coerced: asDouble()/asInt()/asBoolean() silently
    * turn a mistyped value into 0.0/0/false (e.g. a stray word in a boolean
    * field), which is exactly the hours-later wrong verdict strict parsing
    * exists to prevent. (This Jackson YAML build speaks YAML 1.1, so
    * unquoted yes/no ARE booleans and pass.)
    */
  private final class Kind[A](what: String, ok: JsonNode => Boolean,
      get: JsonNode => A, put: (ObjectNode, String, A) => Unit) {
    private def read(name: String)(v: JsonNode): A = {
      need(ok(v), s"field '$name' must be $what")
      get(v)
    }
    def apply(name: String): Field[A] =
      Field(name, None, read(name), put(_, name, _))
    def apply(name: String, default: A): Field[A] =
      Field(name, Some(default), read(name), put(_, name, _))
    /** An optional leg: absent reads as `None` and is not written. */
    def opt(name: String): Field[Option[A]] = Field(name, Some(None),
      v => Some(read(name)(v)), (n, o) => o.foreach(put(n, name, _)))
  }

  private def list[A](what: String, minSize: Int, item: JsonNode => Boolean,
      get: JsonNode => A, add: (ArrayNode, A) => Unit): Kind[Seq[A]] =
    new Kind[Seq[A]](what,
      v => v.isArray && v.size >= minSize && v.elements().asScala.forall(item),
      _.elements().asScala.map(get).toSeq,
      (n, f, vs) => { val a = n.putArray(f); vs.foreach(add(a, _)) })

  // lazy: the codec table above reads these while the object initializes
  private lazy val str = new Kind[String]("a string", _.isTextual, _.asText(),
    _.put(_, _))
  private lazy val dbl = new Kind[Double]("a number", _.isNumber, _.asDouble(),
    _.put(_, _))
  // integral only: canConvertToInt alone would truncate 1.5 to 1
  private lazy val int = new Kind[Int]("an integer",
    v => v.isIntegralNumber && v.canConvertToInt, _.asInt(), _.put(_, _))
  private lazy val lng = new Kind[Long]("an integer",
    v => v.isIntegralNumber && v.canConvertToLong, _.asLong(), _.put(_, _))
  private lazy val bool = new Kind[Boolean]("a boolean (unquoted true/false)",
    _.isBoolean, _.asBoolean(), _.put(_, _))
  private lazy val strs = list[String]("a non-empty list of strings", 1,
    _.isTextual, _.asText(), _.add(_))
  // an int column's allowed set is legitimate: numbers and booleans are
  // read as their text; null and containers are refused
  private lazy val scalars = list[String](
    "a list of strings, numbers or booleans", 0,
    v => v.isTextual || v.isNumber || v.isBoolean, _.asText(), _.add(_))
  private lazy val pairs = list[(String, String)](
    "a non-empty list of [from, to] string pairs", 1,
    p => p.isArray && p.size == 2 && p.get(0).isTextual && p.get(1).isTextual,
    p => p.get(0).asText() -> p.get(1).asText(),
    (a, p) => a.addArray().add(p._1).add(p._2))
  // sorted by name: the check is order-insensitive and Jackson's object
  // nodes don't guarantee document order. A typo'd DDL type fails HERE
  // with the column name, not hours later inside the validator.
  private lazy val ddlColumns = new Kind[Seq[(String, String)]](
    "a non-empty mapping of name -> DDL type string",
    v => v.isObject && v.size > 0 && v.elements().asScala.forall(_.isTextual),
    _.properties().asScala.toSeq.map(e => e.getKey -> e.getValue.asText())
      .sortBy(_._1).map { case (c, t) =>
        need(Try(DataType.fromDDL(t)).isSuccess,
          s"column '$c' has unparseable DDL type '$t'")
        c -> t
      },
    (n, f, cs) => {
      val o = n.putObject(f); cs.foreach { case (c, t) => o.put(c, t) }
    })
  private lazy val sql = new Kind[Column]("a string",
    _.isTextual, v => functions.expr(v.asText()),
    (n, f, c) => n.put(f, GraftBridge.expression(c).sql))

  // one overload per field count; the class comes from the constructor's
  // result type
  private def codec[T1, K <: Constraint: ClassTag](t: String, a: Field[T1])(
      f: T1 => K): Codec = entry(t, a)(v => f(v(0).asInstanceOf[T1]))
  private def codec[T1, T2, K <: Constraint: ClassTag](t: String, a: Field[T1],
      b: Field[T2])(f: (T1, T2) => K): Codec =
    entry(t, a, b)(v => f.tupled((v(0), v(1)).asInstanceOf[(T1, T2)]))
  private def codec[T1, T2, T3, K <: Constraint: ClassTag](t: String,
      a: Field[T1], b: Field[T2], c: Field[T3])(f: (T1, T2, T3) => K): Codec =
    entry(t, a, b, c)(v =>
      f.tupled((v(0), v(1), v(2)).asInstanceOf[(T1, T2, T3)]))
  private def codec[T1, T2, T3, T4, K <: Constraint: ClassTag](t: String,
      a: Field[T1], b: Field[T2], c: Field[T3], d: Field[T4])(
      f: (T1, T2, T3, T4) => K): Codec =
    entry(t, a, b, c, d)(v =>
      f.tupled((v(0), v(1), v(2), v(3)).asInstanceOf[(T1, T2, T3, T4)]))
  private def codec[T1, T2, T3, T4, T5, K <: Constraint: ClassTag](t: String,
      a: Field[T1], b: Field[T2], c: Field[T3], d: Field[T4], e: Field[T5])(
      f: (T1, T2, T3, T4, T5) => K): Codec =
    entry(t, a, b, c, d, e)(v => f.tupled((v(0), v(1), v(2), v(3), v(4))
      .asInstanceOf[(T1, T2, T3, T4, T5)]))
  private def codec[T1, T2, T3, T4, T5, T6, K <: Constraint: ClassTag](
      t: String, a: Field[T1], b: Field[T2], c: Field[T3], d: Field[T4],
      e: Field[T5], g: Field[T6])(f: (T1, T2, T3, T4, T5, T6) => K): Codec =
    entry(t, a, b, c, d, e, g)(v => f.tupled((v(0), v(1), v(2), v(3), v(4),
      v(5)).asInstanceOf[(T1, T2, T3, T4, T5, T6)]))
  private def codec[T1, T2, T3, T4, T5, T6, T7, K <: Constraint: ClassTag](
      t: String, a: Field[T1], b: Field[T2], c: Field[T3], d: Field[T4],
      e: Field[T5], g: Field[T6], h: Field[T7])(
      f: (T1, T2, T3, T4, T5, T6, T7) => K): Codec =
    entry(t, a, b, c, d, e, g, h)(v => f.tupled((v(0), v(1), v(2), v(3), v(4),
      v(5), v(6)).asInstanceOf[(T1, T2, T3, T4, T5, T6, T7)]))
  private def codec[T1, T2, T3, T4, T5, T6, T7, T8, K <: Constraint: ClassTag](
      t: String, a: Field[T1], b: Field[T2], c: Field[T3], d: Field[T4],
      e: Field[T5], g: Field[T6], h: Field[T7], i: Field[T8])(
      f: (T1, T2, T3, T4, T5, T6, T7, T8) => K): Codec =
    entry(t, a, b, c, d, e, g, h, i)(v => f.tupled((v(0), v(1), v(2), v(3),
      v(4), v(5), v(6), v(7)).asInstanceOf[(T1, T2, T3, T4, T5, T6, T7, T8)]))

  private def entry[K <: Constraint](t: String, fields: Field[_]*)(
      build: IndexedSeq[Any] => K)(implicit k: ClassTag[K]): Codec =
    new Codec(t, fields.toIndexedSeq, k.runtimeClass, build)

  // ---- strict checks ----------------------------------------------------------

  private def need(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new IllegalArgumentException(msg)

  /** The one place a config error gets its context. */
  private def within[A](ctx: String)(body: => A): A =
    try body
    catch { case e: IllegalArgumentException =>
      throw new IllegalArgumentException(
        s"suite config: $ctx: ${e.getMessage}", e) }

  private def known(n: JsonNode, allowed: Set[String]): Unit = {
    val unknown = n.fieldNames().asScala.filterNot(allowed).toSeq
    need(unknown.isEmpty,
      s"unknown field(s) ${unknown.mkString("'", "', '", "'")} " +
        s"(allowed: ${allowed.toSeq.sorted.mkString(", ")})")
  }
}
