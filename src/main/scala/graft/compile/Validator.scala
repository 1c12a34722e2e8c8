package graft.compile

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dsl._
import graft.series.{Decomposition, Drift, DriftKernel, RollingKernel}

/** Compiles a constraint suite to Catalyst plans and evaluates it with a
  * fixed small number of passes, independent of the number of constraints
  * (the reference re-scans per statistic family,
  * src/geological_anomaly_detector.py:128-145; Catalyst won't fuse separate
  * `agg` jobs, so this planner does — SURVEY.md §4):
  *
  *  pass 1  one fused global aggregation (stats, quantiles/sketches, null
  *          counts, HLL cardinalities) — collected as ONE driver row;
  *  pass 1b one more fused aggregation iff RobustZ needs MAD (median of
  *          |x - median|) — the only stat that depends on another stat;
  *  pass 2  one projection with every row-level flag, exploded into
  *          violation rows (single scan); rolling-z flags and the fused
  *          (key, order) duplicate-key census in ONE sorted kernel pass per
  *          (conversation, chunk) over the pruned (key, order, value);
  *  pass 3  uniqueness group-bys (one per key tuple);
  *  pass 4  anti-joins, one per referenced dimension (broadcast by
  *          default; shuffled sort-merge when `broadcastDim = false`
  *          marks the dim too large to ship to executors);
  *  pass 5  turn-rate drift: one bucket count, then ONE grouped kernel per
  *          conversation (STL, residual fences, PSI, KS, verdict) into a
  *          single persisted frame that violations and verdicts both read.
  *
  * Verdicts are per conversation for row/series constraints (the north
  * rule's per-partition pass/fail) and global for aggregate constraints.
  */
object Validator {

  final case class Context(dims: Map[String, DataFrame] = Map.empty)

  /** Key-census RI tier fallback bound: violating keys above this count
    * are no longer "rare" — the broadcast-back would strain the driver,
    * so the tier falls back to the plain anti-join (~tens of MB of key
    * strings at the default; same order as Spark's own broadcast budget).
    * Tunable per session via `spark.graft.ri.censusMaxKeys`.
    */
  private[graft] def maxCensusBroadcastKeys(
      spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.ri.censusMaxKeys")
      .map(_.toLong).getOrElse(1000000L)

  /** `cached` lists every DataFrame validate() persisted (violations plus
    * drift intermediates). Long-running callers (resumable slice loops,
    * benchmark reps) MUST call [[Result.unpersistAll]] once the outputs are
    * materialized, or cached blocks accumulate for the session's lifetime.
    */
  final case class Result(violations: DataFrame, verdicts: DataFrame,
      cached: Seq[DataFrame] = Nil) {
    def violationCount: Long = violations.count()
    def unpersistAll(): Unit = cached.foreach(_.unpersist())
  }

  private val violationSchema = StructType(Seq(
    StructField("constraint", StringType),
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("column", StringType),
    StructField("observed", StringType),
    StructField("bound", StringType),
    StructField("severity", StringType)))

  /** A compiled row-level check over the CURRENT row only. */
  private[graft] final case class StatelessCheck(name: String,
      maxRate: Double, severity: String, column: String, violated: Column,
      observed: Column, bound: String)

  /** The stateless row-level constraint subset, compiled to Columns —
    * shared VERBATIM by the batch row-flags pass and the streaming face
    * ([[graft.streaming.StreamingRowChecks]]): these families (NotNull /
    * InSet / MatchesRegex / ValueBounds / TextEquals / Compliance /
    * ParsableAs / NoPii / MinTextQuality) read only the current row, so
    * one compile site keeps batch and stream semantics identical by
    * construction.
    * Constraints outside the subset are simply not returned (callers that
    * must refuse them compare against the input length).
    */
  private[graft] def compileStateless(cs: Seq[Constraint])
      : Seq[StatelessCheck] = cs.collect {
    case c @ NotNull(columnName, maxRate) =>
      StatelessCheck(c.name, maxRate, c.severity, columnName,
        col(columnName).isNull, lit(null).cast("string"), "not null")
    case c @ InSet(columnName, allowed, maxRate) =>
      StatelessCheck(c.name, maxRate, c.severity, columnName,
        col(columnName).isNotNull && !col(columnName).isin(allowed: _*),
        col(columnName), s"in {${allowed.mkString(",")}}")
    case c @ MatchesRegex(columnName, re, maxRate) =>
      StatelessCheck(c.name, maxRate, c.severity, columnName,
        col(columnName).isNotNull && !col(columnName).rlike(re),
        col(columnName), s"matches $re")
    case c @ ValueBounds(columnName, lo, hi, maxRate) =>
      val v = col(columnName)
      val f = (lo.map(v < _) ++ hi.map(v > _)).reduceOption(_ || _)
        .getOrElse(lit(false))
      StatelessCheck(c.name, maxRate, c.severity, columnName,
        v.isNotNull && f, v.cast("string"),
        s"[${lo.getOrElse(Double.NegativeInfinity)},${hi.getOrElse(Double.PositiveInfinity)}]")
    case c @ TextEquals(columnName, expected) =>
      StatelessCheck(c.name, 0.0, c.severity, columnName,
        !(col(columnName) <=> expected), col(columnName),
        "closed-form text")
    case c @ Compliance(label, pred, maxRate) =>
      // fails CLOSED: false or null predicate both violate; the observed
      // column carries the predicate's raw truth value
      StatelessCheck(c.name, maxRate, c.severity, label,
        !coalesce(expr(pred), lit(false)), expr(pred).cast("string"),
        s"satisfies $pred")
    case c @ ParsableAs(columnName, castTo, maxRate) =>
      // nulls are NotNull's finding; only unconvertible VALUES violate
      StatelessCheck(c.name, maxRate, c.severity, columnName,
        col(columnName).isNotNull &&
          expr(s"try_cast(`$columnName` AS $castTo)").isNull,
        col(columnName), s"castable to $castTo")
    case c @ NoPii(columnName, kinds, maxRate) =>
      // observed = the matched KIND NAMES, never the matched text (a
      // violation sink must not replicate the PII it flags); nulls are
      // NotNull's finding
      val matched = graft.text.Pii.matchedKinds(col(columnName), kinds)
      StatelessCheck(c.name, maxRate, c.severity, columnName,
        col(columnName).isNotNull && size(matched) > 0,
        concat_ws(",", matched), s"no pii (${kinds.mkString(",")})")
    case c @ MinTextQuality(columnName, minScore, maxRate) =>
      // observed = the SCORE, not the text (low-quality text is exactly
      // what a violation sink shouldn't accumulate); nulls are NotNull's
      // finding
      val score = graft.text.TextAnalysis.qualityScoreCol(col(columnName))
      StatelessCheck(c.name, maxRate, c.severity, columnName,
        col(columnName).isNotNull && score < minScore,
        score.cast("string"), s"quality >= $minScore")
    case c @ LengthBounds(columnName, lo, hi, maxRate) =>
      // observed = the LENGTH, never the text (an over-long value is
      // exactly what a violation sink shouldn't accumulate); nulls are
      // NotNull's finding
      val len = length(col(columnName))
      val f = (lo.map(len < _) ++ hi.map(len > _)).reduceOption(_ || _)
        .getOrElse(lit(false))
      StatelessCheck(c.name, maxRate, c.severity, columnName,
        col(columnName).isNotNull && f, len.cast("string"),
        s"length in [${lo.getOrElse(0L)}," +
          s"${hi.map(_.toString).getOrElse("inf")}]")
    case c @ VectorShape(columnName, dim, normLo, normHi, maxRate) =>
      // observed = WHICH legs fired (dim=…/element/norm=…), never the
      // vector itself (a float array does not belong in a violation
      // sink); a NaN element makes the norm NaN, so the norm leg is
      // guarded to never double-fire on it (the rolling-z discipline);
      // null arrays are NotNull's finding
      val v = col(columnName)
      val badDim = dim.map(d => size(v) =!= d).getOrElse(lit(false))
      val badElem = exists(v, x => x.isNull || isnan(x.cast("double")))
      val norm = sqrt(aggregate(v, lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
      val badNorm = !badElem &&
        (normLo.map(norm < _) ++ normHi.map(norm > _))
          .reduceOption(_ || _).getOrElse(lit(false))
      StatelessCheck(c.name, maxRate, c.severity, columnName,
        v.isNotNull && (badDim || badElem || badNorm),
        concat_ws(",",
          when(badDim, concat(lit("dim="), size(v).cast("string"))),
          when(badElem, lit("element")),
          when(badNorm, concat(lit("norm="), round(norm, 6).cast("string")))),
        s"vector(dim=${dim.getOrElse("*")}, " +
          s"norm in [${normLo.getOrElse(0.0)}," +
          s"${normHi.getOrElse(Double.PositiveInfinity)}])")
  }

  /** One projection emitting every configured check's violation rows:
    * each input row fans out to an array of per-check structs, filtered
    * to the violated ones and exploded — shuffle-free, codegen-friendly,
    * and legal on a STREAMING DataFrame (no state, no watermark).
    * `checks` tuples are (name, column, observed, bound, severity,
    * violated).
    */
  private[graft] def explodeChecks(base: DataFrame, keyCol: String,
      ordCol: String,
      checks: Seq[(String, String, Column, String, String, Column)])
      : DataFrame = {
    val structs = checks.map {
      case (name, column, observed, bound, severity, violated) =>
        struct(
          lit(name).as("constraint"),
          lit(column).as("column"),
          observed.cast("string").as("observed"),
          lit(bound).as("bound"),
          lit(severity).as("severity"),
          violated.as("violated"))
    }
    base.select(col(keyCol).cast("string").as("conv_id"),
        col(ordCol).cast("int").as("turn_idx"),
        array(structs: _*).as("__checks"))
      .select(col("conv_id"), col("turn_idx"),
        explode(filter(col("__checks"), x => x.getField("violated"))).as("v"))
      .select(col("v.constraint"), col("conv_id"), col("turn_idx"),
        col("v.column"), col("v.observed"), col("v.bound"), col("v.severity"))
  }

  /** The uniqueness/distinctness key census: one hash aggregation + an
    * O(1) reduction to (complete rows, groups, singleton rows). The tuple
    * reduces MAP-SIDE to a digest so text never rides the exchange — the
    * MaxDuplicateRate discipline. All-narrow tuples (numeric/boolean/
    * date/timestamp) group RAW instead: cheap, exact, and preserving SQL
    * equality (0.0 = -0.0). The digest is equivalence-preserving: each
    * component hashes to a FIXED-WIDTH md5 before the outer hash (no
    * join-separator ambiguity between ("a*","b") and ("a","*b")), binary
    * hashes its bytes directly, and fractional components normalize -0.0
    * via `+ 0.0` for parity with the raw path. q94's oracle recomputes
    * the ratios over the raw strings, digest-free, proving the reduction
    * loses nothing (modulo md5 collisions). Exposed pre-collect so
    * PlanSpec can gate the shape.
    */
  private[graft] def ratioCensusFrame(df: DataFrame,
      columns: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    val complete = columns.map(col(_).isNotNull).reduce(_ && _)
    val fieldType: Map[String, DataType] =
      df.schema.fields.map(f => f.name -> f.dataType).toMap
    val narrow = columns.forall { c =>
      fieldType.get(c).forall {
        case _: NumericType | BooleanType | DateType | TimestampType |
             TimestampNTZType => true
        case _ => false
      }
    }
    val keys: Seq[Column] =
      if (narrow) columns.map(col)
      else Seq(md5(concat(columns.map { c =>
        fieldType.get(c) match {
          case Some(BinaryType) => md5(col(c))
          case Some(DoubleType) | Some(FloatType) =>
            md5((col(c) + lit(0.0)).cast("string").cast("binary"))
          case _ => md5(col(c).cast("string").cast("binary"))
        }
      }: _*).cast("binary")).as("__kd"))
    df.where(complete)
      .groupBy(keys: _*).agg(count(lit(1)).as("__kn"))
      .agg(sum(col("__kn")).as("__tot"), count(lit(1)).as("__groups"),
        sum(when(col("__kn") === 1, 1L).otherwise(0L)).as("__uniq"))
  }

  def validate(df: DataFrame, check: Check,
      ctx: Context = Context()): Result = {
    val spark = df.sparkSession
    val key = col(check.keyCol)
    val ord = col(check.orderCol)

    // ---- pass 0: schema conformance (pure plan metadata, zero scans) -------
    // evaluated FIRST: when a declared column is MISSING, any later pass
    // that references it would die in analysis with a raw
    // UNRESOLVED_COLUMN — so on missing columns the suite SHORT-CIRCUITS
    // to the schema verdict + violation rows (the "fails loudly before any
    // scan" contract; `rows` is 0 on that path, nothing was read). Type
    // mismatches and undeclared extras don't block analysis, so the rest
    // of the suite still runs and reports alongside them.
    val schemaResults: Seq[(ExpectedSchema, Seq[(String, String, String)])] =
      check.constraints.collect { case c: ExpectedSchema =>
        c -> schemaMismatches(df, c)
      }
    val schemaViolationDfs: Seq[DataFrame] = schemaResults.map { case (c, ms) =>
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        ms.map { case (n, obs, bnd) =>
          Row(c.name, null, null, n, obs, bnd, c.severity) }.asJava,
        violationSchema)
    }
    if (schemaResults.exists(_._2.exists(_._2 == "(missing)"))) {
      import spark.implicits._
      val verdicts = schemaResults.map { case (c, ms) =>
        ("(global)", c.name, ms.isEmpty, 0L, ms.size.toLong, 0.0)
      }.toDF("partition_key", "constraint", "pass", "rows", "violations",
        "violation_rate")
      return Result(schemaViolationDfs.reduce(_ unionByName _), verdicts)
    }

    // ---- pass 1: fused global aggregation --------------------------------
    val numericCols = (check.constraints.collect {
      case c: MeanBetween => c.column
      case c: StddevBetween => c.column
      case c: QuantileBetween => c.column
      case c: RobustZ => c.column
      case c: IqrOutliers => c.column
      case c: GlobalZ => c.column
    }).distinct
    val nullCols = check.constraints.collect { case c: NotNull => c.column }.distinct
    val distinctCols = check.constraints.collect {
      case c: DistinctCountBetween => c.column }.distinct
    // (column, q, approx): approx rides percentile_approx (one-pass QTree
    // sketch, the 10^12-row path); exact percentile only where a test-scale
    // parity contract requires it. Needs are keyed by (column, q) ONLY —
    // two constraints wanting the same quantile at different approx
    // settings would otherwise emit two aggregates under ONE alias and
    // whichever resolves last would silently serve both; when they
    // disagree, exact wins for both (strictly more accurate).
    val quantileNeeds: Seq[(String, Double, Boolean)] = (check.constraints.collect {
      case c: QuantileBetween => Seq((c.column, c.q, c.approx))
      case c: RobustZ => Seq((c.column, 0.5, c.approx))
      case c: IqrOutliers => Seq((c.column, 0.25, c.approx), (c.column, 0.75, c.approx))
    }).flatten.groupBy { case (c, q, _) => (c, q) }
      .map { case ((c, q), needs) => (c, q, needs.forall(_._3)) }
      .toSeq.sortBy(t => (t._1, t._2))

    // compliance fail counts and correlations fuse into the SAME one-pass
    // aggregation: compliance is keyed by constraint position (two rules
    // may share a label), correlation by the (x, y) column pair
    val compCs: Seq[(Compliance, Int)] = check.constraints.zipWithIndex
      .collect { case (c: Compliance, i) => (c, i) }
    val parsCs: Seq[(ParsableAs, Int)] = check.constraints.zipWithIndex
      .collect { case (c: ParsableAs, i) => (c, i) }
    val piiCs: Seq[(NoPii, Int)] = check.constraints.zipWithIndex
      .collect { case (c: NoPii, i) => (c, i) }
    val qualCs: Seq[(MinTextQuality, Int)] = check.constraints.zipWithIndex
      .collect { case (c: MinTextQuality, i) => (c, i) }
    val vecCs: Seq[(VectorShape, Int)] = check.constraints.zipWithIndex
      .collect { case (c: VectorShape, i) => (c, i) }
    val lenCs: Seq[(LengthBounds, Int)] = check.constraints.zipWithIndex
      .collect { case (c: LengthBounds, i) => (c, i) }
    // the graded (maxFailRate > 0) instances of the classic hard-fail row
    // families get a [global] rate verdict like Compliance's; rate-0
    // instances keep their original verdict surface untouched (per-conv
    // hard fail — and the flagship twins/goldens stay byte-identical)
    val insetCs: Seq[(InSet, Int)] = check.constraints.zipWithIndex
      .collect { case (c: InSet, i) if c.maxFailRate > 0 => (c, i) }
    val regexCs: Seq[(MatchesRegex, Int)] = check.constraints.zipWithIndex
      .collect { case (c: MatchesRegex, i) if c.maxFailRate > 0 => (c, i) }
    val vbCs: Seq[(ValueBounds, Int)] = check.constraints.zipWithIndex
      .collect { case (c: ValueBounds, i) if c.maxFailRate > 0 => (c, i) }
    // value share: one matched count per constraint position (two bounds
    // may target the same (column, value)) + a shared non-null census
    // per distinct column
    val shareCs: Seq[(ValueShareBetween, Int)] = check.constraints.zipWithIndex
      .collect { case (c: ValueShareBetween, i) => (c, i) }
    val shareCols: Seq[String] = shareCs.map(_._1.column).distinct
    // language share: two conditional counts per (column, lang) pair —
    // the non-null census aliases by column only so two langs on one
    // column share it, not collide on it
    val langCs: Seq[LanguageShare] = check.constraints.collect {
      case c: LanguageShare => c }
    val langCols: Seq[String] = langCs.map(_.column).distinct
    val langPairs: Seq[(String, String)] =
      langCs.map(c => (c.column, c.lang)).distinct
    val corrNeeds: Seq[(String, String)] = check.constraints.collect {
      case c: CorrelationBetween => (c.x, c.y) }.distinct
    // freshness: one max(unix_micros) per distinct column — two bounds on
    // one column must share the alias, not collide on it
    val staleCols: Seq[String] = check.constraints.collect {
      case c: MaxStaleness => c.column }.distinct

    val aggExprs: Seq[Column] =
      Seq(count(lit(1)).as("__rows")) ++
      compCs.map { case (c, i) =>
        // fails closed; the ONE compile site's predicate, like ParsableAs
        count(when(compileStateless(Seq(c)).head.violated, 1))
          .as(s"__comp__$i") } ++
      parsCs.map { case (c, i) =>
        // the ONE compile site's predicate, so the global count can never
        // drift from the per-row violations it summarizes
        count(when(compileStateless(Seq(c)).head.violated, 1))
          .as(s"__pars__$i") } ++
      piiCs.map { case (c, i) =>
        // the ONE compile site's predicate, like ParsableAs
        count(when(compileStateless(Seq(c)).head.violated, 1))
          .as(s"__pii__$i") } ++
      qualCs.map { case (c, i) =>
        // the ONE compile site's predicate, like ParsableAs
        count(when(compileStateless(Seq(c)).head.violated, 1))
          .as(s"__qual__$i") } ++
      vecCs.map { case (c, i) =>
        // the ONE compile site's predicate, like ParsableAs
        count(when(compileStateless(Seq(c)).head.violated, 1))
          .as(s"__vec__$i") } ++
      lenCs.map { case (c, i) =>
        // the ONE compile site's predicate, like ParsableAs
        count(when(compileStateless(Seq(c)).head.violated, 1))
          .as(s"__len__$i") } ++
      (insetCs.map { case (c, i) => (c: Constraint, i, "__inset__") } ++
        regexCs.map { case (c, i) => (c: Constraint, i, "__regex__") } ++
        vbCs.map { case (c, i) => (c: Constraint, i, "__vb__") })
        .map { case (c, i, prefix) =>
          // the ONE compile site's predicate, like ParsableAs
          count(when(compileStateless(Seq(c)).head.violated, 1))
            .as(s"$prefix$i") } ++
      // value share: matched count per constraint + shared non-null
      // census per column (LanguageShare's shape, string-form equality)
      shareCs.map { case (c, i) =>
        count(when(col(c.column).isNotNull &&
            col(c.column).cast("string") === c.value, 1))
          .as(s"__share__$i") } ++
      shareCols.map(cn =>
        count(when(col(cn).isNotNull, 1)).as(s"__sharen__$cn")) ++
      // language mix: matched count per (column, lang) + the shared
      // non-null census per column — the counts read the ONE pre-projected
      // __langpred__ column (see statsInput below), so the langId array
      // fold runs once per row per column however many langs are bounded
      langPairs.map { case (cn, lang) =>
        count(when(col(cn).isNotNull &&
            col(s"__langpred__$cn") === lang, 1))
          .as(s"__lang__${cn}__$lang") } ++
      langCols.map(cn =>
        count(when(col(cn).isNotNull, 1)).as(s"__langn__$cn")) ++
      corrNeeds.flatMap { case (x, y) =>
        // r assembled DRIVER-SIDE from covar_samp and the two stddevs:
        // corr() itself divides in-plan and ANSI mode throws
        // DIVIDE_BY_ZERO on a constant column — here a zero stddev
        // degrades to the undefined-r "no signal" verdict instead.
        // NaN scrub: the when() turns a NaN-or-null-side row into a null
        // PAIR, which every moment then skips (complete-pairs semantics,
        // parity with SQL corr)
        val ok = !isnan(col(x).cast("double")) && !isnan(col(y).cast("double"))
        val wx = when(ok, col(x).cast("double"))
        val wy = when(ok, col(y).cast("double"))
        Seq(covar_samp(wx, wy).as(s"__corrcv__${x}__${y}"),
          stddev_samp(wx).as(s"__corrsx__${x}__${y}"),
          stddev_samp(wy).as(s"__corrsy__${x}__${y}")) } ++
      // cast("timestamp") first: unix_micros rejects TIMESTAMP_NTZ; the
      // NTZ→TS cast applies the SESSION tz, and pass 11b interprets asOf
      // in that same zone, so the offset cancels and lag is the plain
      // wall-clock difference in any session zone — the Sessions.withGap
      // idiom
      staleCols.map(c =>
        max(unix_micros(col(c).cast("timestamp"))).as(s"__maxts__$c")) ++
      nullCols.map(c => count(when(col(c).isNull, 1)).as(s"__nulls__$c")) ++
      numericCols.flatMap { c => Seq(
        avg(col(c)).as(s"__mean__$c"),
        stddev_samp(col(c)).as(s"__stds__$c"),
        stddev_pop(col(c)).as(s"__stdp__$c")) } ++
      distinctCols.map(c => approx_count_distinct(col(c)).as(s"__hll__$c")) ++
      quantileNeeds.map { case (c, q, approx) =>
        // Column API, not SQL text: a non-identifier column name ("a-b",
        // a reserved word, a dotted name) must stay a column reference
        val fn = if (approx) percentile_approx(col(c), lit(q), lit(10000))
          else percentile(col(c), lit(q))
        fn.as(s"__q${q}__$c") }

    // the collect is skipped when NO constraint consumes a global stat —
    // a schema-only suite stays metadata-only (zero scans of the table);
    // every stat()/totalRows consumer below implies needsStats = true
    val needsStats = aggExprs.size > 1 ||
      check.constraints.exists { case _: MinRows => true; case _ => false }
    // langId evaluated ONCE per column in a pre-projection: lambda
    // subtrees are excluded from Catalyst's common-subexpression
    // elimination (the TextAnalysis.langId single-pass rationale), so
    // per-(column, lang) folds in the agg would re-walk the token array
    // once per configured language
    val statsInput = if (langCols.isEmpty) df else
      langCols.foldLeft(df)((d, cn) => d.withColumn(s"__langpred__$cn",
        graft.text.TextAnalysis.langId(col(cn))))
    val statsRow: Row =
      if (needsStats)
        statsInput.agg(aggExprs.head, aggExprs.tail: _*).collect()(0)
      else null
    def stat(name: String): Double = statsRow.getAs[Any](name) match {
      case null => Double.NaN
      case d: Double => d
      // percentile_approx/avg preserve the input type: Float, Decimal,
      // Short... all are java.lang.Number (incl. java.math.BigDecimal)
      case n: java.lang.Number => n.doubleValue
      case other => throw new IllegalStateException(
        s"non-numeric stat $name: ${other.getClass}")
    }
    val totalRows: Long =
      if (needsStats) statsRow.getAs[Long]("__rows") else 0L

    // ---- pass 1b: MAD for RobustZ ----------------------------------------
    val madCols = check.constraints.collect { case c: RobustZ => (c.column, c.approx) }
      .distinct
    val mads: Map[String, Double] = if (madCols.nonEmpty) {
      // Column composition, NOT string interpolation: an all-null column
      // yields med = NaN, and "abs(c - NaN)" as SQL text parses `NaN` as a
      // column reference → AnalysisException at plan time. lit(med) keeps
      // NaN a literal; the aggregate then returns null and the constraint
      // degrades to a clean no-signal verdict (mad = 0 → no flags).
      val exprs = madCols.map { case (c, approx) =>
        val dev = abs(col(c) - lit(stat(s"__q0.5__$c")))
        val fn = if (approx) percentile_approx(dev, lit(0.5), lit(10000))
          else percentile(dev, lit(0.5))
        fn.as(s"__mad__$c")
      }
      val r = df.agg(exprs.head, exprs.tail: _*).collect()(0)
      madCols.map { case (c, _) =>
        c -> (r.getAs[Any](s"__mad__$c") match {
          case null => Double.NaN
          case d: Double => d
        })
      }.toMap
    } else Map.empty

    // ---- pass 2: row-level flags → violation rows -------------------------
    case class RowCheck(c: Constraint, column: String, violated: Column,
        observed: Column, bound: String)

    // small dimensions compile REFERENTIAL INTEGRITY to an inline isin row
    // check fused into the single row-flags projection — no anti-join
    // stage, no per-action broadcast build. Big dims (> 1024 values) keep
    // the broadcast anti-join (the only shape that works when the dim
    // itself is large). The probe is one tiny plan-time job per dim.
    // Keyed by (dim, dimColumn): two RI constraints probing DIFFERENT
    // columns of the same dimension must not collide on the dim name alone.
    val inlineDimValues: Map[(String, String), Seq[Any]] = check.constraints.collect {
      case ReferentialIntegrity(_, dimName, dimCol, _, bcast, census) =>
        (dimName, dimCol, bcast, census)
    }.groupBy { case (d, c, _, _) => (d, c) }.map { case ((dimName, dimCol), uses) =>
      val dim = ctx.dims.getOrElse(dimName,
        throw new IllegalArgumentException(s"dimension '$dimName' not registered"))
      // broadcastDim=false (and likewise keyCensus=true) declares the dim
      // too large to ship — don't pay a full distinct shuffle probing for
      // <=1024 values it cannot have
      val wantProbe = uses.exists { case (_, _, bcast, census) => bcast && !census }
      // a dim whose optimized plan is already a LocalRelation (registered
      // from a literal Seq — role/tool dims) needs NO Spark job to probe:
      // its rows live on the driver, so the distinct is a driver-side set
      // (guide §1.2: one less job per validate; the bench suite pays this
      // probe twice per suite pass)
      val localRows: Option[Seq[Any]] = dim.queryExecution.optimizedPlan match {
        case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          val idx = lr.output.indexWhere(_.name == dimCol)
          if (idx < 0) None
          else {
            val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
              .createToScalaConverter(lr.output(idx).dataType)
            Some(lr.data.iterator.map(r => conv(r.get(idx, lr.output(idx).dataType)))
              .toSeq.distinct)
          }
        case _ => None
      }
      val probe =
        if (!wantProbe) null
        else localRows match {
          case Some(vs) if vs.length <= 1024 => vs.toArray
          case Some(_) => Array.fill[Any](1025)(null) // too big: anti-join tier
          case None =>
            dim.select(col(dimCol)).distinct().limit(1025).collect()
              .map(_.get(0))
        }
      (dimName, dimCol) ->
        (if (probe != null && probe.length <= 1024) probe.toSeq else null)
    }

    val rowChecks: Seq[RowCheck] = check.constraints.flatMap {
      case c @ ReferentialIntegrity(columnName, dimName, dimCol, nullOk, _, census)
          if !census && inlineDimValues((dimName, dimCol)) != null =>
        val values = inlineDimValues((dimName, dimCol))
        // coalesce in BOTH branches: a NULL in the dim's value list makes
        // isin yield null for non-members, which `!` would swallow and the
        // violation would silently vanish (diverging from the anti-join path)
        val in = col(columnName).isin(values: _*)
        val violated = if (nullOk) col(columnName).isNotNull && !coalesce(in, lit(false))
          else col(columnName).isNull || !coalesce(in, lit(false))
        Some(RowCheck(c, columnName, violated, col(columnName),
          s"in dim $dimName.$dimCol"))
      // the stateless families compile through the ONE shared site
      // the streaming face also uses (batch/stream semantic parity by
      // construction — see compileStateless)
      case c @ (_: NotNull | _: InSet | _: MatchesRegex | _: ValueBounds |
          _: TextEquals | _: Compliance | _: ParsableAs | _: NoPii |
          _: MinTextQuality | _: VectorShape | _: LengthBounds) =>
        val sc = compileStateless(Seq(c)).head
        Some(RowCheck(c, sc.column, sc.violated, sc.observed, sc.bound))
      case c @ GlobalZ(columnName, t) =>
        val mu = stat(s"__mean__$columnName"); val sd = stat(s"__stdp__$columnName")
        val z = (col(columnName) - mu) / sd
        Some(RowCheck(c, columnName,
          if (sd > 0) abs(z) > t else lit(false),
          col(columnName).cast("string"), s"|z|<=$t"))
      case c @ RobustZ(columnName, t, _) =>
        val med = stat(s"__q0.5__$columnName"); val mad = mads(columnName)
        val rz = lit(0.6745) * (col(columnName) - med) / mad
        Some(RowCheck(c, columnName,
          if (mad > 0) abs(rz) > t else lit(false),
          col(columnName).cast("string"), s"|rz|<=$t"))
      case c @ IqrOutliers(columnName, k, _) =>
        val q1 = stat(s"__q0.25__$columnName"); val q3 = stat(s"__q0.75__$columnName")
        val lo = q1 - k * (q3 - q1); val hi = q3 + k * (q3 - q1)
        // NaN fences (a column >=25% NaN puts a quantile in the NaN
        // region — Spark sorts NaN greatest) degrade to "no signal" like
        // GlobalZ's sd>0 / RobustZ's mad>0 guards: `v < NaN` is TRUE for
        // every non-NaN value, which would flag every healthy row
        Some(RowCheck(c, columnName,
          if (lo.isNaN || hi.isNaN) lit(false)
          else col(columnName) < lo || col(columnName) > hi,
          col(columnName).cast("string"), s"[$lo,$hi]"))
      case _ => None
    }

    def explodeViolations(base: DataFrame, checks: Seq[RowCheck]): DataFrame =
      explodeChecks(base, check.keyCol, check.orderCol,
        checks.map(rc =>
          (rc.c.name, rc.column, rc.observed, rc.bound, rc.c.severity,
            rc.violated)))

    // plain row flags: shuffle-free projection over the scan
    val rowViolations: DataFrame = if (rowChecks.nonEmpty)
      explodeViolations(df, rowChecks)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], violationSchema)

    val fusedUnique = fusedUniqueKey(check)

    def uniqueRows(u: UniqueKey, src: DataFrame, nCol: Column): DataFrame =
      src.select(lit(u.name).as("constraint"),
        // a key tuple without keyCol groups ACROSS conversations — the
        // grouped frame has no keyCol to attribute (same sentinel idea as
        // turn_idx = -1 below; these roll up under the (global) verdict)
        (if (u.columns.contains(check.keyCol)) key.cast("string")
         else lit("(global)")).as("conv_id"),
        (if (u.columns.contains(check.orderCol)) ord.cast("int")
         else lit(-1)).as("turn_idx"),
        lit(u.columns.mkString(",")).as("column"),
        nCol.cast("string").as("observed"),
        lit("1 copy").as("bound"),
        lit(u.severity).as("severity"))

    val windowViolations = rollingZViolations(df, check)

    // ---- pass 3: uniqueness (non-fused key tuples) --------------------------
    val uniqueViolations: Seq[DataFrame] = check.constraints.collect {
      case c @ UniqueKey(cols) if !fusedUnique.contains(c) =>
        uniqueRows(c,
          df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__n"))
            .where(col("__n") > 1),
          col("__n"))
    }

    // ---- pass 3b: index density (one hash aggregation each) -----------------
    // groupBy key → min/max/count-distinct of the order column; a
    // conversation passes iff its indices are exactly {base .. base+n−1}.
    // Only (key, ord) ride the aggregation (map-side combined); duplicate
    // indices are UniqueKey's finding and don't fail density, null indices
    // are NotNull's finding and are skipped.
    val contiguousViolations: Seq[DataFrame] = check.constraints.collect {
      case c @ ContiguousIndex(base) =>
        df.where(key.isNotNull && ord.isNotNull)
          .groupBy(key)
          .agg(min(ord).as("__min"), max(ord).as("__max"),
            countDistinct(ord).as("__nd"))
          .where(col("__min") =!= base ||
            col("__max") =!= col("__nd") + lit(base - 1))
          .select(lit(c.name).as("constraint"),
            key.cast("string").as("conv_id"),
            lit(-1).as("turn_idx"),
            lit(check.orderCol).as("column"),
            concat_ws(",",
              concat(lit("min="), col("__min").cast("string")),
              concat(lit("max="), col("__max").cast("string")),
              concat(lit("distinct="), col("__nd").cast("string")))
              .as("observed"),
            lit(s"dense from $base").as("bound"),
            lit(c.severity).as("severity"))
      // conversation-length bound: groupBy key → count (map-side
      // combined; only the key rides the exchange), fail outside
      // [lo, hi]; null-key rows group under no conversation (NotNull's
      // finding)
      case c @ TurnCountBetween(lo, hi) =>
        df.where(key.isNotNull)
          .groupBy(key)
          .agg(count(lit(1)).as("__n"))
          .where(col("__n") < lo || col("__n") > hi)
          .select(lit(c.name).as("constraint"),
            key.cast("string").as("conv_id"),
            lit(-1).as("turn_idx"),
            lit(check.keyCol).as("column"),
            concat(lit("n="), col("__n").cast("string")).as("observed"),
            lit(s"turns in [$lo,$hi]").as("bound"),
            lit(c.severity).as("severity"))
    }

    // ---- pass 4: referential integrity (broadcast anti-join; big dims
    // only — small dims were compiled into the row-flags pass above) ------
    val censusCached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val refViolations: Seq[DataFrame] = check.constraints.collect {
      case c @ ReferentialIntegrity(columnName, dimName, dimCol, nullOk, bcast,
          census)
          if census || inlineDimValues((dimName, dimCol)) == null =>
        val dim = ctx.dims(dimName)
        val base = if (nullOk) df.where(col(columnName).isNotNull) else df
        // broadcastDim=false: the dim is too large to ship to every
        // executor -- shuffle both sides and let the planner sort-merge
        val dimKeys = dim.select(col(dimCol).as(columnName)).distinct()
        def antiJoin(left: DataFrame): DataFrame =
          left.join(if (bcast) broadcast(dimKeys) else dimKeys,
            Seq(columnName), "left_anti")
        val joined = if (!census) antiJoin(base) else {
          // key-census tier: at 10^12 fact rows × huge dim with RARE
          // violations, anti-joining full fact rows shuffles the fact.
          // Instead anti-join the fact's DISTINCT keys (map-side combined
          // — only key values ride the exchange) and broadcast the
          // violating keys back as an inner join: the fact never shuffles.
          // Null keys cannot ride the broadcast-back EQUI-join (null never
          // equi-matches), so the census runs over NON-null keys and the
          // null-key rows (violations whenever nullOk=false — a null can
          // never resolve) union back explicitly: identical violation set
          // to the anti-join tier, whose left_anti naturally keeps nulls.
          val nn = base.where(col(columnName).isNotNull)
          val badKeys = antiJoin(nn.select(col(columnName)).distinct())
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val matched =
            if (badKeys.count() <= maxCensusBroadcastKeys(spark)) {
              censusCached += badKeys
              nn.join(broadcast(badKeys), Seq(columnName), "inner")
            } else {
              // mass violation — the rare-violation premise is void; fall
              // back to the plain anti-join tier (still correct, and the
              // broadcast that would have OOM'd the driver never builds)
              badKeys.unpersist()
              antiJoin(nn)
            }
          if (nullOk) matched
          else matched.unionByName(base.where(col(columnName).isNull))
        }
        joined
          .select(lit(c.name).as("constraint"),
            key.cast("string").as("conv_id"),
            ord.cast("int").as("turn_idx"),
            lit(columnName).as("column"),
            col(columnName).cast("string").as("observed"),
            lit(s"in dim $dimName.$dimCol").as("bound"),
            lit(c.severity).as("severity"))
    }

    // ---- pass 5: turn-rate drift -------------------------------------------
    val driftResults: Seq[(DataFrame, DataFrame, Seq[DataFrame])] =
      check.constraints.collect {
        case c: TurnRateDrift => turnRateDrift(df, check, c)
      }

    // ---- pass 6: key-share skew guard ---------------------------------------
    // Misra–Gries sketch pass + exact recount of the ≤k candidates (see
    // graft.agg.FreqItems): two extra scans per constraint, O(k) state, no
    // full-table groupBy. Offenders are ≤ 1/maxFrac keys by pigeonhole, so
    // collecting them to build verdict rows is bounded by construction.
    val keyShareVerdicts: Seq[DataFrame] = check.constraints.collect {
      case c: MaxKeyShare =>
        require(c.k >= 2.0 / c.maxFrac,
          s"${c.name}: k=${c.k} below the 2/maxFrac guarantee bound")
        import spark.implicits._
        // the census shares, thresholds, and rates are all over the
        // NON-NULL key count (census.n) — one consistent denominator;
        // a null mega-key is NotNull's finding, not this constraint's
        val census = graft.agg.FreqItems
          .heavyHittersCensus(df, c.column, c.k, 1.0 / c.maxFrac)
        val nKeys = math.max(1L, census.n)
        val hot = census.hot
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val perKey = hot.map { case (k0, cnt) =>
          (k0, c.name, false, cnt, cnt, cnt.toDouble / nKeys.toDouble)
        }
        val global = ("(global)", c.name, hot.isEmpty, census.n,
          hot.size.toLong, hot.size.toDouble / nKeys.toDouble)
        (perKey :+ global)
          .toDF("partition_key", "constraint", "pass", "rows", "violations",
            "violation_rate")
    }

    // ---- pass 7: fused sequence pass (ONE shared exchange) ------------------
    // MaxSessionGap / AllowedTransitions / Monotonic / NoConsecutiveRepeats
    // all read per-conversation adjacency, so every one of them rides ONE
    // pruned projection through ONE exchange on the key: the gap check
    // sorts by (ts, ord) (time order, as Sessions.assign), the grammar /
    // order / repeat checks by (ord, ts) — two Sort operators over the same
    // partitioning, zero extra shuffles. Text never rides the exchange:
    // NoConsecutiveRepeats compares a map-side md5 digest computed BEFORE
    // the shuffle (32 hex chars vs kilobytes of payload at 10^12 turns).
    // Tie-break note: duplicate (key, ord) rows in this domain are exact
    // copies (uniqueness's finding), so either tie order yields the same
    // violation multiset.
    val gapCs = check.constraints.collect { case c: MaxSessionGap => c }
    val transCs = check.constraints.collect { case c: AllowedTransitions => c }
    val monoCs = check.constraints.collect { case c: Monotonic => c }
    val repCs = check.constraints.collect { case c: NoConsecutiveRepeats => c }
    val sequenceViolations: Seq[DataFrame] =
      if (gapCs.isEmpty && transCs.isEmpty && monoCs.isEmpty && repCs.isEmpty)
        Nil
      else {
        val valueCols = (transCs.map(_.column) ++ monoCs.map(_.column))
          .distinct.filterNot(Set(check.keyCol, check.orderCol, check.tsCol))
        val digestAlias = repCs.map(_.column).distinct
          .map(c => c -> s"__seq_md5_$c").toMap
        val pruned = df.select(
          (Seq(key, ord, col(check.tsCol)) ++ valueCols.map(col) ++
            digestAlias.toSeq.map { case (c, a) =>
              md5(col(c).cast("string")).as(a)
            }): _*)
        val withGap = if (gapCs.nonEmpty)
          graft.series.Sessions.withGap(pruned, check.keyCol, check.tsCol,
            check.orderCol)
        else pruned
        val wOrd = Window.partitionBy(key).orderBy(ord, col(check.tsCol))
        val lagAlias: Map[String, String] =
          ((transCs.map(_.column) ++ monoCs.map(_.column)).distinct ++
            digestAlias.values)
            .map(c => c -> s"__seq_prev_$c").toMap
        val aug0 = lagAlias.foldLeft(withGap) { case (d, (c, a)) =>
          d.withColumn(a, lag(col(c), 1).over(wOrd))
        }
        val aug = if (transCs.nonEmpty)
          aug0.withColumn("__seq_rn", row_number().over(wOrd))
        else aug0
        val checks: Seq[RowCheck] =
          gapCs.map { c =>
            RowCheck(c, check.tsCol,
              coalesce(col("__gap_us") > c.maxGapSeconds * 1000000L,
                lit(false)),
              col("__gap_us") / lit(1e6), s"gap<=${c.maxGapSeconds}s")
          } ++
          transCs.map { c =>
            val curr = col(c.column)
            val prev = col(lagAlias(c.column))
            val pairOk = c.allowed
              .map { case (a, b) => prev === a && curr === b }
              .reduceOption(_ || _).getOrElse(lit(false))
            val midViol = prev.isNotNull && curr.isNotNull && !pairOk
            val firstViol = c.firstIn match {
              case Some(opening) =>
                curr.isNotNull && !curr.isin(opening: _*)
              case None => lit(false)
            }
            RowCheck(c, c.column,
              coalesce(when(col("__seq_rn") === 1, firstViol)
                .otherwise(midViol), lit(false)),
              when(col("__seq_rn") === 1, curr)
                .otherwise(concat_ws("->", prev, curr)),
              s"in {${c.allowed.map { case (a, b) => s"$a->$b" }.mkString(",")}}" +
                c.firstIn.map(o => s" first in {${o.mkString(",")}}")
                  .getOrElse(""))
          } ++
          monoCs.map { c =>
            val curr = col(c.column)
            val prev = col(lagAlias(c.column))
            val broke = if (c.strict) curr <= prev else curr < prev
            RowCheck(c, c.column,
              coalesce(prev.isNotNull && curr.isNotNull && broke, lit(false)),
              curr, if (c.strict) "increasing" else "non-decreasing")
          } ++
          repCs.map { c =>
            val h = col(digestAlias(c.column))
            val ph = col(lagAlias(digestAlias(c.column)))
            RowCheck(c, c.column,
              coalesce(ph.isNotNull && h.isNotNull && h === ph, lit(false)),
              h, "differs from previous")
          }
        Seq(explodeViolations(aug, checks))
      }

    // ---- pass 9: functional dependencies (one hash aggregation each) --------
    // groupBy determinant → count(distinct dependent), partial-agg
    // friendly; a group with >1 dependent value is one violation row with
    // the census observed. Null determinant components are skipped (a null
    // cannot "determine"; NotNull owns it), null dependents never count.
    val fdViolations: Seq[DataFrame] = check.constraints.collect {
      case c @ FunctionalDependency(dets, dep) =>
        require(dets.nonEmpty, s"${c.name}: empty determinant")
        df.where(dets.map(col(_).isNotNull).reduce(_ && _))
          .groupBy(dets.map(col): _*)
          .agg(countDistinct(col(dep)).as("__n_dep"))
          .where(col("__n_dep") > 1)
          .select(lit(c.name).as("constraint"),
            (if (dets.contains(check.keyCol)) key.cast("string")
             else lit("(global)")).as("conv_id"),
            lit(-1).as("turn_idx"),
            lit(dep).as("column"),
            col("__n_dep").cast("string").as("observed"),
            lit(s"1 value of $dep per (${dets.mkString(",")})").as("bound"),
            lit(c.severity).as("severity"))
    }

    // ---- pass 8: point-in-time referential integrity ------------------------
    // the as-of join resolves each turn against the newest snapshot at or
    // before its ts; an unresolved marker is the violation. Fact side is
    // pruned to 4 scalar columns before either tier (the shuffle tier
    // repartitions the fact — text must never ride that exchange).
    val asofViolations: Seq[DataFrame] = check.constraints.collect {
      case c @ AsOfIntegrity(columnName, dimName, dimCol, dimTs, gran,
          nullOk, bcast) =>
        val dim = ctx.dims.getOrElse(dimName,
          throw new IllegalArgumentException(s"dimension '$dimName' not registered"))
        val pruned0 = df.select(key, ord, col(check.tsCol), col(columnName))
        val pruned = if (nullOk) pruned0.where(col(columnName).isNotNull)
          else pruned0
        // dim ts renamed: it may legitimately share the fact ts's name
        val dimSnaps = dim.select(col(dimCol).as(columnName),
          col(dimTs).as("__dim_ts"), lit(1).as("__asof_ok"))
        val resolved =
          if (bcast) graft.join.AsOf.joinAsOf(pruned, dimSnaps,
            Seq(columnName), check.tsCol, "__dim_ts", gran, Seq("__asof_ok"))
          else graft.join.AsOf.joinAsOfShuffle(pruned, dimSnaps,
            Seq(columnName), check.tsCol, "__dim_ts", Seq("__asof_ok"))
        resolved.where(col("__asof_ok").isNull)
          .select(lit(c.name).as("constraint"),
            key.cast("string").as("conv_id"),
            ord.cast("int").as("turn_idx"),
            lit(columnName).as("column"),
            col(columnName).cast("string").as("observed"),
            lit(s"as-of in $dimName.$dimCol@$dimTs").as("bound"),
            lit(c.severity).as("severity"))
    }

    // ---- pass 9: distribution drift vs a reference table --------------------
    // PSI of the validated column against a blessed baseline dimension —
    // the snapshot-regression check. One quantile pass over the baseline,
    // a broadcast of its bins−1 edges, a codegen'd bin lambda over the
    // current side; the single PSI row collects on the driver like the
    // fused global stats (a 1-row aggregate, sanctioned).
    val distDriftResults: Seq[(Option[DataFrame], DataFrame)] =
      check.constraints.collect {
        case c @ DistributionDrift(columnName, dimName, dimCol, maxPsi, bins,
            maxKs) =>
          val dim = ctx.dims.getOrElse(dimName,
            throw new IllegalArgumentException(
              s"dimension '$dimName' not registered"))
          val sided = dim
            .select(col(dimCol).cast("double").as("__v"))
            .where(col("__v").isNotNull && !isnan(col("__v")))
            .withColumn("__side", lit("baseline"))
            .unionByName(df
              .select(col(columnName).cast("double").as("__v"))
              .where(col("__v").isNotNull && !isnan(col("__v")))
              .withColumn("__side", lit("current")))
            .withColumn("__k", lit(1))
          // ONE distinct-value side census feeds both the PSI and the KS
          // collect; persisted across the two actions when KS is on, so
          // the raw sides are scanned once per suite instead of once per
          // statistic. The census is bounded by the DISTINCT value count
          // (not rows) — far smaller than the r5-rejected idea of caching
          // the raw `sided` union; at the 10^12-row continuous-value
          // extreme (census ~ rows) the documented scale path remains
          // Drift.ksSketch, as before.
          val census = graft.series.Drift
            .sideCensus(sided, "__v", "__side", Seq("__k"))
          if (maxKs.isDefined)
            census.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val psiRows = graft.series.Drift
            .psiFromCensus(census, Seq("__k"), bins)
            .select(col("psi"), col("n_cur")).collect()
          // null / absent PSI = one side empty after null-scrub: "no
          // signal", passes — emptiness is MinRows' finding
          val psiVal: Option[Double] =
            if (psiRows.isEmpty || psiRows(0).isNullAt(0)) None
            else Some(psiRows(0).getDouble(0))
          // KS half (opt-in): exact tie-correct two-sample D over the
          // same persisted census
          val ksVal: Option[Double] = maxKs.flatMap { _ =>
            val rows = graft.series.Drift
              .ksFromCensus(census, Seq("__k"))
              .select(col("ks")).collect()
            if (rows.isEmpty || rows(0).isNullAt(0)) None
            else Some(rows(0).getDouble(0))
          }
          if (maxKs.isDefined) census.unpersist()
          val psiFailed = psiVal.exists(_ > maxPsi)
          val ksFailed = (maxKs, ksVal) match {
            case (Some(mk), Some(k)) => k > mk
            case _ => false
          }
          val breaches: Seq[(String, String)] =
            (if (psiFailed) Seq(psiVal.get.toString ->
              s"psi<=$maxPsi vs $dimName.$dimCol") else Nil) ++
            (if (ksFailed) Seq(ksVal.get.toString ->
              s"ks<=${maxKs.get} vs $dimName.$dimCol") else Nil)
          val violationDf: Option[DataFrame] =
            if (breaches.isEmpty) None
            else {
              import scala.jdk.CollectionConverters._
              Some(spark.createDataFrame(
                breaches.map { case (obs, bound) =>
                  Row(c.name, "(global)", -1, columnName, obs, bound,
                    c.severity) }.asJava,
                violationSchema))
            }
          import spark.implicits._
          // rows = the current side's census, not the fused-stats
          // totalRows: a drift-only suite never runs the stats pass and a
          // hardcoded 0 would read as "nothing scanned" (entropy precedent)
          val curN =
            if (psiRows.isEmpty || psiRows(0).isNullAt(1)) 0L
            else psiRows(0).getLong(1)
          val verdictDf = Seq(("(global)", c.name, breaches.isEmpty, curN,
              breaches.size.toLong, 0.0))
            .toDF("partition_key", "constraint", "pass", "rows",
              "violations", "violation_rate")
          (violationDf, verdictDf)
      }

    // ---- pass 10: duplicate-rate bound ---------------------------------------
    // (n − distinct)/n over non-null values of the column, the declarative
    // face of exact/normalized dedup. Rows reduce map-side to a 16-byte
    // digest (the value itself never rides the shuffle); the exact tier is
    // a two-stage hash aggregation over digests, the approx tier a single
    // HLL aggregate with O(1) state. One-row collect, like the fused stats.
    val dupRateResults: Seq[(Option[DataFrame], DataFrame)] =
      check.constraints.collect {
        case c @ MaxDuplicateRate(columnName, maxRate, normalized, approx) =>
          val digest =
            if (normalized)
              graft.text.TextAnalysis.fingerprint(col(columnName).cast("string"))
            else md5(col(columnName).cast("string"))
          val base = df.where(col(columnName).isNotNull)
            .select(digest.as("__digest"))
          val distinctAgg =
            if (approx) approx_count_distinct(col("__digest")).as("d")
            else countDistinct(col("__digest")).as("d")
          val row = base.agg(count(lit(1)).as("n"), distinctAgg).collect()(0)
          val n = row.getLong(0)
          val d = row.getLong(1)
          // HLL can overshoot n on small inputs — a negative "rate" is noise
          val rate = if (n == 0L) 0.0
            else math.max(0.0, (n - d).toDouble / n.toDouble)
          val failed = n > 0L && rate > maxRate
          val violationDf: Option[DataFrame] =
            if (!failed) None
            else {
              import scala.jdk.CollectionConverters._
              Some(spark.createDataFrame(
                Seq(Row(c.name, "(global)", -1, columnName,
                  rate.toString, s"dup_rate<=$maxRate", c.severity)).asJava,
                violationSchema))
            }
          import spark.implicits._
          // rows = the dup census (non-null values examined), not the
          // fused-stats totalRows — a dup-rate-only suite never runs the
          // stats pass and a hardcoded 0 would read as "nothing scanned"
          val verdictDf = Seq(("(global)", c.name, !failed, n,
              if (failed) 1L else 0L, rate))
            .toDF("partition_key", "constraint", "pass", "rows",
              "violations", "violation_rate")
          (violationDf, verdictDf)
      }

    // ---- pass 10c: time-bucket coverage ---------------------------------------
    // one hash aggregation on the truncated bucket (only the bucket
    // timestamp rides the exchange, map-side combined); the census is
    // collected driver-side — bounded by span/bucket, the constraint's
    // documented contract — and the span-complete bucket axis is walked
    // in fixed UTC steps so a silent mid-range hole (count 0) surfaces
    val coverageResults: Seq[(Option[DataFrame], DataFrame)] =
      check.constraints.collect {
        case c @ TimeBucketCoverage(columnName, bucket, minRowsBound) =>
          val stepSec = bucket match {
            case "minute" => 60L
            case "hour" => 3600L
            case "day" => 86400L
            case "week" => 604800L
          }
          // DST guard (r5 ADVICE): date_trunc uses the SESSION zone while
          // the axis below steps fixed epoch seconds — under a
          // DST-observing zone, day/week truncation shifts by an hour
          // twice a year and healthy buckets would report starved. Refuse
          // loudly at bucket >= day unless the session zone is
          // fixed-offset (mains pin UTC; this makes the library enforce
          // what the mains assumed).
          if (stepSec >= 86400L) {
            val zone = spark.conf.get("spark.sql.session.timeZone")
            val rules = java.time.ZoneId.of(zone).getRules
            require(rules.isFixedOffset,
              s"time_bucket_coverage($bucket) needs a fixed-offset session " +
                s"timeZone (got '$zone'): DST shifts would misalign the " +
                "fixed-step bucket axis and report false starvation")
          }
          // cast("timestamp") first: date_trunc/unix_timestamp on an NTZ
          // column (the MaxStaleness discipline; identity under the UTC
          // session zone)
          val censusRows = df.where(col(columnName).isNotNull)
            .groupBy(date_trunc(bucket,
              col(columnName).cast("timestamp")).as("__b"))
            .agg(count(lit(1)).as("__n"))
            .select(unix_timestamp(col("__b")).as("__e"), col("__n"))
            .collect()
          val census = censusRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
          // span cap (r5 ADVICE/VERDICT item 5): ONE corrupt timestamp
          // (epoch 0) makes span/bucket enormous — a minute census over
          // decades would materialize tens of millions of driver tuples
          // and a comparably huge violation frame. Refuse loudly past the
          // cap instead of silently thrashing the driver; the bound is
          // config-tunable for genuinely long healthy spans.
          val maxSpanBuckets = spark.conf
            .getOption("spark.graft.coverage.maxSpanBuckets")
            .map(_.toLong).getOrElse(1000000L)
          if (census.nonEmpty) {
            val span = (census.keys.max - census.keys.min) / stepSec + 1L
            require(span <= maxSpanBuckets,
              s"time_bucket_coverage($bucket) span is $span buckets > cap " +
                s"$maxSpanBuckets (spark.graft.coverage.maxSpanBuckets) — " +
                "likely a corrupt timestamp; bound the column's range " +
                "(value_bounds / freshness) or coarsen the bucket first")
          }
          val starved: Seq[(Long, Long)] =
            if (census.isEmpty) Nil
            else {
              val lo = census.keys.min
              val hi = census.keys.max
              (lo to hi by stepSec).iterator
                .map(e => e -> census.getOrElse(e, 0L))
                .filter(_._2 < minRowsBound).toSeq
            }
          val fmt = java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss")
            .withZone(java.time.ZoneOffset.UTC)
          val violationDf: Option[DataFrame] =
            if (starved.isEmpty) None
            else {
              import scala.jdk.CollectionConverters._
              Some(spark.createDataFrame(
                starved.map { case (e, n) =>
                  Row(c.name, "(global)", -1, columnName,
                    s"${fmt.format(java.time.Instant.ofEpochSecond(e))} n=$n",
                    s"every $bucket >= $minRowsBound rows", c.severity)
                }.asJava, violationSchema))
            }
          import spark.implicits._
          // rows = the coverage census (non-null timestamps examined);
          // violation_rate = starved share of the span's buckets
          val spanBuckets: Long =
            if (census.isEmpty) 0L
            else (census.keys.max - census.keys.min) / stepSec + 1L
          val verdictDf = Seq(("(global)", c.name, starved.isEmpty,
              census.values.sum, starved.size.toLong,
              if (spanBuckets == 0L) 0.0
              else starved.size.toDouble / spanBuckets))
            .toDF("partition_key", "constraint", "pass", "rows",
              "violations", "violation_rate")
          (violationDf, verdictDf)
      }

    // ---- pass 10b: near-duplicate rate bound ----------------------------------
    // the full minhash → LSH banding → exact-Jaccard-verify chain (the
    // audited q64 shape) with the suite's (key, ord) composite as the doc
    // id, digest-reduced map-side so the key text never rides the dedup
    // shuffles. Rate = docs with ≥1 verified near-dup / non-null docs.
    val nearDupResults: Seq[(Option[DataFrame], DataFrame)] =
      check.constraints.collect {
        case c @ MaxNearDuplicateRate(columnName, maxRate, threshold,
            shingleK, numHashes, bands, estJaccardMin) =>
          // fixed-width md5 per component (no separator ambiguity), outer
          // md5 for a compact 32-char id — the ratioCensusFrame discipline
          val base = df.where(col(columnName).isNotNull)
            .select(md5(concat(
                md5(key.cast("string").cast("binary")),
                md5(ord.cast("string").cast("binary"))).cast("binary"))
                .as("__nd_id"),
              col(columnName))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // census = distinct doc NODES: duplicate (key, ord) rows collapse
          // into one node everywhere in the chain (signatures AND the
          // exact verifier both take the shingle-set UNION over a node's
          // rows), so the denominator must collapse them too or the
          // rate deflates under exact-dup keys
          // the node census and the dedup chain are independent jobs over
          // the persisted base — run the census from a driver thread so
          // the two overlap (guide §2.6) instead of serializing
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration.Duration
          val nFuture = Future(base.select("__nd_id").distinct().count())(
            ExecutionContext.global)
          // the dedup helpers persist their internal frames (signatures,
          // banded pairs, candidate shingles) for the chain's duration;
          // collect them so THIS pass can honor the Result.cached
          // contract — every count below is materialized eagerly, so all
          // of them release right here rather than riding Result.cached
          val chainCached = scala.collection.mutable.Buffer.empty[DataFrame]
          val flagged: Long = {
            val sigs = graft.dedup.Dedup.minhashSignatures(base, "__nd_id",
              columnName, shingleK, numHashes)
            // est prefilter dominated by exact verification when its
            // bound sits at or below the verify threshold (the dupGroups
            // tiering rule) — banding-only candidates, two fewer joins
            val cands =
              if (estJaccardMin <= threshold)
                graft.dedup.Dedup.minhashBandPairs(sigs, "__nd_id", bands,
                  sigLen = numHashes)
              else graft.dedup.Dedup.minhashLshCandidates(sigs,
                "__nd_id", bands, estJaccardMin, chainCached += _,
                sigLen = numHashes).select("a_id", "b_id")
            val verified = graft.dedup.Dedup.verifyJaccard(base,
              cands, "__nd_id", columnName, shingleK,
              threshold, chainCached += _)
            // endpoints of verified pairs = docs with >=1 near-duplicate
            verified.select(col("a_id").as("__vid"))
              .union(verified.select(col("b_id"))).distinct().count()
          }
          val n = Await.result(nFuture, Duration.Inf)
          chainCached.foreach(_.unpersist())
          base.unpersist()
          val rate = if (n == 0L) 0.0 else flagged.toDouble / n.toDouble
          val failed = n > 0L && rate > maxRate
          val violationDf: Option[DataFrame] =
            if (!failed) None
            else {
              import scala.jdk.CollectionConverters._
              Some(spark.createDataFrame(
                Seq(Row(c.name, "(global)", -1, columnName,
                  rate.toString, s"near_dup_rate<=$maxRate@j>=$threshold",
                  c.severity)).asJava,
                violationSchema))
            }
          import spark.implicits._
          // rows = the dedup census (non-null docs), the dup-rate precedent
          val verdictDf = Seq(("(global)", c.name, !failed, n,
              if (failed) 1L else 0L, rate))
            .toDF("partition_key", "constraint", "pass", "rows",
              "violations", "violation_rate")
          (violationDf, verdictDf)
      }

    // ---- pass 11: correlation bound (reads the fused stats row — no job) ----
    val corrResults: Seq[(Option[DataFrame], DataFrame)] =
      check.constraints.collect {
        case c @ CorrelationBetween(x, y, lo, hi) =>
          val cv = stat(s"__corrcv__${x}__${y}")
          val sx = stat(s"__corrsx__${x}__${y}")
          val sy = stat(s"__corrsy__${x}__${y}")
          val v = if (!cv.isNaN && sx > 0 && sy > 0) cv / (sx * sy)
            else Double.NaN
          // undefined r (constant column / <2 usable rows) is "no signal"
          // and passes — constancy is StddevBetween's finding
          val failed = !v.isNaN && (v < lo || v > hi)
          val violationDf: Option[DataFrame] =
            if (!failed) None
            else {
              import scala.jdk.CollectionConverters._
              Some(spark.createDataFrame(
                Seq(Row(c.name, "(global)", -1, s"$x,$y", v.toString,
                  s"corr in [$lo,$hi]", c.severity)).asJava,
                violationSchema))
            }
          import spark.implicits._
          val verdictDf = Seq(("(global)", c.name, !failed, totalRows,
              if (failed) 1L else 0L, 0.0))
            .toDF("partition_key", "constraint", "pass", "rows",
              "violations", "violation_rate")
          (violationDf, verdictDf)
      }

    // ---- pass 11b: freshness bound (reads the fused stats row — no job) -----
    val staleResults: Seq[(Option[DataFrame], DataFrame)] =
      check.constraints.collect {
        case c @ MaxStaleness(columnName, _, maxLag) =>
          val maxTs = stat(s"__maxts__$columnName")
          // NaN max = empty table (or all-null column): no newest row, "no
          // signal", passes — emptiness is MinRows' finding. Data newer
          // than asOf gives a NEGATIVE lag and passes (future skew is
          // Monotonic/Compliance's finding). asOf is read in the SESSION
          // zone — the zone the NTZ→TS cast in the fused agg applied — so
          // the offset cancels and lag is wall-clock-true in any zone.
          val zone = java.time.ZoneId.of(
            spark.sessionState.conf.sessionLocalTimeZone)
          val lagSec: Option[Double] =
            if (maxTs.isNaN) None
            else Some((c.asOfMicrosIn(zone) - maxTs) / 1e6)
          val failed = lagSec.exists(_ > maxLag)
          val violationDf: Option[DataFrame] =
            if (!failed) None
            else {
              import scala.jdk.CollectionConverters._
              Some(spark.createDataFrame(
                Seq(Row(c.name, "(global)", -1, columnName,
                  lagSec.get.toString,
                  s"lag<=${maxLag}s as of ${c.asOf}", c.severity)).asJava,
                violationSchema))
            }
          import spark.implicits._
          val verdictDf = Seq(("(global)", c.name, !failed, totalRows,
              if (failed) 1L else 0L, 0.0))
            .toDF("partition_key", "constraint", "pass", "rows",
              "violations", "violation_rate")
          (violationDf, verdictDf)
      }

    // ---- pass 11c: language-mix bound (reads the fused stats row — no job) --
    val langResults: Seq[(Option[DataFrame], DataFrame)] =
      check.constraints.collect {
        case c @ LanguageShare(columnName, lang, lo, hi) =>
          val n = stat(s"__langn__$columnName")
          // empty census (no non-null rows): no mix to bound, "no
          // signal", passes — emptiness is MinRows'/NotNull's finding
          val share: Option[Double] =
            if (n.isNaN || n == 0.0) None
            else Some(stat(s"__lang__${columnName}__$lang") / n)
          val failed = share.exists(s => s < lo || s > hi)
          val violationDf: Option[DataFrame] =
            if (!failed) None
            else {
              import scala.jdk.CollectionConverters._
              Some(spark.createDataFrame(
                Seq(Row(c.name, "(global)", -1, columnName,
                  share.get.toString,
                  s"share($lang) in [$lo,$hi]", c.severity)).asJava,
                violationSchema))
            }
          import spark.implicits._
          val verdictDf = Seq(("(global)", c.name, !failed, totalRows,
              if (failed) 1L else 0L, share.getOrElse(0.0)))
            .toDF("partition_key", "constraint", "pass", "rows",
              "violations", "violation_rate")
          (violationDf, verdictDf)
      }

    // value share: the categorical-mix bound, straight from the fused
    // counts (LanguageShare's verdict shape)
    val shareResults: Seq[(Option[DataFrame], DataFrame)] =
      shareCs.map { case (c, i) =>
        val n = stat(s"__sharen__${c.column}")
        // empty census (no non-null rows): no mix to bound — "no signal"
        val share: Option[Double] =
          if (n.isNaN || n == 0.0) None
          else Some(stat(s"__share__$i") / n)
        val failed = share.exists(s => s < c.lo || s > c.hi)
        val violationDf: Option[DataFrame] =
          if (!failed) None
          else {
            import scala.jdk.CollectionConverters._
            Some(spark.createDataFrame(
              Seq(Row(c.name, "(global)", -1, c.column,
                share.get.toString,
                s"share(${c.value}) in [${c.lo},${c.hi}]",
                c.severity)).asJava,
              violationSchema))
          }
        import spark.implicits._
        val verdictDf = Seq(("(global)", c.name, !failed, totalRows,
            if (failed) 1L else 0L, share.getOrElse(0.0)))
          .toDF("partition_key", "constraint", "pass", "rows",
            "violations", "violation_rate")
        (violationDf, verdictDf)
      }

    // ---- pass 12: entropy bound ---------------------------------------------
    // one hash aggregation per constraint (groupBy value → count, map-side
    // combined — only distinct values ride the exchange), then H = ln N −
    // Σ n·ln n / N as a one-row reduction. Meant for category columns.
    val entropyResults: Seq[(Option[DataFrame], DataFrame)] =
      check.constraints.collect {
        case c @ EntropyBetween(columnName, lo, hi) =>
          val row = df.where(col(columnName).isNotNull)
            .groupBy(col(columnName)).agg(count(lit(1)).as("__n"))
            .agg(sum(col("__n")).as("N"),
              sum(col("__n").cast("double") * log(col("__n").cast("double")))
                .as("S"))
            .collect()(0)
          val hOpt: Option[Double] =
            if (row.isNullAt(0) || row.getLong(0) == 0L) None
            else Some(math.log(row.getLong(0).toDouble) -
              row.getDouble(1) / row.getLong(0).toDouble)
          // verdict `rows` = the census size (non-null values), not
          // totalRows: an entropy-only suite never runs the fused stats
          // pass, and a hardcoded 0 would read as "nothing scanned"
          val censusN = if (row.isNullAt(0)) 0L else row.getLong(0)
          val failed = hOpt.exists(h => h < lo || h > hi)
          val violationDf: Option[DataFrame] =
            if (!failed) None
            else {
              import scala.jdk.CollectionConverters._
              Some(spark.createDataFrame(
                Seq(Row(c.name, "(global)", -1, columnName,
                  hOpt.get.toString, s"entropy in [$lo,$hi]", c.severity))
                  .asJava,
                violationSchema))
            }
          import spark.implicits._
          val verdictDf = Seq(("(global)", c.name, !failed, censusN,
              if (failed) 1L else 0L, 0.0))
            .toDF("partition_key", "constraint", "pass", "rows",
              "violations", "violation_rate")
          (violationDf, verdictDf)
      }

    // ---- pass 12b: uniqueness / distinctness ratio bounds ----------------------
    def keyCensusRatio(columns: Seq[String]): (Long, Long, Long) = {
      val row = ratioCensusFrame(df, columns).collect()(0)
      if (row.isNullAt(0)) (0L, 0L, 0L)
      else (row.getLong(0), row.getLong(1), row.getLong(2))
    }
    def ratioResult(c: Constraint, columns: Seq[String], lo: Double,
        hi: Double, what: String, tot: Long, num: Long)
        : (Option[DataFrame], DataFrame) = {
      val ratioOpt = if (tot == 0L) None else Some(num.toDouble / tot)
      val failed = ratioOpt.exists(r => r < lo || r > hi)
      val violationDf: Option[DataFrame] =
        if (!failed) None
        else {
          import scala.jdk.CollectionConverters._
          Some(spark.createDataFrame(
            Seq(Row(c.name, "(global)", -1, columns.mkString(","),
              ratioOpt.get.toString, s"$what in [$lo,$hi]", c.severity))
              .asJava,
            violationSchema))
        }
      import spark.implicits._
      val verdictDf = Seq(("(global)", c.name, !failed, tot,
          if (failed) 1L else 0L, 0.0))
        .toDF("partition_key", "constraint", "pass", "rows",
          "violations", "violation_rate")
      (violationDf, verdictDf)
    }
    val ratioResults: Seq[(Option[DataFrame], DataFrame)] =
      check.constraints.collect {
        case c @ UniquenessBetween(columns, lo, hi) =>
          val (tot, _, uniq) = keyCensusRatio(columns)
          ratioResult(c, columns, lo, hi, "uniqueness", tot, uniq)
        case c @ DistinctnessBetween(columns, lo, hi) =>
          val (tot, groups, _) = keyCensusRatio(columns)
          ratioResult(c, columns, lo, hi, "distinctness", tot, groups)
      }

    // ---- pass 13: mutual-information bound ------------------------------------
    // one hash aggregation per constraint (groupBy (x,y) → count, map-side
    // combined); marginals and the MI sum are window/aggregate passes over
    // the O(distinct pairs) census, never the fact table. ANSI-safe: every
    // divisor is a positive count by construction.
    val miResults: Seq[(Option[DataFrame], DataFrame)] =
      check.constraints.collect {
        case c @ MutualInformationBetween(x, y, lo, hi) =>
          // "__pn"/"__tot", NOT "__n"/"__N": column resolution is
          // case-INSENSITIVE by default, so a name differing only in case
          // silently REPLACES the existing column in withColumn
          val pairs = df
            .where(col(x).isNotNull && col(y).isNotNull)
            .groupBy(col(x).as("__x"), col(y).as("__y"))
            .agg(count(lit(1)).cast("double").as("__pn"))
          val row = pairs
            .withColumn("__nx", sum(col("__pn"))
              .over(Window.partitionBy(col("__x"))))
            .withColumn("__ny", sum(col("__pn"))
              .over(Window.partitionBy(col("__y"))))
            .withColumn("__tot", sum(col("__pn")).over(Window.partitionBy()))
            .agg(sum(col("__pn") / col("__tot") *
              log(col("__pn") * col("__tot") / (col("__nx") * col("__ny"))))
              .as("mi"),
              sum(col("__pn")).cast("long").as("__pairs"))
            .collect()(0)
          // clamped at 0: MI ≥ 0 by theorem; fp summation noise on an
          // independent pair can land at −1e−16 and a lo = 0 bound must
          // not flag it
          val miOpt: Option[Double] =
            if (row.isNullAt(0)) None
            else Some(math.max(0.0, row.getDouble(0)))
          // verdict `rows` = complete pairs in the census (see entropy)
          val censusN = if (row.isNullAt(1)) 0L else row.getLong(1)
          val failed = miOpt.exists(v => v < lo || v > hi)
          val violationDf: Option[DataFrame] =
            if (!failed) None
            else {
              import scala.jdk.CollectionConverters._
              Some(spark.createDataFrame(
                Seq(Row(c.name, "(global)", -1, s"$x,$y",
                  miOpt.get.toString, s"mi in [$lo,$hi]", c.severity))
                  .asJava,
                violationSchema))
            }
          import spark.implicits._
          val verdictDf = Seq(("(global)", c.name, !failed, censusN,
              if (failed) 1L else 0L, 0.0))
            .toDF("partition_key", "constraint", "pass", "rows",
              "violations", "violation_rate")
          (violationDf, verdictDf)
      }

    // Violations feed BOTH the violation sink and the per-conversation
    // verdict counts — persist so the (typically small) violation set is
    // computed once instead of re-deriving every upstream pass per action.
    val allViolations = (Seq(rowViolations) ++ windowViolations ++
      uniqueViolations ++ contiguousViolations ++ refViolations ++
      sequenceViolations ++ fdViolations ++ asofViolations ++
      schemaViolationDfs ++ distDriftResults.flatMap(_._1) ++
      dupRateResults.flatMap(_._1) ++ nearDupResults.flatMap(_._1) ++
      corrResults.flatMap(_._1) ++ staleResults.flatMap(_._1) ++
      langResults.flatMap(_._1) ++
      shareResults.flatMap(_._1) ++
      coverageResults.flatMap(_._1) ++
      entropyResults.flatMap(_._1) ++
      ratioResults.flatMap(_._1) ++
      miResults.flatMap(_._1) ++
      driftResults.map(_._1)).reduce(_ unionByName _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- verdicts -----------------------------------------------------------
    import spark.implicits._
    val perConvConstraints = rowChecks.map(rc => (rc.c.name, rc.c match {
      case NotNull(_, maxRate) => maxRate
      case Compliance(_, _, maxRate) => maxRate
      case ParsableAs(_, _, maxRate) => maxRate
      case NoPii(_, _, maxRate) => maxRate
      case MinTextQuality(_, _, maxRate) => maxRate
      case VectorShape(_, _, _, _, maxRate) => maxRate
      case LengthBounds(_, _, _, maxRate) => maxRate
      case InSet(_, _, maxRate) => maxRate
      case MatchesRegex(_, _, maxRate) => maxRate
      case ValueBounds(_, _, _, maxRate) => maxRate
      case _ => 0.0
    })) ++
      check.constraints.collect { case c: RollingZDrift => (c.name, 0.0) } ++
      // a UniqueKey whose tuple misses the conversation key verdicts
      // GLOBALLY (its violation rows carry conv_id "(global)") — a
      // per-conversation row would report 0/pass for every conversation
      // regardless of duplicates, like the non-key-determinant FD case
      check.constraints.collect {
        case c: UniqueKey if c.columns.contains(check.keyCol) =>
          (c.name, 0.0)
      } ++
      // inlined RIs already ride rowChecks under the same constraint name
      check.constraints.collect {
        case c: ReferentialIntegrity
            if c.keyCensus || inlineDimValues((c.dim, c.dimColumn)) == null =>
          (c.name, 0.0)
      } ++
      check.constraints.collect { case c: ContiguousIndex => (c.name, 0.0) } ++
      check.constraints.collect { case c: TurnCountBetween => (c.name, 0.0) } ++
      check.constraints.collect { case c: MaxSessionGap => (c.name, 0.0) } ++
      check.constraints.collect { case c: AllowedTransitions => (c.name, 0.0) } ++
      check.constraints.collect { case c: Monotonic => (c.name, 0.0) } ++
      check.constraints.collect { case c: NoConsecutiveRepeats => (c.name, 0.0) } ++
      // an FD whose determinant carries the conversation key attributes its
      // groups to conversations; otherwise it verdicts globally (below)
      check.constraints.collect {
        case c: FunctionalDependency if c.determinant.contains(check.keyCol) =>
          (c.name, 0.0)
      } ++
      check.constraints.collect { case c: AsOfIntegrity => (c.name, 0.0) }

    // guarded, not left to PropagateEmptyRelation: a suite with no
    // per-conversation constraints (e.g. schema-only) must not even PLAN a
    // groupBy over the data
    val perConvVerdicts = if (perConvConstraints.isEmpty) {
      Seq.empty[(String, String, Boolean, Long, Long, Double)]
        .toDF("partition_key", "constraint", "pass", "rows", "violations",
          "violation_rate")
    } else conversationVerdicts(df, check.keyCol, perConvConstraints,
      allViolations)

    // global verdicts for aggregate constraints, straight from the stats row
    val globalVerdicts: Seq[(String, Boolean, Long, Long, Double)] =
      check.constraints.collect {
        case c @ MinRows(n) =>
          (c.name, totalRows >= n, totalRows, if (totalRows >= n) 0L else 1L, 0.0)
        case c @ MeanBetween(columnName, lo, hi) =>
          val m = stat(s"__mean__$columnName")
          (c.name, m >= lo && m <= hi, totalRows, if (m >= lo && m <= hi) 0L else 1L, 0.0)
        case c @ StddevBetween(columnName, lo, hi) =>
          val s0 = stat(s"__stds__$columnName")
          (c.name, s0 >= lo && s0 <= hi, totalRows, if (s0 >= lo && s0 <= hi) 0L else 1L, 0.0)
        case c @ QuantileBetween(columnName, q, lo, hi, _) =>
          val v = stat(s"__q${q}__$columnName")
          (c.name, v >= lo && v <= hi, totalRows, if (v >= lo && v <= hi) 0L else 1L, 0.0)
        case c @ DistinctCountBetween(columnName, lo, hi) =>
          val v = stat(s"__hll__$columnName").toLong
          (c.name, v >= lo && v <= hi, totalRows, if (v >= lo && v <= hi) 0L else 1L, 0.0)
        case c @ NotNull(columnName, maxRate) =>
          val rate = stat(s"__nulls__$columnName") / math.max(1.0, totalRows.toDouble)
          (s"${c.name}[global]", rate <= maxRate, totalRows,
            stat(s"__nulls__$columnName").toLong, rate)
      } ++
      // compliance global rate bound, straight from the fused fail count
      // (the per-conversation verdicts ride rowChecks under c.name; the
      // [global] suffix keeps the two verdict rows distinct, like NotNull)
      compCs.map { case (c, i) =>
        val fails = stat(s"__comp__$i")
        val rate = fails / math.max(1.0, totalRows.toDouble)
        (s"${c.name}[global]", rate <= c.maxFailRate, totalRows,
          fails.toLong, rate)
      } ++
      // parsable_as global rate bound, like compliance's
      parsCs.map { case (c, i) =>
        val fails = stat(s"__pars__$i")
        val rate = fails / math.max(1.0, totalRows.toDouble)
        (s"${c.name}[global]", rate <= c.maxFailRate, totalRows,
          fails.toLong, rate)
      } ++
      // no_pii global rate bound, like compliance's
      piiCs.map { case (c, i) =>
        val fails = stat(s"__pii__$i")
        val rate = fails / math.max(1.0, totalRows.toDouble)
        (s"${c.name}[global]", rate <= c.maxFailRate, totalRows,
          fails.toLong, rate)
      } ++
      // min_quality global rate bound, like compliance's
      qualCs.map { case (c, i) =>
        val fails = stat(s"__qual__$i")
        val rate = fails / math.max(1.0, totalRows.toDouble)
        (s"${c.name}[global]", rate <= c.maxFailRate, totalRows,
          fails.toLong, rate)
      } ++
      // vector_shape global rate bound, like compliance's
      vecCs.map { case (c, i) =>
        val fails = stat(s"__vec__$i")
        val rate = fails / math.max(1.0, totalRows.toDouble)
        (s"${c.name}[global]", rate <= c.maxFailRate, totalRows,
          fails.toLong, rate)
      } ++
      // length_bounds global rate bound, like compliance's
      lenCs.map { case (c, i) =>
        val fails = stat(s"__len__$i")
        val rate = fails / math.max(1.0, totalRows.toDouble)
        (s"${c.name}[global]", rate <= c.maxFailRate, totalRows,
          fails.toLong, rate)
      } ++
      // graded in_set / matches / bounds rate verdicts, like compliance's
      (insetCs.map { case (c, i) =>
          (c.name, c.maxFailRate, s"__inset__$i") } ++
        regexCs.map { case (c, i) =>
          (c.name, c.maxFailRate, s"__regex__$i") } ++
        vbCs.map { case (c, i) => (c.name, c.maxFailRate, s"__vb__$i") })
        .map { case (name, maxRate, alias) =>
          val fails = stat(alias)
          val rate = fails / math.max(1.0, totalRows.toDouble)
          (s"$name[global]", rate <= maxRate, totalRows, fails.toLong, rate)
        } ++
      // schema conformance: pass iff zero mismatches (already computed,
      // driver-side, in pass 0)
      schemaResults.map { case (c, ms) =>
        (c.name, ms.isEmpty, totalRows, ms.size.toLong, 0.0)
      }
    val globalVerdictDf = globalVerdicts
      .toDF("constraint", "pass", "rows", "violations", "violation_rate")
      .withColumn("partition_key", lit("(global)"))
      .select("partition_key", "constraint", "pass", "rows", "violations",
        "violation_rate")

    // FDs and UniqueKeys whose tuple does NOT carry the conversation key
    // verdict globally (their violation rows carry conv_id "(global)",
    // which no per-conversation verdict row can ever count — without this
    // a duplicate-key table would read all-pass in the verdicts while the
    // violation sink disagrees): one count over the (persisted) violation
    // set — no rescan
    val fdGlobalVerdicts: Seq[DataFrame] = check.constraints.collect {
      case c: FunctionalDependency if !c.determinant.contains(check.keyCol) =>
        c.name
      case c: UniqueKey if !c.columns.contains(check.keyCol) =>
        c.name
    }.map { name =>
      allViolations.where(col("constraint") === name)
        .agg(count(lit(1)).as("violations"))
        .select(lit("(global)").as("partition_key"),
          lit(name).as("constraint"),
          (col("violations") === 0).as("pass"),
          lit(totalRows).as("rows"), col("violations"),
          (col("violations") / lit(math.max(1L, totalRows).toDouble))
            .as("violation_rate"))
    }

    val allVerdicts = (Seq(perConvVerdicts, globalVerdictDf) ++
      keyShareVerdicts ++ fdGlobalVerdicts ++ distDriftResults.map(_._2) ++
      dupRateResults.map(_._2) ++ nearDupResults.map(_._2) ++
      corrResults.map(_._2) ++ staleResults.map(_._2) ++
      langResults.map(_._2) ++
      shareResults.map(_._2) ++
      coverageResults.map(_._2) ++
      entropyResults.map(_._2) ++
      ratioResults.map(_._2) ++
      miResults.map(_._2) ++
      driftResults.map(_._2))
      .reduce(_ unionByName _)

    Result(allViolations, allVerdicts,
      cached = (allViolations +: driftResults.flatMap(_._3)) ++
        censusCached.toSeq)
  }

  /** Declared (name, DDL type) vs the DataFrame's resolved schema — pure
    * driver-side metadata, no jobs. Returns (column, observed, bound)
    * triples: a declared column that is absent observes "(missing)"; a
    * type mismatch observes the actual `simpleString`; with
    * `allowExtra = false` every undeclared observed column is bound
    * "(not declared)". Types compare as parsed DataTypes ("int" ==
    * "integer"); nullability is deliberately ignored (see
    * [[graft.dsl.ExpectedSchema]]).
    */
  private[graft] def schemaMismatches(df: DataFrame, c: ExpectedSchema)
      : Seq[(String, String, String)] = {
    val actualMap = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val declared = c.columns.map { case (n, t) =>
      (n, org.apache.spark.sql.types.DataType.fromDDL(t))
    }
    // simpleString comparison: describes the full type structure but drops
    // nullability at EVERY level — a parquet writer's containsNull=false on
    // array<float> must not fail a declared "array<float>" (top-level
    // nullability is likewise ignored; NotNull is the data-level check)
    val mismatches = declared.flatMap { case (n, want) =>
      actualMap.get(n) match {
        case None => Some((n, "(missing)", want.simpleString))
        case Some(got) if got.simpleString != want.simpleString =>
          Some((n, got.simpleString, want.simpleString))
        case _ => None
      }
    }
    val declaredNames = c.columns.map(_._1).toSet
    val extras =
      if (c.allowExtra) Nil
      else df.schema.fields.filterNot(f => declaredNames.contains(f.name))
        .map(f => (f.name, f.dataType.simpleString, "(not declared)")).toSeq
    mismatches ++ extras
  }

  /** A UniqueKey on exactly (keyCol, orderCol) rides the rolling-z pass
    * (its duplicate-key census is a by-product of that pass's sort) — one
    * fewer full scan + shuffle. Other key tuples keep their groupBy.
    */
  private[graft] def fusedUniqueKey(check: Check): Option[UniqueKey] =
    check.constraints.collectFirst {
      case u @ UniqueKey(cols)
          if cols == Seq(check.keyCol, check.orderCol) &&
            check.constraints.exists(_.isInstanceOf[RollingZDrift]) => u
    }

  /** Rolling-z violation rows, one frame per [[RollingZDrift]], each from
    * one [[RollingKernel]] pass over the pruned (key, order, value)
    * projection — the text payload never rides its exchange. The fused
    * UniqueKey rides exactly ONE pass (the first): attaching it to every
    * pass would emit each duplicate key once per drift constraint.
    * `observed` is cast here from the value's own column type.
    */
  private[graft] def rollingZViolations(df: DataFrame, check: Check,
      chunk: Int = graft.series.Windows.DefaultChunk): Seq[DataFrame] = {
    val fused = fusedUniqueKey(check)
    check.constraints.collect { case c: RollingZDrift => c }.zipWithIndex
      .map { case (c, i) =>
        val fuseHere = fused.filter(_ => i == 0)
        val flagged = RollingKernel.flags(df, check.keyCol, check.orderCol,
          c.column, c.window, c.threshold, dupKeys = fuseHere.nonEmpty, chunk)
        // a set __peers marks a duplicate-key row of the fused UniqueKey
        def pick(dup: UniqueKey => Column, rolling: Column): Column =
          fuseHere.fold(rolling)(u =>
            when(col("__peers").isNotNull, dup(u)).otherwise(rolling))
        flagged.select(
          pick(u => lit(u.name), lit(c.name)).as("constraint"),
          col(check.keyCol).cast("string").as("conv_id"),
          col(check.orderCol).cast("int").as("turn_idx"),
          pick(u => lit(u.columns.mkString(",")), lit(c.column)).as("column"),
          pick(_ => col("__peers").cast("string"),
            col(c.column).cast("string")).as("observed"),
          pick(_ => lit("1 copy"),
            lit(s"rolling|z|<=${c.threshold}@${c.window}")).as("bound"),
          pick(u => lit(u.severity), lit(c.severity)).as("severity"))
      }
  }

  /** Per-conversation verdicts: for every (conversation, constraint) pair,
    * rows, violations counted from `violations`, and pass iff the
    * violation rate is at most the constraint's max rate. The null-key
    * conversation group joins under a "(null)" sentinel: a null conv_id
    * can never EQUI-match between the row census and the violation
    * counts, so without it the null group's verdict reported 0/pass
    * regardless of its violation rows (verdicts contradicting the
    * violation sink — pass-by-omission).
    */
  private[graft] def conversationVerdicts(df: DataFrame, keyCol: String,
      constraints: Seq[(String, Double)], violations: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val convRows = df
      .groupBy(coalesce(col(keyCol).cast("string"), lit("(null)")).as("conv_id"))
      .agg(count(lit(1)).as("rows"))
    val cDf = constraints.toDF("constraint", "max_rate")
    val vCounts = violations
      .groupBy(coalesce(col("conv_id"), lit("(null)")).as("conv_id"),
        col("constraint"))
      .agg(count(lit(1)).as("violations"))
    convRows.crossJoin(broadcast(cDf))
      .join(vCounts, Seq("conv_id", "constraint"), "left")
      .na.fill(0L, Seq("violations"))
      .withColumn("violation_rate", col("violations") / col("rows"))
      .withColumn("pass", col("violation_rate") <= col("max_rate"))
      .select(col("conv_id").as("partition_key"), col("constraint"),
        col("pass"), col("rows"), col("violations"), col("violation_rate"))
  }

  /** Turn-rate drift: bucket per (conv, window(ts)), then ONE grouped
    * pass ([[DriftKernel]]) scores each conversation's sorted series —
    * decomposition, residual fences, PSI, KS and the verdict — into one
    * persisted row per conversation; violations explode its anomaly array,
    * verdicts project it. `classical` decomposes with window ops first and
    * hands its residuals to the same kernel.
    */
  private[graft] def turnRateDrift(df: DataFrame, check: Check,
      c: TurnRateDrift): (DataFrame, DataFrame, Seq[DataFrame]) = {
    val key = check.keyCol
    val series = df
      .groupBy(col(key), window(col(check.tsCol), c.bucket).as("w"))
      .agg(count(lit(1)).as("n_turns"))
      .select(col(key), col("w.start").as("bucket_ts"), col("n_turns"))
    val scored = (c.method match {
      case "stl" =>
        DriftKernel.score(series, key, "bucket_ts", "n_turns", None, c)
      case "classical" =>
        val decomposed = Decomposition.additive(
          series.withColumn("__y", col("n_turns").cast("double")),
          "__y", c.period, Seq(key), Seq("bucket_ts"))
        DriftKernel.score(decomposed, key, "idx", "n_turns", Some("resid"), c)
      case other => throw new IllegalArgumentException(s"unknown method $other")
    }).toDF().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val violations = scored
      .select(col("key"), explode(col("anomalies")).as("a"))
      .select(lit(c.name).as("constraint"), col("key").as("conv_id"),
        col("a.idx").as("turn_idx"), lit("n_turns").as("column"),
        col("a.resid").cast("string").as("observed"),
        lit(s"${c.residMethod}@${c.residThreshold}").as("bound"),
        lit(c.severity).as("severity"))
    val verdicts = scored.select(col("key").as("partition_key"),
      lit(c.name).as("constraint"), col("pass"), col("rows"),
      col("violations"),
      (col("violations") / col("rows")).as("violation_rate"))
    (violations, verdicts, Seq(scored))
  }
}
