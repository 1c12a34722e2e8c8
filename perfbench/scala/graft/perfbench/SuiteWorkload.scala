package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.checkpoint.ResumableValidation
import graft.compile.Validator
import graft.dsl._
import graft.sources.{Tables, TranscriptGen}
import PerfBench.{median, secondsSince}

/** `suite_batch`: direct `Validator.validate` passes of the suite over a
  * generated transcript table. Traced runs add the family-isolated passes
  * and one stop-and-resume cycle of `ResumableValidation` over a
  * violation-dense table.
  *
  * The seed picks one of 16 windows of conversation indices, so seeds get
  * their own rows while the generator's closed forms (text, skew, injection
  * rates) are untouched. The windows are few and low so that generating
  * up to the window's end costs about the same for every seed.
  */
final class SuiteWorkload(spark: SparkSession, a: PerfBench.Args, tracer: Tracer)
    extends Workload {

  private val nConvs = 2000L
  private val warmupConvs = 400L
  /** The violation-dense table of the resumable cycle, and its slices. */
  private val denseConvs = 1000L
  private val slices = 2
  private val window = math.floorMod(a.seed, 16L)

  private val ctx = Validator.Context(Map(
    "role_dim" -> Tables.roleDim(spark), "tool_dim" -> Tables.toolDim(spark)))
  private var check: Check = _
  private var tablePath = ""
  private var turns = 0L
  private var tableBytes = 0L
  private var genS = 0.0
  private var parseMs = 0.0

  private def generate(path: String, convs: Long, dupRate: Int = 997,
      badRoleRate: Int = 211): Unit = {
    val lo = window * convs
    TranscriptGen.generate(spark, lo + convs, dupRate = dupRate, badRoleRate = badRoleRate)
      .where(col("conv_id").between(f"conv_$lo%08d", f"conv_${lo + convs - 1}%08d"))
      .repartition(16, col("conv_id"))
      .write.mode("overwrite").parquet(path)
  }

  /** The validated frame: the table plus the inter-turn gap the rolling-z
    * constraint reads (as `graft.Bench` derives it).
    */
  private def table(path: String = tablePath): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    spark.read.parquet(path).withColumn("turn_gap_s",
      (unix_timestamp(col("ts")) - lag(unix_timestamp(col("ts")), 1).over(w))
        .cast("double"))
  }

  /** `graft.Bench.benchSuite` as a suite file. Its `TextEquals` holds a
    * Column of the functions API, which `SuiteConfig.render` writes as
    * `columnnodeexpression()`; resolved against the generated schema
    * first, it renders as its SQL.
    */
  private def benchSuiteText: String = {
    val schema = TranscriptGen.generate(spark, 1)
    val suite = graft.Bench.benchSuite
    SuiteConfig.render(suite.copy(constraints = suite.constraints.map {
      case TextEquals(c, e) =>
        TextEquals(c, GraftBridge.column(schema.select(e.as("expected"))
          .queryExecution.analyzed.expressions.head.asInstanceOf[Alias].child))
      case c => c
    }))
  }

  def setup(): Map[String, Any] = {
    val suiteText = benchSuiteText
    val preps = (1 to PerfBench.SetupReps).map { i =>
      val path = s"${a.work}/table_$i"
      val t0 = System.nanoTime()
      generate(path, nConvs)
      val g = secondsSince(t0)
      val t1 = System.nanoTime()
      check = SuiteConfig.parse(suiteText)
      val p = secondsSince(t1)
      if (i > 1) PerfBench.deleteTree(Paths.get(tablePath))
      tablePath = path
      (g, p)
    }
    genS = median(preps.map(_._1))
    parseMs = median(preps.map(_._2)) * 1e3
    turns = spark.read.parquet(tablePath).count()
    tableBytes = PerfBench.dirBytesAndFiles(Paths.get(tablePath))._1
    // warm-up: one pass over a small table compiles the same plans
    val t0 = System.nanoTime()
    val warm = s"${a.work}/warmup"
    generate(warm, warmupConvs)
    directPass(check, table(warm))
    Map("prep_s" -> median(preps.map(p => p._1 + p._2)),
      "warmup_s" -> secondsSince(t0), "turns" -> turns, "table_bytes" -> tableBytes,
      "conv_lo" -> window * nConvs, "convs" -> nConvs)
  }

  /** One direct pass: validate(), then its outputs as a client reads them —
    * violations per constraint and the verdict rows.
    */
  final case class Pass(validateS: Double, materializeS: Double,
      byConstraint: Map[String, Long], nVerd: Long, validate: Counts,
      materialize: Counts) {
    def wall: Double = validateS + materializeS
    def nViol: Long = byConstraint.values.sum
    def all: Counts = { val c = new Counts; c += validate; c += materialize; c }
  }

  private def violationsByConstraint(v: DataFrame): Map[String, Long] =
    v.groupBy("constraint").count().collect().map(x => x.getString(0) -> x.getLong(1)).toMap

  private def directPass(chk: Check, df: DataFrame = table()): Pass = {
    val (r, vS, vC) = tracer.span("compile.validate")(Validator.validate(df, chk, ctx))
    val ((byConstraint, nVerd), mS, mC) = tracer.span("compile.materialize")(
      (violationsByConstraint(r.violations), r.verdicts.count()))
    r.unpersistAll()
    Pass(vS, mS, byConstraint, nVerd, vC, mC)
  }

  private val passes = mutable.ArrayBuffer.empty[Pass]

  // Passes still get faster for several passes after the warm-up, as the
  // JIT compiles the driver's planning code. A median of a fixed count of
  // passes is the same pass of that sequence in every run. With a count
  // set by the clock, two passes fitted on a loaded host and three on a
  // quiet one, and the median moved toward the slower first pass.
  val minOps = 3

  def timedLoop(seconds: Double, atLeast: Int): Loop = {
    passes.clear()
    val t0 = System.nanoTime()
    var attempted = 0L
    var failed = 0L
    val all = new Counts
    while (attempted < atLeast || secondsSince(t0) < seconds) {
      attempted += 1
      try {
        val p = directPass(check); passes += p; all += p.all
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] operation failed: $e")
      }
    }
    Loop(passes.map(_.wall).toSeq, attempted, failed, secondsSince(t0),
      Map("outputs" -> passes.map(p => (p.byConstraint, p.nVerd)).toSeq), all)
  }

  def e2e(loop: Loop): Map[String, Double] = Map(
    "wall_s" -> loop.opWallS,
    "turns_per_s" -> turns / loop.opWallS,
    // the client's one request is the whole pass
    "query_geomean_s" -> loop.opWallS)

  // ---- checks --------------------------------------------------------------

  /** Recount of each row-level family straight from the table with plain
    * DataFrame operations, by constraint name.
    */
  private def recount(path: String): Map[String, Long] = {
    val raw = spark.read.parquet(path)
    def dimValues(dim: String, c: String): Seq[String] =
      ctx.dims(dim).select(c).collect().map(_.getString(0)).toSeq
    val filters = check.constraints.collect {
      case c: NotNull => c.name -> col(c.column).isNull
      case c: MatchesRegex => c.name -> (col(c.column).isNotNull && !col(c.column).rlike(c.regex))
      case c: ValueBounds =>
        c.name -> (col(c.column).isNotNull &&
          (c.lo.map(col(c.column) < _) ++ c.hi.map(col(c.column) > _)).reduce(_ || _))
      case c: ReferentialIntegrity =>
        val out = !col(c.column).isin(dimValues(c.dim, c.dimColumn): _*)
        c.name -> (if (c.nullOk) col(c.column).isNotNull && out
          else col(c.column).isNull || out)
      case c: TextEquals => c.name -> !(col(c.column) <=> c.expected)
    }
    val aggs = filters.map { case (n, f) => count(when(f, 1)).as(n) }
    val row = raw.agg(count(lit(1)).as("__n"), aggs: _*).head()
    val dupKeys = check.constraints.collect { case c: UniqueKey =>
      c.name -> raw.groupBy(c.columns.map(col): _*).count().where(col("count") > 1).count()
    }
    filters.map { case (n, _) => n -> row.getAs[Long](n) }.toMap ++ dupKeys
  }

  /** Problems with a pass's violations per constraint against the recount. */
  private def recountProblems(expected: Map[String, Long],
      byConstraint: Map[String, Long]): Seq[String] = {
    val wrong = expected.collect { case (name, n) if byConstraint.getOrElse(name, 0L) != n =>
      s"$name: validate() reports ${byConstraint.getOrElse(name, 0L)} violations, recount $n" }
    // the closed-form text must hold on generated rows, and the injected
    // duplicate keys and bad roles must be there to be found
    val texts = check.constraints.collect { case c: TextEquals if expected(c.name) != 0 =>
      s"${c.name}: ${expected(c.name)} generated rows break the closed-form text" }
    val missing = check.constraints.collect {
      case c: UniqueKey if expected(c.name) == 0 => s"${c.name}: no violations to find"
      case c: ReferentialIntegrity if c.column == "role" && expected(c.name) == 0 =>
        s"${c.name}: no violations to find"
    }
    (wrong ++ texts ++ missing).toSeq
  }

  private val tracedChecks = mutable.LinkedHashMap.empty[String, Any]

  def check(loop: Loop): Map[String, Any] = {
    val outs = loop.detail("outputs").asInstanceOf[Seq[(Map[String, Long], Long)]]
    // each pass is checked against the recount; all must agree on verdicts
    val expected = recount(tablePath)
    val perPass = outs.map { case (byConstraint, _) => recountProblems(expected, byConstraint) }
    val verdicts = outs.map(_._2).distinct
    val problems = mutable.ArrayBuffer.empty[String]
    problems ++= perPass.flatten.distinct
    if (verdicts.size > 1) problems += s"passes disagree on the verdict rows: $verdicts"
    tracedChecks.get("problems").foreach(p => problems ++= p.asInstanceOf[Seq[String]])
    val badOps = if (verdicts.size > 1) outs.size else perPass.count(_.nonEmpty)
    Map("attempted_ops" -> 0,
      "failed_ops" -> (if (problems.nonEmpty) math.max(badOps, 1) else 0),
      "problems" -> problems.toSeq, "recount" -> expected,
      "violations_by_constraint" -> outs.headOption.map(_._1),
      "verdicts" -> verdicts) ++ (tracedChecks - "problems")
  }

  // ---- per-layer figures (traced runs) ---------------------------------------

  /** The suite split into one family per validate() call. */
  private def families: Seq[(String, Check)] = {
    def only(f: PartialFunction[Constraint, Boolean]) =
      check.copy(constraints = check.constraints.filter(f.orElse { case _ => false }))
    Seq(
      "text.row_flags_s" -> only { case _: NotNull | _: MatchesRegex | _: TextEquals |
        _: ValueBounds => true },
      "agg.fused_stats_s" -> only { case _: DistinctCountBetween | _: QuantileBetween => true },
      "compile.unique_key_s" -> only { case _: UniqueKey => true },
      "compile.ri_antijoin_s" -> only { case _: ReferentialIntegrity => true },
      "series.rolling_z_s" -> only { case _: RollingZDrift => true },
      "series.turn_rate_stl_s" -> only { case _: TurnRateDrift => true })
      .filter(_._2.constraints.nonEmpty)
  }

  def layerMetrics(traced: Loop, tracedWall: Double): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    m ++= Layers.zeros
    m("sources.gen_s") = genS
    m("sources.turns") = turns.toDouble
    m("sources.bytes") = tableBytes.toDouble
    m("dsl.parse_ms") = parseMs
    m ++= Engine.metrics(traced, tracedWall)
    def med(f: Pass => Double) = median(passes.map(f).toSeq)
    m("compile.validate_s") = med(_.validateS)
    m("compile.validate_jobs") = med(_.validate.jobs.toDouble)
    m("compile.materialize_s") = med(_.materializeS)
    m("compile.jobs") = med(_.all.jobs.toDouble)
    m("compile.stages") = med(_.all.stages.toDouble)
    m("compile.tasks") = med(_.all.tasks.toDouble)
    m("compile.task_cpu_s") = med(_.all.taskCpuNs / 1e9)
    m("compile.scan_ratio") = med(_.all.inputBytes.toDouble) / tableBytes
    m("compile.shuffle_write_bytes") = med(_.all.shuffleWrite.toDouble)
    m("compile.shuffle_read_bytes") = med(_.all.shuffleRead.toDouble)
    m("compile.spill_bytes") = med(_.all.spill.toDouble)
    m("compile.violation_rows") = med(_.nViol.toDouble)
    m("compile.verdict_rows") = med(_.nVerd.toDouble)
    val fam = families.map { case (n, c) => n -> directPass(c).wall }
    m ++= fam
    m("compile.fusion_ratio") = fam.map(_._2).sum / traced.opWallS
    m ++= resumableCycle()
    m.toMap
  }

  /** One stop-and-resume cycle over a violation-dense table (so the sinks
    * write real bytes), checked against a direct pass on the same table.
    */
  private def resumableCycle(): Map[String, Double] = {
    val path = s"${a.work}/dense"
    generate(path, denseConvs, dupRate = 97, badRoleRate = 23)
    val df = table(path)
    // the direct pass writes its outputs, as every resumable slice does
    val direct = s"${a.work}/direct"
    val (_, directS, _) = tracer.span("checkpoint.direct_pass") {
      val r = Validator.validate(df, check, ctx)
      r.violations.write.parquet(s"$direct/violations")
      r.verdicts.write.parquet(s"$direct/verdicts")
      r.unpersistAll()
    }
    val dir = s"${a.work}/ckpt"
    def done(p: Int) = Paths.get(s"$dir/partitions/p=$p/_DONE")
    val (first, s1, c1) = tracer.span("checkpoint.first_run")(
      new ResumableValidation(spark, dir, slices).run(df, check, ctx,
        maxPartitionsThisRun = slices / 2))
    require(first.isEmpty, "the first run did not stop at maxPartitionsThisRun")
    val before = (0 until slices).filter(p => Files.exists(done(p)))
      .map(p => p -> Files.getLastModifiedTime(done(p))).toMap
    val (res, s2, c2) = tracer.span("checkpoint.resume")(
      new ResumableValidation(spark, dir, slices).run(df, check, ctx))
    val (vio, ver, metrics) = res.getOrElse(sys.error("the resume did not complete"))
    val ((byConstraint, _), s3, _) = tracer.span("checkpoint.materialize")(
      (violationsByConstraint(vio), ver.count()))
    val sliceS = metrics.map(m => m.partition -> m.wallMs / 1e3).toMap
    val reused = before.count { case (p, t) => Files.getLastModifiedTime(done(p)) == t }
    val (bytes, files) = PerfBench.dirBytesAndFiles(Paths.get(dir))

    // the resumable-equivalence invariant: the same rows as a direct pass
    val cols = vio.columns.sorted.map(col)
    val vcols = ver.columns.sorted.map(col)
    val dvio = spark.read.parquet(s"$direct/violations").select(cols: _*)
    val dver = spark.read.parquet(s"$direct/verdicts").select(vcols: _*)
    val diffs = Map(
      "violations_only_resumable" -> vio.select(cols: _*).exceptAll(dvio).count(),
      "violations_only_direct" -> dvio.exceptAll(vio.select(cols: _*)).count(),
      "verdicts_only_resumable" -> ver.select(vcols: _*).exceptAll(dver).count(),
      "verdicts_only_direct" -> dver.exceptAll(ver.select(vcols: _*)).count())
    val problems = mutable.ArrayBuffer.empty[String]
    if (diffs.values.exists(_ != 0))
      problems += s"resumable output differs from a direct validate(): $diffs"
    problems ++= recountProblems(recount(path), byConstraint)
    tracedChecks ++= Map("resumable_equivalence" -> diffs,
      "resumable_violations_by_constraint" -> byConstraint, "problems" -> problems.toSeq)

    val wall = s1 + s2 + s3
    Map(
      "checkpoint.stage_s" -> (s1 - before.keys.toSeq.map(sliceS).sum),
      "checkpoint.slice_p50_s" -> median(sliceS.values.toSeq),
      "checkpoint.slice_max_s" -> sliceS.values.max,
      "checkpoint.collect_s" ->
        (s2 - sliceS.filter(kv => !before.contains(kv._1)).values.sum + s3),
      "checkpoint.jobs_per_slice" -> (c1.jobs + c2.jobs).toDouble / slices,
      "checkpoint.bytes_written" -> bytes.toDouble,
      "checkpoint.files_written" -> files.toDouble,
      "checkpoint.reuse_ratio" -> reused.toDouble / before.size,
      "checkpoint.overhead_x" -> wall / directS)
  }
}
