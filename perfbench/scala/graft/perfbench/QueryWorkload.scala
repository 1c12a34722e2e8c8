package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import scala.collection.parallel.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.sources.Tables
import PerfBench.{median, secondsSince}

/** `query_mix`: a fixed, ordered subset of `SparkEntry.queries` over the
  * vendored sf0.01 tables, the cache cleared between queries. Each query's
  * result is collected. The first result of each query is written as
  * parquet for the caller to compare with the query's DuckDB oracle; a
  * later result must repeat the first exactly, or it is written and
  * compared too. The checks also run q84 once, untimed, over the vendored
  * sf0.1 events, where one of its bin edges falls between two equal values.
  */
object QueryWorkload {
  /** The drift, dedup, ml and suite query families, plus the cheapest
    * query of six more modules. The other modules' queries are left out to
    * keep a run within its time budget.
    */
  val Queries: Seq[String] = Seq(
    "q01_scan_project_filter",        // sources
    "q04_quantiles",                  // agg
    "q33_lang_id",                    // text
    "q36_simhash_neardups",           // dedup
    "q40_minhash_lsh",                // dedup
    "q41_multimodal_features",        // multimodal
    "q47_sliced_violation_union",     // compile
    "q51_report_rollup",              // report
    "q55_iforest_outliers",           // ml
    "q57_ocsvm_outliers",             // ml
    "q64_dup_groups",                 // dedup
    "q74_pack_assign",                // pack
    "q84_snapshot_value_drift",       // series
    "q85_distribution_drift_verdicts",// series
    "q93_parsable_violations",        // compile
    "q95_distribution_drift_ks",      // series
    "q99_near_dup_rate")              // dedup

  /** Group sums reported by traced runs. */
  val Groups: Seq[(String, Seq[String])] = Seq(
    "dedup.q_s" -> Seq("q36", "q40", "q64", "q99"),
    "series.drift_q_s" -> Seq("q84", "q85", "q95"),
    "ml.q_s" -> Seq("q55", "q57"),
    "compile.suite_q_s" -> Seq("q47", "q93"))

  def short(q: String): String = q.takeWhile(_ != '_')

  /** Run once more by the checks, over the sf0.1 events in `<data>/sf0.1`:
    * at that scale the 0.7 edge of one role lies between two equal values,
    * so every row equal to the edge must stay in the lower bin.
    */
  val Sf01Query = "q84_snapshot_value_drift"

  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
}

final class QueryWorkload(spark: SparkSession, a: PerfBench.Args, tracer: Tracer)
    extends Workload {
  import QueryWorkload._

  private var eventRows = 0L
  private var loopNo = 0
  /** The first timed result of each query: the reference the later ones
    * must repeat exactly.
    */
  private val reference = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
  /** Timed results that did not repeat the reference, as (loop, pass, query, rows). */
  private val divergent = mutable.ArrayBuffer.empty[(Int, Int, String, Array[Row], StructType)]
  /** Untraced timed operations per query whose result is the reference. */
  private val repeats = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val perQueryJobs = mutable.ArrayBuffer.empty[Long]
  /** Classes compiled and compile milliseconds during the first timed loop,
    * where the queries run for the first time.
    */
  private var firstLoopCodegen = (0L, 0.0)

  def setup(): Map[String, Any] = {
    // the repeatable preparation: open every input table, count the events
    val preps = (1 to PerfBench.SetupReps).map { _ =>
      val t0 = System.nanoTime()
      TableNames.foreach(t => Tables.read(spark, a.data, t).schema)
      eventRows = Tables.events(spark, a.data).count()
      secondsSince(t0)
    }
    // the warm-up of graft.Bench's query phase; the timed pass is then the
    // queries' first run in this JVM, as in a fresh Verify or Bench run
    val t0 = System.nanoTime()
    SparkEntry.queries("q03_column_stats")(spark, a.data).count()
    Map("prep_s" -> median(preps), "warmup_s" -> secondsSince(t0),
      "event_rows" -> eventRows, "queries" -> Queries)
  }

  private def codegenNow: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount)
  }

  /** Row multisets compared through their text, which keeps NaN and arrays
    * comparable.
    */
  private def same(x: Array[Row], y: Array[Row]): Boolean =
    x.length == y.length && x.map(_.toString).sorted.sameElements(y.map(_.toString).sorted)

  // one pass runs 17 queries and takes longer than the run length
  val minOps = 1

  def timedLoop(seconds: Double, atLeast: Int): Loop = {
    loopNo += 1
    perQuery.clear(); perQueryJobs.clear()
    val t0 = System.nanoTime()
    var attempted = 0L
    var failed = 0L
    var pass = 0
    val walls = mutable.ArrayBuffer.empty[Double]
    val all = new Counts
    val cg0 = codegenNow
    while (pass < atLeast || secondsSince(t0) < seconds) {
      pass += 1
      var passWall = 0.0
      Queries.foreach { q =>
        attempted += 1
        try {
          // building the frame runs the query's eager jobs (model fits,
          // census collects); then the client reads the result into memory
          val ((rows, schema), w, c) = tracer.span(s"query.$q") {
            val df = SparkEntry.queries(q)(spark, a.data)
            (df.collect(), df.schema)
          }
          passWall += w
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += w
          perQueryJobs += c.jobs
          all += c
          if (!reference.contains(q)) reference(q) = (rows, schema)
          if (same(reference(q)._1, rows)) {
            if (loopNo == 1) repeats(q) += 1
          } else divergent += ((loopNo, pass, q, rows, schema))
        } catch {
          case e: Exception =>
            failed += 1
            System.err.println(s"[perfbench] $q failed: $e")
        } finally spark.sharedState.cacheManager.clearCache()
      }
      walls += passWall
    }
    if (loopNo == 1) {
      val cg1 = codegenNow
      firstLoopCodegen = (cg1._1 - cg0._1, cg1._2 - cg0._2)
    }
    Loop(walls.toSeq, attempted, failed, secondsSince(t0),
      Map("query_walls_s" -> perQuery.map { case (k, v) => k -> v.toSeq }), all)
  }

  def e2e(loop: Loop): Map[String, Double] = {
    val walls = loop.detail("query_walls_s").asInstanceOf[scala.collection.Map[String, Seq[Double]]]
    Map("wall_s" -> loop.opWallS,
      "turns_per_s" -> eventRows / loop.opWallS,
      // the geometric mean of the per-query walls: a median of 17 walls
      // jumps across the gaps between them from run to run
      "query_geomean_s" -> math.exp(walls.values.map(w => math.log(median(w))).sum / walls.size))
  }

  /** Writes the first result of each query, and any later result that
    * differs from it, for the caller's oracle comparison. Each output says how
    * many untraced timed operations it stands for.
    */
  def check(loop: Loop): Map[String, Any] = {
    val oracle = SparkEntry.oracleSql.filter(kv => Queries.contains(kv._1))
    Files.writeString(Paths.get(s"${a.work}/oracle_sql.json"), Json(oracle))
    val toWrite = reference.toSeq.map { case (q, (rows, schema)) =>
      (s"${a.work}/qout/reference/$q", q, rows, schema, repeats(q), "reference")
    } ++ divergent.toSeq.map { case (l, p, q, rows, schema) =>
      (s"${a.work}/qout/l$l/p$p/$q", q, rows, schema, if (l == 1) 1 else 0, s"loop $l pass $p")
    }
    // small local results: written concurrently, outside any timing
    val outputs = toWrite.par.map { case (dir, q, rows, schema, covers, what) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(dir)
      Map("query" -> q, "dir" -> dir, "covers" -> covers, "what" -> what, "data" -> a.data)
    }.seq
    // one more operation, compared with the oracle over the same events
    val sf01 = s"${a.data}/sf0.1"
    val sf01Dir = s"${a.work}/qout/sf0.1/$Sf01Query"
    val sf01Failed = try {
      SparkEntry.queries(Sf01Query)(spark, sf01).coalesce(1).write.parquet(sf01Dir)
      0
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $Sf01Query over sf0.1 failed: $e")
        1
    } finally spark.sharedState.cacheManager.clearCache()
    val sf01Out = if (sf01Failed == 0) Seq(Map("query" -> Sf01Query, "dir" -> sf01Dir,
      "covers" -> 1, "what" -> "sf0.1 check", "data" -> sf01)) else Nil
    Map("attempted_ops" -> 1, "failed_ops" -> sf01Failed, "outputs" -> (outputs ++ sf01Out),
      "oracle_sql" -> s"${a.work}/oracle_sql.json",
      "oracle_exempt" -> SparkEntry.oracleExempt.filter(Queries.contains).toSeq.sorted)
  }

  def layerMetrics(traced: Loop, tracedWall: Double): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    m ++= Layers.zeros
    m ++= Engine.metrics(traced, tracedWall)
    val med = perQuery.map { case (k, v) => k -> median(v.toSeq) }
    med.foreach { case (q, w) => m(s"query.${short(q)}_s") = w }
    Groups.foreach { case (g, qs) =>
      m(g) = med.collect { case (q, w) if qs.contains(short(q)) => w }.sum }
    m("query.jobs") = perQueryJobs.sum.toDouble / math.max(1, traced.opWalls.size)
    m("codegen.classes") = firstLoopCodegen._1.toDouble
    m("codegen.compile_ms") = firstLoopCodegen._2
    m.toMap
  }
}

/** Every per-layer figure a traced run reports; a workload that does not
  * load a layer reports it as 0.
  */
object Layers {
  val names: Seq[String] = Seq(
    "sources.gen_s", "sources.turns", "sources.bytes", "dsl.parse_ms",
    "compile.validate_s", "compile.validate_jobs", "compile.materialize_s",
    "compile.jobs", "compile.stages", "compile.tasks", "compile.task_cpu_s",
    "compile.scan_ratio", "compile.shuffle_write_bytes",
    "compile.shuffle_read_bytes", "compile.spill_bytes",
    "compile.violation_rows", "compile.verdict_rows",
    "text.row_flags_s", "agg.fused_stats_s", "compile.unique_key_s",
    "compile.ri_antijoin_s", "series.rolling_z_s", "series.turn_rate_stl_s",
    "compile.fusion_ratio",
    "checkpoint.stage_s", "checkpoint.slice_p50_s", "checkpoint.slice_max_s",
    "checkpoint.collect_s", "checkpoint.jobs_per_slice",
    "checkpoint.bytes_written", "checkpoint.files_written",
    "checkpoint.reuse_ratio", "checkpoint.overhead_x") ++
    QueryWorkload.Queries.map(q => s"query.${QueryWorkload.short(q)}_s") ++
    QueryWorkload.Groups.map(_._1) ++ Seq(
    "query.jobs", "codegen.classes", "codegen.compile_ms",
    "spark.busy_frac", "spark.task_cpu_s", "spark.gc_s",
    "spark.shuffle_fetch_wait_s", "spark.spill_bytes", "spark.tasks_failed",
    "jvm.heap_peak_mb", "trace.overhead_s")

  def zeros: Map[String, Double] = names.map(_ -> 0.0).toMap
}
