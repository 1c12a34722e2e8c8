package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark harness: one JVM, `local[4]`, one client in a closed loop.
  *
  * {{{
  * PerfBench --workload <suite_batch|query_mix> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --data <data dir>
  *   --out <result.json> --launch-ms <epoch ms>
  * }}}
  *
  * Writes one JSON result file: the end-to-end figures, the per-layer
  * figures when traced, the checks and, for `query_mix`, where each query's
  * output was written so the caller can compare it with the DuckDB oracle.
  */
object PerfBench {

  val Cores = 4
  /** Times `setup` repeats the input generation and the suite parse. */
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, data: String, out: String,
      launchMs: Long)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("work"), req("data"), req("out"),
      m.get("launch-ms").map(_.toLong).getOrElse(System.currentTimeMillis()))
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "524288")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark_local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def dirBytesAndFiles(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    Files.createDirectories(Paths.get(a.work))
    val spark = session(a.work)
    val sessionReadyS = (System.currentTimeMillis() - a.launchMs) / 1e3
    val tracer = new Tracer(spark.sparkContext, s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "run_id" -> tracer.runId, "session_ready_s" -> sessionReadyS)
    try {
      val w: Workload = a.workload match {
        case "suite_batch" => new SuiteWorkload(spark, a, tracer)
        case "query_mix" => new QueryWorkload(spark, a, tracer)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      val prep = w.setup()
      result ++= prep
      val setupS = sessionReadyS + prep("prep_s").asInstanceOf[Double] +
        prep("warmup_s").asInstanceOf[Double]
      result("setup_s") = setupS

      // the end-to-end figures always come from an untraced loop
      // a traced run prints only per-layer figures; one operation per loop
      // keeps it, with its extra passes, within the run's time limit
      val plain = if (a.trace) w.timedLoop(0, 1) else w.timedLoop(a.seconds, w.minOps)
      result("untraced") = plain.summary
      if (a.trace) {
        tracer.enable()
        val t0 = System.nanoTime()
        val traced = w.timedLoop(0, 1)
        val tracedWall = secondsSince(t0)
        val layers = mutable.LinkedHashMap[String, Double]()
        layers ++= w.layerMetrics(traced, tracedWall)
        layers("jvm.heap_peak_mb") = Jvm.heapPeakMb
        // read before disable(), which unregisters the listener
        result("listener") = tracer.tagCounts.map { case (k, v) => k -> v.toMap }
        tracer.disable()
        // the overhead is taken against an untraced loop run after the
        // traced one, so both find the JVM equally warm
        val control = w.timedLoop(0, 1)
        layers("trace.overhead_s") = traced.opWallS - control.opWallS
        result("traced") = traced.summary
        result("control") = control.summary
        result("per_layer") = layers
        result("spans") = tracer.spanRecords.map(s => Map("name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "parent" -> s.parent,
          "run_id" -> s.runId))
      }
      val checks = w.check(plain)
      result("checks") = checks
      result("attempted") = plain.attempted + checks("attempted_ops").asInstanceOf[Int]
      result("failed") = plain.failed + checks("failed_ops").asInstanceOf[Int]
      result("e2e") = w.e2e(plain)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        result("error") = s"${e.getClass.getName}: ${e.getMessage}"
    } finally {
      result("rss_peak_mb") = Jvm.rssPeakMb
      result("heap_peak_mb") = Jvm.heapPeakMb
      Files.writeString(Paths.get(a.out), Json(result))
      spark.stop()
    }
  }
}

/** The figures of one timed loop. */
final case class Loop(opWalls: Seq[Double], attempted: Long, failed: Long,
    wallS: Double, detail: Map[String, Any], counts: Counts) {
  def opWallS: Double = PerfBench.median(opWalls)
  def summary: Map[String, Any] = Map("op_walls_s" -> opWalls,
    "op_wall_s" -> opWallS, "loop_wall_s" -> wallS, "attempted" -> attempted,
    "failed" -> failed) ++ detail
}

trait Workload {
  /** Builds the inputs; returns at least `prep_s` (the median of the
    * repeated preparation) and `warmup_s`.
    */
  def setup(): Map[String, Any]
  /** The fewest operations whose median the end-to-end figures report. */
  def minOps: Int
  /** Runs operations until `seconds` have passed and `atLeast` have run. */
  def timedLoop(seconds: Double, atLeast: Int): Loop
  def layerMetrics(traced: Loop, tracedWall: Double): Map[String, Double]
  /** Untimed output checks; `failed_ops` counts the operations they fail,
    * `attempted_ops` the operations the checks run themselves.
    */
  def check(loop: Loop): Map[String, Any]
  def e2e(loop: Loop): Map[String, Double]
}

object Engine {
  /** The engine-wide figures of a traced loop, per operation. */
  def metrics(loop: Loop, wall: Double): Map[String, Double] = {
    val c = loop.counts
    val ops = math.max(1, loop.opWalls.size).toDouble
    Map(
      "spark.busy_frac" -> c.runMs / 1e3 / (wall * PerfBench.Cores),
      "spark.task_cpu_s" -> c.taskCpuNs / 1e9 / ops,
      "spark.gc_s" -> c.gcMs / 1e3 / ops,
      "spark.shuffle_fetch_wait_s" -> c.fetchWaitMs / 1e3 / ops,
      "spark.spill_bytes" -> c.spill / ops,
      "spark.tasks_failed" -> c.tasksFailed.toDouble)
  }
}
