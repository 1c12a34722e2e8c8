package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.{PerfBenchBridge, SparkContext}
import org.apache.spark.scheduler._

/** Engine counters summed over the tasks of every job started under one tag. */
final class Counts {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var tasksFailed = 0L
  var taskCpuNs = 0L; var runMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
  var spill = 0L; var inputBytes = 0L; var outputBytes = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    tasksFailed += o.tasksFailed; taskCpuNs += o.taskCpuNs; runMs += o.runMs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; spill += o.spill; inputBytes += o.inputBytes
    outputBytes += o.outputBytes
  }

  def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "tasks_failed" -> tasksFailed,
    "task_cpu_s" -> taskCpuNs / 1e9, "run_s" -> runMs / 1e3, "gc_s" -> gcMs / 1e3,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "fetch_wait_s" -> fetchWaitMs / 1e3, "spill_bytes" -> spill,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes)
}

/** Attributes every job to the tag in the `perfbench.tag` local property at
  * submission, and sums its task metrics under that tag. Registered only by
  * traced runs.
  */
final class TagListener extends SparkListener {
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val byTag = mutable.Map.empty[String, Counts]

  private def counts(tag: String): Counts = byTag.getOrElseUpdate(tag, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagListener.Key)))
      .getOrElse("untagged")
    e.stageIds.foreach(stageTag.put(_, tag))
    counts(tag).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counts(stageTag.getOrDefault(e.stageInfo.stageId, "untagged")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageTag.getOrDefault(e.stageId, "untagged"))
    c.tasks += 1
    if (!e.taskInfo.successful) c.tasksFailed += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskCpuNs += m.executorCpuTime; c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Counts of the given tag (a copy, read after the bus is drained). */
  def snapshot(tag: String): Counts = synchronized {
    val c = new Counts; byTag.get(tag).foreach(c += _); c
  }

  def all: Map[String, Counts] = synchronized {
    byTag.map { case (k, v) => val c = new Counts; c += v; k -> c }.toMap
  }
}

object TagListener { val Key = "perfbench.tag" }

final case class Span(name: String, startMs: Double, endMs: Double,
    parent: Option[String], runId: String)

/** Spans around the benchmark's own calls into the engine. With tracing off
  * `span` only runs its body; with tracing on it also records the span and
  * tags the jobs the body submits so the listener can attribute them.
  */
final class Tracer(sc: SparkContext, val runId: String) {
  private var listener: Option[TagListener] = None
  private val stack = mutable.Stack.empty[String]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val t0 = System.nanoTime()
  private var seq = 0

  def on: Boolean = listener.nonEmpty

  def enable(): Unit = if (listener.isEmpty) {
    val l = new TagListener
    sc.addSparkListener(l)
    listener = Some(l)
  }

  def disable(): Unit = listener.foreach { l =>
    PerfBenchBridge.drainListenerBus(sc)
    sc.removeSparkListener(l)
    listener = None
  }

  private def nowMs: Double = (System.nanoTime() - t0) / 1e6

  /** Runs `body` under a fresh tag; returns its result, wall seconds and the
    * engine counts of the jobs it submitted (empty when tracing is off).
    */
  def span[T](name: String)(body: => T): (T, Double, Counts) = {
    if (!on) {
      val s = System.nanoTime()
      val r = body
      return (r, (System.nanoTime() - s) / 1e9, new Counts)
    }
    seq += 1
    val tag = s"$name#$seq"
    val prevTag = sc.getLocalProperty(TagListener.Key)
    val parent = stack.headOption
    stack.push(name)
    sc.setLocalProperty(TagListener.Key, tag)
    val s = nowMs
    try {
      val r = body
      val e = nowMs
      spans += Span(name, s, e, parent, runId)
      PerfBenchBridge.drainListenerBus(sc)
      (r, (e - s) / 1e3, listener.get.snapshot(tag))
    } finally {
      stack.pop()
      sc.setLocalProperty(TagListener.Key, prevTag)
    }
  }

  def spanRecords: Seq[Span] = spans.toSeq
  def tagCounts: Map[String, Counts] = listener.map(_.all).getOrElse(Map.empty)
}

object Jvm {
  /** Peak resident set of this process (VmHWM), MB. */
  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Sum of the heap pools' peak usage, MB. */
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** The result file's JSON writer. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
