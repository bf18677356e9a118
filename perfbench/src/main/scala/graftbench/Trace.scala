package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into graft. The untraced form only
  * runs the body, so timed runs pay nothing for it. */
trait Trace {
  def span[T](name: String)(body: => T): T
}

object NoTrace extends Trace {
  def span[T](name: String)(body: => T): T = body
}

/** In-memory span recorder: name, start, end, parent and run id per span.
  * Each span runs under its own Spark job group, through which
  * [[SparkCounters]] attributes jobs, stages and tasks to it. One client
  * thread opens spans, so the parent is the innermost open span. */
final class Tracer(spark: SparkSession, val runId: String) extends Trace {
  import Tracer.Span

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val s = Span(spans.size, name, open.headOption.getOrElse(-1), System.nanoTime(), 0L)
    spans += s
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(Tracer.group(s.id), name)
    open = s.id :: open
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
    }
  }

  private def ms(ns: Long): Double = ns / 1e6

  /** Self time per span name: its duration minus its direct children's. */
  def selfMs: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => ms(s.end - s.start - childNs(s.id))).sum
    }
  }

  def totalMs(name: String): Double =
    spans.filter(_.name == name).map(s => ms(s.end - s.start)).sum

  def write(path: String, counters: SparkCounters): Unit = {
    val lines = spans.map { s =>
      Json.mapper.writeValueAsString(Map("run" -> runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end,
        "counters" -> counters.forGroup(Tracer.group(s.id))))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long)

  def group(id: Int): String = s"perfbench-span-$id"
}

/** Scheduler, task, shuffle, input and block counters from the public
  * SparkListener events, in total and per job group (span). */
final class SparkCounters extends SparkListener {
  private val keys = Seq("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms",
    "task_gc_ms", "sched_delay_ms", "tasks_failed", "shuffle_write_bytes",
    "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes", "scan_rows", "scan_bytes")
  private val totals = new ConcurrentHashMap[String, Double]()
  private val byGroup = new ConcurrentHashMap[String, ConcurrentHashMap[String, Double]]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val liveBlocks = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile var rddBlocks = 0L
  @volatile var rddBlockBytes = 0L
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  @volatile var sentinelsEnded = 0L

  private def add(group: String, k: String, v: Double): Unit = if (group != Layers.Sentinel) {
    totals.merge(k, v, (a: Double, b: Double) => a + b)
    if (group != null)
      byGroup.computeIfAbsent(group, _ => new ConcurrentHashMap[String, Double]())
        .merge(k, v, (a: Double, b: Double) => a + b)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      jobGroup.put(e.jobId, g)
      e.stageIds.foreach(id => stageGroup.put(id, g))
    }
    add(g, "jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (jobGroup.get(e.jobId) == Layers.Sentinel) synchronized { sentinelsEnded += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(stageGroup.get(e.stageInfo.stageId), "stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    add(g, "tasks", 1)
    if (!e.taskInfo.successful) add(g, "tasks_failed", 1)
    val m = e.taskMetrics
    if (m != null) {
      val gettingResult =
        if (e.taskInfo.gettingResultTime > 0) e.taskInfo.finishTime - e.taskInfo.gettingResultTime
        else 0L
      add(g, "task_run_ms", m.executorRunTime)
      add(g, "task_cpu_ms", m.executorCpuTime / 1e6)
      add(g, "task_gc_ms", m.jvmGCTime)
      add(g, "sched_delay_ms", math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult))
      add(g, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add(g, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add(g, "fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add(g, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add(g, "scan_rows", m.inputMetrics.recordsRead)
      add(g, "scan_bytes", m.inputMetrics.bytesRead)
    }
  }

  /** RDD blocks are what `localCheckpoint`/`persist` materialize: every
    * newly stored block counts once with its size; a block reported with
    * no storage left is released. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val size = info.memSize + info.diskSize
      if (info.storageLevel.isValid && size > 0) {
        if (liveBlocks.put(id, size) == null) synchronized {
          rddBlocks += 1
          rddBlockBytes += size
        }
      } else liveBlocks.remove(id)
    }
  }

  def liveBlockBytes: Long = liveBlocks.values.asScala.map(_.longValue).sum

  def total(k: String): Double = Option(totals.get(k)).getOrElse(0.0)

  def forGroup(g: String): Map[String, Double] =
    Option(byGroup.get(g)).map(_.asScala.toMap).getOrElse(Map.empty)

  def snapshot: Map[String, Double] = keys.map(k => k -> total(k)).toMap
}

/** Planning phases, final (adaptive) plan shape and scan-node metrics of
  * every successful query execution. */
final class PlanCounters extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val sums = new ConcurrentHashMap[String, Double]()
  @volatile var executions = 0L
  @volatile var failures = 0L

  private def add(k: String, v: Double): Unit = sums.merge(k, v, (a: Double, b: Double) => a + b)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def phase(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    add("analysis_ms", phase("analysis"))
    add("optimizer_ms", phase("optimization"))
    add("physical_ms", phase("planning"))
    val plan: SparkPlan = qe.executedPlan
    add("exchanges", collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size)
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.metrics
      case s: BatchScanExec => s.metrics
    }.foreach { m =>
      m.get("scanTime").foreach(t => add("scan_ms", t.value))
    }
    synchronized { executions += 1 }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { failures += 1 }

  def get(k: String): Double = Option(sums.get(k)).getOrElse(0.0)
}

/** Per-trigger `StreamingQueryProgress` durations, input rows and the
  * last state-operator sizes of each query. Also used untraced by the
  * stream workload, whose latency is the trigger's. */
final class ProgressCounters extends StreamingQueryListener {
  val triggerMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  private val sums = new ConcurrentHashMap[String, Double]()
  private val lastState = new ConcurrentHashMap[java.util.UUID, (Long, Long)]()
  @volatile var started = 0L
  @volatile var terminated = 0L
  @volatile var inputRows = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    synchronized { started += 1 }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
    d.foreach { case (k, v) => sums.merge(k, v, (a: Double, b: Double) => a + b) }
    triggerMs.add(d.getOrElse("triggerExecution", 0.0).toLong)
    lastState.put(p.id, (p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum))
    synchronized { inputRows += p.numInputRows }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized { terminated += 1 }

  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  def sum(k: String): Double = Option(sums.get(k)).getOrElse(0.0)
  def stateRows: Long = lastState.values.asScala.map(_._1).sum
  def stateBytes: Long = lastState.values.asScala.map(_._2).sum

  /** Block until every started query's events have been delivered. */
  def awaitQuiet(timeoutMs: Long = 30000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (terminated < started && System.currentTimeMillis() < deadline) Thread.sleep(1)
  }
}

/** The `graft.plans.*` rows of Catalyst's rule metering table. */
object GraftRules {
  private val Row = """^\s*(\S+)\s+(\d+)\s*/\s*(\d+)\s+(\d+)\s*/\s*(\d+)\s*$""".r

  /** (total time ms, effective runs) summed over graft's rules. */
  def read(): (Double, Long) = {
    val rows = RuleExecutor.dumpTimeSpent().linesIterator.collect {
      case Row(rule, _, totalNs, effective, _) if rule.startsWith("graft.plans.") =>
        (totalNs.toLong / 1e6, effective.toLong)
    }.toSeq
    (rows.map(_._1).sum, rows.map(_._2).sum)
  }

  def reset(): Unit = RuleExecutor.resetMetrics()
}
