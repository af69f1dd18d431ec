package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A metric as printed: value and unit. */
final case class M(value: Double, unit: String)

/** Scheduler, executor and shuffle work (`exec.*`) from a `SparkListener`,
  * summarized over a wall-clock window. Records only while `on`. */
final class ExecProbe(on: () => Boolean) extends SparkListener {
  private final case class Task(endMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long)
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val serialStages = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (on()) jobStarts.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add((s, e.time)))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (on()) Option(e.taskMetrics).foreach { m =>
      tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on()) {
    val s = e.stageInfo
    for (from <- s.submissionTime; to <- s.completionTime if s.numTasks == 1)
      serialStages.add((to, to - from))
  }

  def summary(fromMs: Long, toMs: Long): Map[String, M] = {
    def in(t: Long) = t >= fromMs && t <= toMs
    val js = jobs.asScala.filter(j => in(j._2)).toVector
    val ts = tasks.asScala.filter(t => in(t.endMs)).toVector
    // wall time in the window with no job running: the Spark driver's own share
    val busy = js.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft((0L, fromMs)) { case ((acc, reach), (s, e)) =>
        if (e <= reach) (acc, reach) else (acc + e - math.max(s, reach), e)
      }._1
    Map(
      "exec.jobs" -> M(js.size, "count"),
      "exec.tasks" -> M(ts.size, "count"),
      "exec.task_ms" -> M(ts.map(_.runMs).sum, "ms"),
      "exec.task_cpu_ms" -> M(ts.map(_.cpuNs).sum / 1e6, "ms"),
      "exec.gc_ms" -> M(ts.map(_.gcMs).sum, "ms"),
      "exec.shuffle_read_bytes" -> M(ts.map(_.shuffleRead).sum, "bytes"),
      "exec.shuffle_write_bytes" -> M(ts.map(_.shuffleWrite).sum, "bytes"),
      "exec.driver_ms" -> M((toMs - fromMs) - busy, "ms"),
      "exec.max_serial_stage_ms" -> M(
        (0L +: serialStages.asScala.filter(s => in(s._1)).map(_._2).toVector).max, "ms"))
  }
}

/** Catalyst planning time (`plans.*`) from each action's
  * `QueryPlanningTracker`, summarized over a wall-clock window. Records only
  * while `on`. */
final class PlanProbe(on: () => Boolean) extends QueryExecutionListener {
  private final case class Plan(atMs: Long, phases: Map[String, Long], rulesNs: Map[String, Long])
  private val plans = new ConcurrentLinkedQueue[Plan]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on()) plans.add(Plan(System.currentTimeMillis(),
      qe.tracker.phases.map { case (k, v) => k -> v.durationMs },
      qe.tracker.rules.map { case (k, v) => k -> v.totalTimeNs }))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def summary(fromMs: Long, toMs: Long): Map[String, M] = {
    val ps = plans.asScala.filter(p => p.atMs >= fromMs && p.atMs <= toMs).toVector
    def phase(name: String) = M(ps.map(_.phases.getOrElse(name, 0L)).sum, "ms")
    val rules = ps.flatMap(_.rulesNs).groupMapReduce(_._1)(_._2)(_ + _)
    Map(
      "plans.analysis_ms" -> phase("analysis"),
      "plans.optimization_ms" -> phase("optimization"),
      "plans.physical_planning_ms" -> phase("planning"),
      "plans.top5_rules_ms" -> M(rules.values.toVector.sorted.takeRight(5).sum / 1e6, "ms"))
  }
}

/** Janino compile time and class count (`codegen.*`), as deltas of Spark's
  * process-wide counters, plus whole-stage codegen fallbacks counted from
  * the warnings Spark logs when a generated class fails to compile. */
object CodegenProbe {
  final case class Snap(compileNs: Long, classes: Long, fallbacks: Long)

  private val fallbacks = new AtomicLong(0L)

  /** Attach the fallback counter to the root logger (idempotent). */
  lazy val install: Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val appender = new AbstractAppender("perfbench-codegen-fallbacks", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("Whole-stage codegen disabled") ||
            msg.contains("whole-stage codegen was disabled")) fallbacks.incrementAndGet()
      }
    }
    appender.start()
    ctx.getConfiguration.addAppender(appender)
    ctx.getRootLogger.addAppender(appender)
    ctx.updateLoggers()
  }

  def snap(): Snap = Snap(CodeGenerator.compileTime,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount, fallbacks.get)

  def delta(from: Snap, to: Snap): Map[String, M] = Map(
    "codegen.compile_ms" -> M((to.compileNs - from.compileNs) / 1e6, "ms"),
    "codegen.classes" -> M(to.classes - from.classes, "count"))
}

/** Both listeners, registered on the session before any stream starts (a
  * stream's micro-batches run on a clone of the session that copies its
  * listeners at start) and switched on for the traced window. */
final class Tracing(spark: SparkSession) {
  @volatile var on = false
  val exec = new ExecProbe(() => on)
  val plans = new PlanProbe(() => on)
  spark.sparkContext.addSparkListener(exec)
  spark.listenerManager.register(plans)

  def summary(fromMs: Long, toMs: Long): Map[String, M] =
    exec.summary(fromMs, toMs) ++ plans.summary(fromMs, toMs)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(plans)
  }
}
