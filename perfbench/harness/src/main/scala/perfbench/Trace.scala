package perfbench

import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.DoubleAdder
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it, with the task metrics of every
  * stage it ran. `group` is the job group the runner set (`<key>/build`,
  * `<key>/run`); `pass` is the runner's `perfbench.pass` property. */
final class JobRec(val id: Int, val group: String, val pass: Int,
    val callSite: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var stages, tasks = 0
  var cpuNs, runMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inRecords, inBytes, outBytes = 0L

  def toJson: scala.collection.Map[String, Any] = Json.obj(
    "id" -> id, "group" -> group, "pass" -> pass, "call_site" -> callSite,
    "start_ms" -> startMs, "end_ms" -> endMs, "stages" -> stages,
    "tasks" -> tasks, "cpu_ns" -> cpuNs, "run_ms" -> runMs, "gc_ms" -> gcMs,
    "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
    "spill" -> spill, "in_records" -> inRecords, "in_bytes" -> inBytes,
    "out_bytes" -> outBytes)
}

/** Counts jobs, stages and task metrics per job group. Only jobs that
  * carry a job group are recorded, so untagged work (the fingerprint
  * checks, session start-up) stays out of the layer figures.
  *
  * A job's call site is that of the SQL execution it ran for. Adaptive
  * execution submits each query stage as a job of its own from a pool
  * thread, whose stage names point into the JDK, while the execution's
  * description keeps the action's call site ("count at Dedup.scala:809")
  * as long as no job description is set, which the runner ensures. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val executionSite = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executionSite.put(s.executionId, s.description)
    case _                                 =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    if (group != null) {
      val pass = props.flatMap(p => Option(p.getProperty(Harness.PassProperty)))
        .flatMap(_.toIntOption).getOrElse(-1)
      val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(executionSite.get(id.toLong)))
        .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      val rec = new JobRec(e.jobId, group, pass, site, e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.put(s, rec))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(r => r.synchronized(r.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (r <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) r.synchronized {
      r.tasks += 1
      r.cpuNs += m.executorCpuTime
      r.runMs += m.executorRunTime
      r.gcMs += m.jvmGCTime
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      r.inRecords += m.inputMetrics.recordsRead
      r.inBytes += m.inputMetrics.bytesRead
      r.outBytes += m.outputMetrics.bytesWritten
    }

  def pending: Int = jobs.values.asScala.count(_.endMs < 0)
}

/** Receives the QueryExecution of each noop-sink write, i.e. the query
  * that actually ran, with its planning tracker and executed plan. */
final class SinkListener extends QueryExecutionListener {
  val sinks = new LinkedBlockingQueue[QueryExecution]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (isNoopSink(qe)) sinks.put(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def isNoopSink(qe: QueryExecution): Boolean =
    !qe.executedPlan.isInstanceOf[CommandResultExec] &&
      qe.analyzed.collectFirst { case w: V2WriteCommand => w.table.toString }
        .exists(_.toLowerCase(java.util.Locale.ROOT).contains("noop"))

  def await(timeoutMs: Long): Option[QueryExecution] =
    Option(sinks.poll(timeoutMs, TimeUnit.MILLISECONDS))
}

/** Spans recorded in memory and written out once, when the run ends. */
final class Spans {
  private val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val buf = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  private var nextId = 0

  def epochMs(nano: Long): Double = (nano + clockOffsetNs) / 1e6

  /** Adds a span from epoch milliseconds and returns its id. */
  def add(name: String, parent: Int, startMs: Double, endMs: Double,
      attrs: (String, Any)*): Int = synchronized {
    val id = nextId
    nextId += 1
    buf += mutable.LinkedHashMap(Seq("id" -> id, "parent" -> parent, "name" -> name,
      "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs: _*)
    id
  }

  def close(id: Int, endMs: Double): Unit = synchronized(buf(id)("end_ms") = endMs)

  def all: Seq[scala.collection.Map[String, Any]] = synchronized(buf.toList)
}

/** Sums the compile times Spark's code generator logs, one line per
  * compile ("Code generated in 12.3 ms"). Unlike the `CodegenMetrics`
  * histogram, whose reservoir keeps a decaying sample, the sum is exact.
  * The logger is raised to INFO for this appender alone. */
final class CodegenLog private extends AbstractAppender(
    "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  private val Line = """Code generated in ([0-9.Ee+-]+) ms""".r.unanchored
  private val ms = new DoubleAdder

  override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
    case Line(t) => ms.add(t.toDouble)
    case _       =>
  }

  def totalMs: Double = ms.sum
}

object CodegenLog {
  val Logger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  def install(): CodegenLog = {
    val app = new CodegenLog
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = new LoggerConfig(Logger, Level.INFO, false)
    cfg.addAppender(app, Level.INFO, null)
    ctx.getConfiguration.addLogger(Logger, cfg)
    ctx.updateLoggers()
    app
  }
}
