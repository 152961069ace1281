package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec

/** Closed-loop runner for one workload: one client runs every key in a
  * fixed order through `SparkEntry.queries(key)(spark, dir)` into the
  * `noop` sink. It sets up once (fresh session and warehouse, one
  * untimed pass that checks every key's output, then one untimed pass
  * into the sink), then runs whole timed passes until `--seconds` have
  * gone by. With `--trace` half the passes are traced: jobs are tagged
  * with job groups, and the layers are read from Spark's listeners,
  * planning tracker, codegen log and metrics, and the executed plan's
  * SQL metrics. The raw figures go to `--out` as JSON; the Python side
  * turns them into metrics.
  *
  * Usage: Harness --input DIR --keys k1,k2 --out FILE --tmp DIR
  *                [--cores N] [--seconds S] [--trace 0|1]
  */
object Harness extends AdaptiveSparkPlanHelper {
  final case class Args(input: String, keys: Seq[String], out: String, tmp: Path,
      cores: Int, seconds: Double, trace: Boolean)

  val MinPasses = 4

  /** Local property that tags a traced pass's jobs with the pass number. */
  val PassProperty = "perfbench.pass"

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("input"), m("keys").split(',').toSeq.filter(_.nonEmpty), m("out"),
      Paths.get(m("tmp")), m.getOrElse("cores", "4").toInt,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1")
  }

  def session(cores: Int, dir: Path): SparkSession = {
    Files.createDirectories(dir.resolve("local"))
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.local.dir", dir.resolve("local").toString)
      .config("spark.sql.streaming.checkpointLocation", dir.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def cause(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = Option(root.getMessage).getOrElse("").linesIterator.take(2).mkString(" | ")
    s"${root.getClass.getSimpleName}: $msg".take(300)
  }

  private def execPhase(e: Throwable): String = e match {
    case _: AnalysisException => "plan"
    case _                    => "exec"
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def now(): Long = System.nanoTime()
  private def secs(from: Long, to: Long): Double = (to - from) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val queries = graft.SparkEntry.queries
    val missing = a.keys.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown keys: ${missing.mkString(",")}")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // ---- set-up, timed from JVM start until the first timed pass: the
    // session, one pass that checks every key's output, and one pass
    // into the sink, so the timed passes find the sink's plans compiled
    val codegenLog = CodegenLog.install()
    val spark = session(a.cores, a.tmp.resolve("session"))
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val checks = a.keys.map(k => k -> check(spark, a.input, k, queries(k)))
    spark.catalog.clearCache()
    val warm = runPass(spark, a, queries, -1, None)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val setup = Json.obj("setup_s" -> setupS, "session_s" -> sessionS,
      "checks" -> Json.obj(checks: _*), "warm" -> warm,
      "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "codegen_ms" -> codegenLog.totalMs)

    // ---- timed passes
    val tracer = if (a.trace) Some(new Tracer(spark, a, codegenLog)) else None
    val passes = mutable.ArrayBuffer.empty[scala.collection.Map[String, Any]]
    var p = 0
    // At least four timed passes: the JIT still speeds up the first few,
    // and the median of four or more leaves the slowest one out.
    // A traced run alternates untraced and traced passes as
    // U T T U U T T U, so a remaining drift in pass times cancels out of
    // the tracing overhead. It makes at least two such blocks.
    val tEnd = now() + (a.seconds * 1e9).toLong
    while (p < MinPasses || now() < tEnd || (tracer.isDefined && p < 8)) {
      val traced = tracer.filter(_ => p % 4 == 1 || p % 4 == 2)
      // every pass of a traced run follows the same catalog reads, so the
      // reads cannot favour traced passes over untraced ones
      val readCallS = tracer.map(_.readCall())
      val pass = runPass(spark, a, queries, p, traced)
      if (traced.isDefined) pass ++= readCallS.map("read_call_s" -> _)
      passes += pass
      p += 1
    }

    // ---- retained JVM heap after the last timed pass: the context
    // cleaner drops blocks of unreachable RDDs only after a GC has queued
    // them, so collect until it has caught up
    spark.catalog.clearCache()
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    tracer.foreach(_.finish())
    stop(spark)

    val out = Json.obj(
      "cores" -> a.cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "setup" -> setup,
      "passes" -> passes,
      "heap_retained_mb" -> heapMb,
      "jobs" -> tracer.map(_.jobs.jobs.values.asScala.toSeq.sortBy(_.id).map(_.toJson)).getOrElse(Nil),
      "spans" -> tracer.map(_.spans.all).getOrElse(Nil))
    Files.writeString(Paths.get(a.out), Json.value(out))
  }

  /** Runs one key and fingerprints its output; never throws. */
  def check(spark: SparkSession, input: String, key: String,
      fn: (SparkSession, String) => DataFrame): scala.collection.Map[String, Any] = {
    val t0 = now()
    def failed(phase: String, e: Throwable) =
      Json.obj("ok" -> false, "phase" -> phase, "cause" -> cause(e), "s" -> secs(t0, now()))
    try {
      val df = fn(spark, input)
      try {
        val collect = Fingerprint.planned(df)
        try {
          val fp = collect()
          Json.obj("ok" -> true, "rows" -> fp.rows, "hash" -> fp.hash,
            "schema" -> fp.schema, "s" -> secs(t0, now()))
        } catch { case e: Throwable => failed("exec", e) }
      } catch { case e: Throwable => failed("plan", e) }
    } catch { case e: Throwable => failed("build", e) }
  }

  def runPass(spark: SparkSession, a: Args,
      queries: Map[String, (SparkSession, String) => DataFrame],
      p: Int, tracer: Option[Tracer]): mutable.LinkedHashMap[String, Any] = {
    val sc = spark.sparkContext
    tracer.foreach { t =>
      t.beginPass()
      sc.setLocalProperty(PassProperty, p.toString)
    }
    val gc0 = gcMs()
    val t0 = now()
    val keys = a.keys.map { k =>
      val r = mutable.LinkedHashMap[String, Any]("key" -> k)
      // no job description, so SQL executions keep the action's call site
      tracer.foreach(_ => sc.setJobGroup(s"$k/build", null, interruptOnCancel = false))
      val tb0 = now()
      var tb1, te0, te1 = -1L
      try {
        val df = queries(k)(spark, a.input)
        tb1 = now()
        tracer.foreach(_ => sc.setJobGroup(s"$k/run", null, interruptOnCancel = false))
        te0 = now()
        try {
          df.write.format("noop").mode("overwrite").save()
          te1 = now()
          r ++= Seq("ok" -> true, "lat_s" -> secs(tb0, te1))
        } catch { case e: Throwable =>
          r ++= Seq("ok" -> false, "phase" -> execPhase(e), "cause" -> cause(e))
        }
      } catch { case e: Throwable =>
        r ++= Seq("ok" -> false, "phase" -> "build", "cause" -> cause(e))
      }
      tracer.foreach { t =>
        sc.clearJobGroup()
        r ++= t.afterKey(k, p, tb0, tb1, te0, te1)
      }
      spark.catalog.clearCache()
      r
    }
    val t1 = now()
    tracer.foreach(_ => sc.setLocalProperty(PassProperty, null))
    val pass = mutable.LinkedHashMap[String, Any](
      "pass" -> p, "traced" -> tracer.isDefined, "wall_s" -> secs(t0, t1),
      "gc_s" -> (gcMs() - gc0) / 1e3, "keys" -> keys)
    tracer.foreach(t => pass ++= t.endPass(p, t0, t1))
    pass
  }

  /** The tracing side of a run: listeners are attached only while a
    * traced pass runs, so untraced passes pay nothing for them. */
  final class Tracer(spark: SparkSession, a: Args, codegenLog: CodegenLog) {
    val jobs = new JobListener
    val sinks = new SinkListener
    val spans = new Spans
    private val runSpan = spans.add("run", -1, spans.epochMs(now()), spans.epochMs(now()))
    private var codegen0 = (0L, 0.0)
    /** One key of the current pass: nanoTime marks (-1 where the key
      * failed before them) and the planning window in epoch ms. */
    private final case class KeyTimes(key: String, tb0: Long, tb1: Long, te0: Long,
        end: Long, plan: Option[(Double, Double)])
    private val keyTimes = mutable.ArrayBuffer.empty[KeyTimes]

    // compiles from Spark's histogram count, their time summed exactly
    // from the code generator's log (the histogram's reservoir samples)
    private def codegen(): (Long, Double) =
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, codegenLog.totalMs)

    def beginPass(): Unit = {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(sinks)
      sinks.sinks.clear()
      codegen0 = codegen()
      keyTimes.clear()
    }

    /** Times one `Tables(...)` call per table, the catalog's read path. */
    def readCall(): Double = {
      val t = graft.sources.Tables(spark, a.input)
      val t0 = now()
      Seq[() => DataFrame](() => t.region, () => t.nation, () => t.customer,
        () => t.supplier, () => t.part, () => t.orders, () => t.lineitem,
        () => t.events, () => t.documents, () => t.embeddings).foreach(_())
      secs(t0, now())
    }

    def afterKey(k: String, p: Int, tb0: Long, tb1: Long, te0: Long, te1: Long): Seq[(String, Any)] = {
      val persisted = spark.sparkContext.getPersistentRDDs.size
      val out = mutable.ArrayBuffer[(String, Any)]("persisted_left" -> persisted)
      if (tb1 > 0) out += "build_s" -> secs(tb0, tb1)
      var plan = Option.empty[(Double, Double)]
      if (te1 > 0) {
        out += "save_s" -> secs(te0, te1)
        // the sink listener runs on Spark's listener bus, so a write of
        // an earlier key can still be queued: take the first one that
        // started planning after this key started building
        val from = spans.epochMs(tb0)
        Iterator.continually(sinks.await(5000)).takeWhile(_.isDefined).flatten
          .find(qe => qe.tracker.phases.values.map(_.startTimeMs).minOption.exists(_ >= from))
          .foreach { qe =>
            out ++= planFigures(qe)
            val phases = qe.tracker.phases.values
            plan = Some((phases.map(_.startTimeMs).min.toDouble, phases.map(_.endTimeMs).max.toDouble))
          }
      }
      keyTimes += KeyTimes(k, tb0, tb1, te0, if (te1 > 0) te1 else now(), plan)
      out.toSeq
    }

    private def planFigures(qe: QueryExecution): Seq[(String, Any)] = {
      val phases = qe.tracker.phases
      def ms(ph: String) = phases.get(ph).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      val rules = qe.tracker.rules.filter { case (n, _) =>
        n.endsWith("ProjectionRewrite") || n.endsWith("CastTransformRewrite") }
      val aggs = collectWithSubqueries(qe.executedPlan) { case x: BaseAggregateExec => x }
      def metric(name: String) = aggs.flatMap(_.metrics.get(name)).map(_.value).sum
      Seq(
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"),
        "graft_rule_ns" -> rules.values.map(_.totalTimeNs).sum,
        "graft_rule_calls" -> rules.values.map(_.numInvocations).sum,
        "graft_rule_hits" -> rules.values.map(_.numEffectiveInvocations).sum,
        "agg_build_ms" -> metric("aggTime"),
        "sort_fallback_tasks" -> metric("numTasksFallBacked"))
    }

    def endPass(p: Int, t0: Long, t1: Long): Seq[(String, Any)] = {
      // let the listener bus deliver the pass's last job and task events
      val deadline = now() + 5000000000L
      while (jobs.pending > 0 && now() < deadline) Thread.sleep(5)
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(sinks)
      val (c1, ms1) = codegen()
      val passSpan = spans.add("pass", runSpan, spans.epochMs(t0), spans.epochMs(t1), "pass" -> p)
      for (t <- keyTimes) {
        val (start, end) = (spans.epochMs(t.tb0), spans.epochMs(t.end))
        val keySpan = spans.add("key", passSpan, start, end, "key" -> t.key)
        if (t.tb1 > 0) spans.add("build", keySpan, start, spans.epochMs(t.tb1), "key" -> t.key)
        t.plan.foreach { case (ps, pe) => spans.add("plan", keySpan, ps, pe, "key" -> t.key) }
        if (t.te0 > 0) {
          val execStart = spans.epochMs(t.te0).max(t.plan.fold(0.0)(_._2))
          spans.add("exec", keySpan, execStart, end, "key" -> t.key)
        }
      }
      Seq("codegen_compiles" -> (c1 - codegen0._1), "codegen_ms" -> (ms1 - codegen0._2))
    }

    def finish(): Unit = spans.close(runSpan, spans.epochMs(now()))
  }
}
