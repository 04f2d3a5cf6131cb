package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-job counters, filled from task-end events of the job's stages. */
final class JobRec(val id: Int, val startMs: Long, val site: String) {
  var endMs: Long = -1L
  var stages, tasks, failedTasks = 0
  var cpuNs, runMs, gcMs, delayMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output, result = 0L
  def seconds: Double = math.max(0L, endMs - startMs) / 1000.0
}

/** The traced run's instruments, all attached from outside the program:
  * a SparkListener for jobs, stages and task metrics, and a
  * QueryExecutionListener for Catalyst phase times. Events are only
  * collected in memory; [[passMetrics]] and [[spans]] derive everything
  * after the listener bus has drained.
  */
final class Tracer(spark: SparkSession, querySources: Set[String])
    extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  // call site of each SQL execution: adaptive execution submits a query's
  // stage jobs from a thread pool, whose own call site names no user frame
  private val execSite = mutable.Map.empty[Long, String]
  // (earliest phase start, summed phase ms) per executed QueryExecution,
  // keyed by tracker identity so a frame seen twice is counted once
  private val plans = mutable.Map.empty[Int, (Double, Double)]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized(execSite(x.executionId) = x.description)
    case _ =>
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val site = prop("spark.sql.execution.id").flatMap(id => execSite.get(id.toLong))
      .orElse(prop("callSite.short"))
      .getOrElse(if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name)
    jobs(e.jobId) = new JobRec(e.jobId, e.time, site)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.spill += m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
        j.result += m.resultSize
        // the Spark UI's scheduler delay: task wall time not spent running,
        // deserializing, serializing the result or fetching it
        val info = e.taskInfo
        val fetch = if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
        j.delayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - fetch)
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)
  private def recordPlan(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) plans(System.identityHashCode(qe.tracker)) =
      (phases.map(_.startTimeMs).min.toDouble, phases.map(_.durationMs).sum.toDouble)
  }

  def drain(): Unit = org.apache.spark.perfbench.Drain(spark.sparkContext)

  /** Jobs whose start falls inside [t0, t1] (inclusive, in ms). */
  private def jobsIn(t0: Double, t1: Double): Seq[JobRec] =
    jobs.values.filter(j => j.startMs >= math.floor(t0) && j.startMs <= math.ceil(t1)).toSeq

  /** The layer metrics of one traced pass; see the README for the map. */
  def passMetrics(p: PassRun): Seq[(String, Double)] = { drain(); metricsOf(p) }

  private def metricsOf(p: PassRun): Seq[(String, Double)] = synchronized {
    val js = jobsIn(p.startMs, p.endMs)
    val constructJobs = p.queries.map(q => jobsIn(q.startMs, q.builtMs).size).sum
    // Catalyst time of every QueryExecution run inside the pass, plus the
    // analysis of each returned frame (its own QueryExecution never runs:
    // the noop write plans a new one around it)
    val planS = (plans.values.filter { case (t, _) => t >= p.startMs && t <= p.endMs }
      .map(_._2).sum + p.queries.map(_.planMs).sum) / 1000
    val busy = Tracer.unionSeconds(js.map(j => (j.startMs, j.endMs)))
    val cpu = js.map(_.cpuNs).sum / 1e9
    val mb = (f: JobRec => Long) => js.map(f).sum / 1048576.0
    val base = Seq(
      "queries.construct_s" -> p.queries.map(q => q.builtMs - q.startMs).sum / 1000,
      "queries.construct_jobs" -> constructJobs.toDouble,
      "catalyst.plan_s" -> planS,
      "spark.materialize_s" -> p.queries.map(q => q.endMs - q.builtMs).sum / 1000,
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_.stages).sum.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.job_busy_s" -> busy,
      "spark.driver_gap_s" -> (p.seconds - busy),
      "spark.s_per_job" -> (if (js.isEmpty) 0.0 else p.seconds / js.size),
      "spark.task_cpu_s" -> cpu,
      "spark.task_run_s" -> js.map(_.runMs).sum / 1000.0,
      "spark.gc_s" -> js.map(_.gcMs).sum / 1000.0,
      "spark.sched_delay_s" -> js.map(_.delayMs).sum / 1000.0,
      "spark.cpu_util" -> cpu / (p.seconds * spark.sparkContext.defaultParallelism),
      "spark.failed_tasks" -> js.map(_.failedTasks).sum.toDouble,
      "shuffle.write_mb" -> mb(_.shuffleWrite),
      "shuffle.read_mb" -> mb(_.shuffleRead),
      "shuffle.fetch_wait_s" -> js.map(_.fetchWaitMs).sum / 1000.0,
      "shuffle.spill_mb" -> mb(_.spill),
      "io.input_mb" -> mb(_.input),
      "io.output_mb" -> mb(_.output),
      "driver.result_mb" -> mb(_.result),
      "trace.pass_s" -> p.seconds)
    val bySite = js.groupBy(j => module(j.site))
    val sites = Tracer.Modules.flatMap { m =>
      val mj = bySite.getOrElse(m, Nil)
      Seq(s"site.$m.jobs" -> mj.size.toDouble,
        s"site.$m.job_s" -> mj.map(_.seconds).sum,
        s"site.$m.task_cpu_s" -> mj.map(_.cpuNs).sum / 1e9)
    }
    base ++ sites
  }

  /** Jobs launched in [t0, t1] (probe accounting). */
  def jobCount(t0: Double, t1: Double): Int = {
    drain()
    synchronized(jobsIn(t0, t1).size)
  }

  /** The module a job is charged to: the source file of its call site
    * (`"<op> at <File>.scala:<line>"`), mapped onto the repo's layers.
    */
  def module(site: String): String = {
    val file = site.split(" at ").lastOption.getOrElse("").split(":").head
    Tracer.FileModules.getOrElse(file,
      if (querySources(file)) "queries" else "other")
  }

  /** All spans as JSON lines: run → pass → query → {construct, materialize}
    * → job, and run → probe → job. A job's parent is the innermost span
    * whose interval holds its start; the driver thread runs queries one
    * at a time, so that is the query (phase) that launched it.
    */
  def spans(runStartMs: Double, runEndMs: Double, passes: Seq[PassRun],
      probes: Seq[ProbeRun]): String = { drain(); spansOf(runStartMs, runEndMs, passes, probes) }

  private def spansOf(runStartMs: Double, runEndMs: Double, passes: Seq[PassRun],
      probes: Seq[ProbeRun]): String = synchronized {
    val out = new StringBuilder
    var nextId = 0
    def emit(parent: Int, kind: String, name: String, t0: Double, t1: Double,
        attrs: (String, String)*): Int = {
      nextId += 1
      out ++= Json.obj(Seq("id" -> Json.num(nextId), "parent" -> Json.num(parent),
        "kind" -> Json.str(kind), "name" -> Json.str(name),
        "start_ms" -> Json.num(t0), "end_ms" -> Json.num(t1)) ++ attrs: _*) += '\n'
      nextId
    }
    def emitJobs(parent: Int, t0: Double, t1: Double): Unit = jobsIn(t0, t1).foreach { j =>
      emit(parent, "job", s"job ${j.id}", j.startMs.toDouble, j.endMs.toDouble,
        "site" -> Json.str(j.site), "module" -> Json.str(module(j.site)),
        "stages" -> Json.num(j.stages), "tasks" -> Json.num(j.tasks),
        "task_cpu_s" -> Json.num(j.cpuNs / 1e9))
    }
    val run = emit(0, "run", "run", runStartMs, runEndMs)
    passes.foreach { p =>
      val ps = emit(run, "pass", s"${p.kind} ${p.index}", p.startMs, p.endMs,
        "pass_kind" -> Json.str(p.kind))
      p.queries.foreach { q =>
        val qs = emit(ps, "query", q.name, q.startMs, q.endMs,
          "ok" -> Json.bool(q.error.isEmpty))
        if (p.kind == "traced") {
          emitJobs(emit(qs, "construct", q.name, q.startMs, q.builtMs), q.startMs, q.builtMs)
          emitJobs(emit(qs, "materialize", q.name, q.builtMs, q.endMs), q.builtMs, q.endMs)
        }
      }
    }
    probes.foreach { p =>
      emitJobs(emit(run, "probe", p.name, p.startMs, p.endMs), p.startMs, p.endMs)
    }
    out.toString
  }
}

object Tracer {
  /** The launch-site modules reported as `site.<module>.*`. */
  val Modules: Seq[String] = Seq("queries", "queries.SharedFrames", "engine.TxLog",
    "engine.Sinks", "engine.Keys", "ext.NearDup", "ext.IvfPq", "ext.Similarity",
    "streaming.EventStreams", "bench", "other")
  val FileModules: Map[String, String] = Map(
    "SharedFrames.scala" -> "queries.SharedFrames",
    "TxLog.scala" -> "engine.TxLog",
    "Sinks.scala" -> "engine.Sinks",
    "Keys.scala" -> "engine.Keys",
    "NearDup.scala" -> "ext.NearDup",
    "IvfPq.scala" -> "ext.IvfPq",
    "Similarity.scala" -> "ext.Similarity",
    "EventStreams.scala" -> "streaming.EventStreams",
    "PerfBench.scala" -> "bench",
    "Probes.scala" -> "bench")

  /** Catalyst phase time already spent on a returned frame. */
  def planMs(df: DataFrame): Double =
    df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble

  /** Length of the union of [start, end] intervals, in seconds. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(_._2 >= 0).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    (total + (curE - curS)) / 1000.0
  }
}
