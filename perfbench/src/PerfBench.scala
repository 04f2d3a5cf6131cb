package perfbench

import java.io.FileInputStream
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Properties
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** Wall clock in epoch milliseconds with nanosecond resolution: the same
  * time base as the Spark listener's event timestamps, so harness spans and
  * job spans nest without conversion.
  */
object Clock {
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def nowMs: Double = ms0 + (System.nanoTime() - ns0) / 1e6
}

/** One query execution: construction (`SparkEntry.queries(name)(spark, dir)`)
  * from `startMs` to `builtMs`, the noop write from `builtMs` to `endMs`.
  */
final case class QueryRun(name: String, startMs: Double, builtMs: Double,
    endMs: Double, planMs: Double, error: Option[String]) {
  def seconds: Double = (endMs - startMs) / 1000
}

/** One pass over the workload; `steal` is the host's steal share of CPU
  * time during it (/proc/stat).
  */
final case class PassRun(kind: String, index: Int, startMs: Double, endMs: Double,
    queries: Seq[QueryRun], steal: Double = 0) {
  def seconds: Double = (endMs - startMs) / 1000
}

/** Cumulative CPU jiffies from /proc/stat: (steal, total). */
object HostStat {
  def cpu(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    val v = f.drop(1).take(8).map(_.toLong) // user..steal; guest is inside user
    (v(7), v.sum)
  }
  def stealShare(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 > from._2) (to._1 - from._1).toDouble / (to._2 - from._2) else 0
  def load1(): Double =
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
  def peakRssMb(): Double = {
    val it = Files.readAllLines(Paths.get("/proc/self/status")).iterator()
    var kb = 0L
    while (it.hasNext) {
      val l = it.next()
      if (l.startsWith("VmHWM:")) kb = l.split("\\s+")(1).toLong
    }
    kb / 1024.0
  }
}

/** One benchmark run in one JVM, driven by a properties file written by
  * `run.py`:
  *  1. set-up: a session configured as `graft.Bench` configures it, then
  *     the workload's fixed number of warm passes;
  *  2. timed passes for the run's seconds, with no listener attached, and
  *     up to `max_extra` more while fewer than `min_passes` of them ran
  *     with a host steal share of at most `steal_max`;
  *  3. traced runs only: step 2 gets half the seconds, traced passes with
  *     the listeners attached get the other half, then the operator probes
  *     run;
  *  4. one result dump per query for the DuckDB oracle check.
  * Everything measured lands in `<out>/result.json` (and, traced, the span
  * file `<out>/trace.jsonl`).
  */
object PerfBench {
  def main(args: Array[String]): Unit = {
    val conf = new Properties()
    val in = new FileInputStream(args(0))
    try conf.load(in) finally in.close()
    def get(k: String): String =
      Option(conf.getProperty(k)).getOrElse(sys.error(s"missing config key $k"))
    def list(k: String): Seq[String] = get(k).split(",").toSeq.filter(_.nonEmpty)
    val dataDir = get("data")
    val outDir = get("out")
    val cores = get("cores").toInt
    val seconds = get("seconds").toDouble
    val traced = get("trace") == "1"
    val order = list("order")
    val warmPasses = get("warm_passes").toInt
    val minPasses = get("min_passes").toInt
    val stealMax = get("steal_max").toDouble
    val maxExtra = get("max_extra").toInt
    val extraUntilS = get("extra_until_s").toDouble

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    // The program's scratch paths (engine.Scratch) resolve under the run
    // directory; see build.py for how the root is wired in.
    System.setProperty("graft.scratch.root", s"$outDir/scratch")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
      .config("spark.ui.enabled", "false")
      // locations only: keep every file the run writes inside the run dir
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val sessionS = (Clock.nowMs - jvmStartMs) / 1000
    val scratch = graft.engine.Scratch.dir(spark, dataDir, "probe")
    require(scratch.startsWith(s"$outDir/"),
      s"the program's scratch root resolves to $scratch, outside the run directory")

    def runQuery(name: String): QueryRun = {
      val t0 = Clock.nowMs
      var built = t0
      try {
        val df = SparkEntry.queries(name)(spark, dataDir)
        built = Clock.nowMs
        df.write.format("noop").mode("overwrite").save()
        QueryRun(name, t0, built, Clock.nowMs, Tracer.planMs(df), None)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          QueryRun(name, t0, built, Clock.nowMs, 0, Some(e.toString))
      }
    }
    def runPass(kind: String, index: Int): PassRun = {
      val cpu0 = HostStat.cpu()
      val t0 = Clock.nowMs
      val qs = order.map(runQuery)
      val t1 = Clock.nowMs
      PassRun(kind, index, t0, t1, qs, HostStat.stealShare(cpu0, HostStat.cpu()))
    }
    /** Passes until `budgetS` seconds have elapsed, at least `min` of them;
      * then up to `extra` more while fewer than `min` ran with little steal
      * and another pass would end by `extraUntilS` after JVM start.
      */
    def runPasses(kind: String, budgetS: Double, min: Int, extra: Int = 0): Seq[PassRun] = {
      val t0 = Clock.nowMs
      var out = Vector.empty[PassRun]
      while (out.size < min || (Clock.nowMs - t0) / 1000 < budgetS)
        out :+= runPass(kind, out.size)
      var added = 0
      def fits = (Clock.nowMs - jvmStartMs) / 1000 + out.last.seconds <= extraUntilS
      while (added < extra && out.count(_.steal <= stealMax) < min && fits) {
        out :+= runPass(kind, out.size); added += 1
      }
      out
    }

    // 1. set-up
    val warm = (0 until warmPasses).map(runPass("warm", _))
    val timedStartMs = Clock.nowMs
    val setupS = (timedStartMs - jvmStartMs) / 1000

    // 2. timed passes, no listener
    val (steal0, total0) = HostStat.cpu()
    // a traced run splits its seconds between untraced and traced passes
    // and takes fewer of each: its timed passes only set trace.overhead_s
    val timed =
      if (traced) runPasses("timed", seconds / 2, math.min(minPasses, 2))
      else runPasses("timed", seconds, minPasses, maxExtra)
    val (steal1, total1) = HostStat.cpu()
    val load1 = HostStat.load1()
    val peakRss = HostStat.peakRssMb()

    // 3. traced phase
    val tracer = if (traced) Some(new Tracer(spark, list("query_sources").toSet)) else None
    val tracedPasses = tracer.map(_ => runPasses("traced", seconds / 2, math.min(minPasses, 2)))
      .getOrElse(Nil)
    val probeStartMs = Clock.nowMs
    val probeRuns = tracer.map(t => Probes.run(spark, dataDir, s"$outDir/probes",
      list("probes"), t)).getOrElse(Nil)
    val endMs = Clock.nowMs
    tracer.foreach(_.drain())
    val checkStartMs = Clock.nowMs

    // 4. result dumps for the oracle check (outside every metric); row order
    // is not compared, so the dump keeps the plan's own partitioning
    val checkErrors = order.flatMap { name =>
      try {
        SparkEntry.queries(name)(spark, dataDir)
          .write.mode("overwrite").parquet(s"$outDir/check/$name")
        None
      } catch { case NonFatal(e) => Some(name -> e.toString) }
    }.toMap
    val oracle = SparkEntry.oracleSql
    val checkS = (Clock.nowMs - checkStartMs) / 1000

    val passJson = (ps: Seq[PassRun]) => Json.arr(ps.map(p => Json.obj(
      "seconds" -> Json.num(p.seconds),
      "steal" -> Json.num(p.steal),
      "queries" -> Json.arr(p.queries.map(q => Json.obj(
        "name" -> Json.str(q.name), "seconds" -> Json.num(q.seconds),
        "ok" -> Json.bool(q.error.isEmpty)))))))
    val result = Json.obj(
      "setup_s" -> Json.num(setupS),
      "session_s" -> Json.num(sessionS),
      "check_dump_s" -> Json.num(checkS),
      "probes_s" -> Json.num((endMs - probeStartMs) / 1000),
      "warm" -> passJson(warm),
      "timed" -> passJson(timed),
      "traced" -> passJson(tracedPasses),
      "peak_rss_mb" -> Json.num(peakRss),
      "host_steal_frac" -> Json.num(
        if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0),
      "host_load1" -> Json.num(load1),
      "layers" -> tracer.map(t => Json.arr(tracedPasses.map(p =>
        Json.obj(t.passMetrics(p).map { case (k, v) => k -> Json.num(v) }: _*))))
        .getOrElse(Json.arr(Nil)),
      "probes" -> Json.obj(probeRuns.flatMap(p => Seq(
        s"op.${p.name}_s" -> Json.num(p.seconds),
        s"op.${p.name}.jobs" -> Json.num(p.jobs))): _*),
      "check_errors" -> Json.obj(checkErrors.map { case (k, v) => k -> Json.str(v) }.toSeq: _*),
      "oracle" -> Json.obj(order.map(n => n -> oracle.get(n).map(Json.str).getOrElse("null")): _*))
    Files.writeString(Paths.get(s"$outDir/result.json"), result)
    tracer.foreach(t => Files.writeString(Paths.get(s"$outDir/trace.jsonl"),
      t.spans(jvmStartMs, endMs, warm ++ timed ++ tracedPasses, probeRuns)))
    spark.stop()
    // the program may leave idle non-daemon pool threads behind; do not
    // wait for their keep-alive to lapse
    sys.exit(0)
  }
}

/** Minimal JSON rendering for the result file (values are pre-rendered). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
