package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Graft, SparkEntry}
import graft.sql.{Lexer, Parser}

/** Closed-loop, single-client benchmark harness for graft.
  *
  * Usage: GraftBench <workload> <dataDir> <workDir> <seconds> <trace 0|1> <cores>
  *   <warm-up passes>
  *
  * `workDir` holds the inputs the orchestrator (perfbench/run.py)
  * drew from the seed — `check.txt` (entries to verify) and `ops.txt`
  * (the op sequence) — and receives `check/<entry>` parquet results,
  * `ops.jsonl` (one record per op), `spans.jsonl` (traced runs) and
  * `stamp.json` (run conditions). Timing never includes the
  * correctness pass or the trace bookkeeping.
  */
object GraftBench {

  // ---- session posture: identical to graft.Bench -----------------------
  def posture(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> math.max(2, cpus / 4).toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024 * 1024).toString,
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.locality.wait" -> "0")

  def buildSession(cpus: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
    posture(cpus).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def now(): Long = System.nanoTime()
  def ms(a: Long, b: Long): Double = (b - a) / 1e6

  def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def vmHwmMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Throwable => -1.0 }

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => -1L
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) =>
    q(k) + ":" + (v match {
      case s: String => q(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case b: Boolean => b.toString
      case n: Number => n.toString
      case null => "null"
      case raw => raw.toString
    })
  }.mkString("{", ",", "}")

  /** SQL text graft receives for each SQL entry, read from SparkEntry's
    * entry tables (the texts are the entries' definitions; only the
    * shared-text ones are exposed publicly, through oracleSql). */
  def sqlTexts(): Map[String, String] = {
    def field(name: String): Seq[Product] = {
      val m = SparkEntry.getClass.getDeclaredMethods.find(_.getName == name)
      m.map { mm => mm.setAccessible(true); mm.invoke(SparkEntry).asInstanceOf[Seq[Product]] }
        .getOrElse(Seq.empty)
    }
    val shared = (field("sharedSql") ++ field("sharedSqlWindowExt")).map { p =>
      p.productElement(0).toString -> p.productElement(1).toString
    }
    val dialect = field("dialectSql").map { p =>
      p.productElement(0).toString -> p.productElement(1).toString
    }
    (shared ++ dialect).toMap
  }

  // ---- trace collection ------------------------------------------------

  final case class JobRec(op: String, phase: String, jobId: Int, start: Long, var end: Long)
  final case class TaskAgg(var tasks: Long = 0, var runMs: Long = 0, var cpuNs: Long = 0,
                           var gcMs: Long = 0, var schedMs: Long = 0, var shRead: Long = 0,
                           var shWrite: Long = 0, var input: Long = 0, var spill: Long = 0)
  final case class QeRec(startMs: Long, endMs: Long, analysis: Double, optimization: Double,
                         planning: Double, exchanges: Int, codegenStages: Int,
                         fallbackExprs: Int)

  /** Spark-listener side of the trace: jobs and task metrics keyed by
    * the op/phase local properties set around each op. */
  final class ExecListener extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val agg = new java.util.concurrent.ConcurrentHashMap[(String, String), TaskAgg]()
    val stagesDone = new java.util.concurrent.ConcurrentHashMap[(String, String), Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty("graftbench.op"))).getOrElse("")
      val ph = p.flatMap(x => Option(x.getProperty("graftbench.phase"))).getOrElse("")
      jobs.put(e.jobId, JobRec(op, ph, e.jobId, e.time, -1L))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    private def key(stageId: Int): Option[(String, String)] =
      Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j))).map(j => (j.op, j.phase))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      key(e.stageInfo.stageId).foreach(k => stagesDone.merge(k, 1, (a: Int, b: Int) => a + b))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      key(e.stageId).foreach { k =>
        val a = agg.computeIfAbsent(k, _ => TaskAgg())
        a.synchronized {
          val info = e.taskInfo
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.schedMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
          a.shRead += m.shuffleReadMetrics.totalBytesRead
          a.shWrite += m.shuffleWriteMetrics.bytesWritten
          a.input += m.inputMetrics.bytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Catalyst side: phase times and physical-plan shape of every
    * query execution, read from its tracker. */
  final class QeListener extends QueryExecutionListener {
    val recs = new ConcurrentLinkedQueue[QeRec]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def d(n: String) = ph.get(n).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
      val starts = ph.values.map(_.startTimeMs)
      val ends = ph.values.map(_.endTimeMs)
      val plan = qe.executedPlan
      val nodes = plan.collectWithSubqueries { case p => p }
      val fallback = nodes.map(_.expressions.map(_.collect {
        case e: HigherOrderFunction => 1
        case e: CodegenFallback => 1
      }.size).sum).sum
      recs.add(QeRec(if (starts.isEmpty) 0L else starts.min, if (ends.isEmpty) 0L else ends.max,
        d("analysis"), d("optimization"), d("planning"),
        nodes.count(_.isInstanceOf[Exchange]),
        nodes.count(_.isInstanceOf[WholeStageCodegenExec]), fallback))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def compileStats(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  // ---- main --------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, secondsS, traceS, cpusS, warmupS) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cpus = cpusS.toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadavg()
    var loadMax = loadStart
    def stampLoad(): Unit = loadMax = math.max(loadMax, loadavg())
    def sinceStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    def lines(f: String): Seq[String] =
      Files.readAllLines(Paths.get(workDir, f)).asScala.toSeq.map(_.trim).filter(_.nonEmpty)
    val checkEntries = lines("check.txt")
    val opSeq = lines("ops.txt")

    // ---- set-up: session, table registration and a first query; setup_s
    // runs from JVM start to the first timed op, so it also covers the
    // correctness pass and the warm-up below
    val mainS = sinceStart()
    val spark = buildSession(cpus)
    val sparkS = sinceStart()
    noop(Graft.forDir(spark, dataDir).query("select count(*) as n from lineitem"))
    val sessionS = sinceStart()
    stampLoad()

    val entries = SparkEntry.queries
    val texts = sqlTexts()
    val oracle = SparkEntry.oracleSql
    Files.write(Paths.get(workDir, "oracle_sql.json"), java.util.List.of(
      checkEntries.flatMap(n => oracle.get(n).map(n -> _)).toMap.map { case (k, v) => q(k) + ":" + q(v) }
        .mkString("{", ",", "}")))
    val ops = new java.io.PrintWriter(Paths.get(workDir, "ops.jsonl").toFile)
    val spans = new mutable.ArrayBuffer[String]()
    def span(name: String, op: String, parent: String, s: Long, e: Long): Unit =
      if (trace) spans += obj(Seq("name" -> name, "op" -> op, "parent" -> parent,
        "start_ns" -> s, "end_ns" -> e))

    // ---- correctness pass (untimed; doubles as warm-up) -------------------
    val checkDir = Paths.get(workDir, "check")
    val checkErrors = mutable.LinkedHashMap[String, String]()
    checkEntries.foreach { name =>
      try {
        val fn = entries.getOrElse(name, sys.error(s"no entry named $name"))
        fn(spark, dataDir).write.mode("overwrite").parquet(checkDir.resolve(name).toString)
      } catch { case e: Throwable =>
        checkErrors(name) = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)
      }
    }
    val checkedS = sinceStart()
    // warm-up: the drawn entries `warmupS` more times through the timed
    // path (perfbench/run.py sets the count per workload)
    for (_ <- 0 until warmupS.toInt; name <- checkEntries)
      try noop(entries(name)(spark, dataDir)) catch { case _: Throwable => () }
    System.gc()
    stampLoad()

    // ---- timed loop ----------------------------------------------------------
    val sc = spark.sparkContext
    // the trace listeners are attached for traced rounds only, so the
    // untraced rounds of a traced run carry none of their cost
    val execL = new ExecListener
    val qeL = new QeListener
    var attached = false
    def attach(on: Boolean): Unit = if (on != attached) {
      if (on) { sc.addSparkListener(execL); spark.listenerManager.register(qeL) }
      else {
        org.apache.spark.GraftBenchBus.drain(sc)
        sc.removeSparkListener(execL); spark.listenerManager.unregister(qeL)
      }
      attached = on
    }
    val cpu0 = processCpuNs()
    val gc0 = gcMs(); val jit0 = jitMs()
    var opsDone = 0L
    var failed = 0L
    val setupS = sinceStart()
    val timedStart = now()

    val endAt = timedStart + (seconds * 1e9).toLong
    // whole rounds only: every run measures each drawn entry equally
    // often; a traced run holds at least one untraced and one traced round
    val round = checkEntries.size
    var i = 0
    while (now() < endAt || i % round != 0 || (trace && i < 2 * round)) {
      val name = opSeq(i % opSeq.length)
      val opId = s"op$i"
      // a traced run traces every other round; the untraced rounds
      // measure the tracing overhead on the same op mix
      val traced = trace && (i / round) % 2 == 1
      attach(traced)
      val fn = entries(name)
      var rec = Seq[(String, Any)]("op" -> opId, "name" -> name, "traced" -> traced)
      val text = texts.get(name)
      if (traced) text.foreach { t =>
        // graft.sql layer, replayed on the op's text before the op
        try {
          val a = now(); val toks = Lexer.tokenize(t); val b = now()
          Parser.parse(t); val c = now()
          val lex = ms(a, b)
          rec ++= Seq("sql.lex_ms" -> lex, "sql.parse_ms" -> math.max(0.0, ms(b, c) - lex),
            "sql.tokens" -> toks.size)
          span("sql.lex", opId, opId, a, b); span("sql.parse", opId, opId, b, c)
        } catch { case _: Throwable => () }
      }
      val (cc0, cms0) = if (traced) compileStats() else (0L, 0.0)
      val g0 = gcMs(); val j0 = jitMs(); val c0 = processCpuNs()
      if (traced) {
        sc.setLocalProperty("graftbench.op", opId)
        sc.setLocalProperty("graftbench.phase", "construct")
      }
      val t0 = now()
      var t1 = t0
      var ok = true
      var df: DataFrame = null
      try {
        df = fn(spark, dataDir)
        t1 = now()
        if (traced) sc.setLocalProperty("graftbench.phase", "action")
        noop(df)
      } catch { case e: Throwable =>
        ok = false
        rec :+= ("error" -> (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(200))
      }
      val t2 = now()
      if (traced) {
        sc.setLocalProperty("graftbench.op", null)
        sc.setLocalProperty("graftbench.phase", null)
      }
      if (!ok) failed += 1
      opsDone += 1
      rec ++= Seq("ok" -> ok, "round" -> i / round, "t_ns" -> (t0 - timedStart),
        "wall_ms" -> ms(t0, t2), "cpu_ms" -> (processCpuNs() - c0) / 1e6,
        "construct_ms" -> ms(t0, t1), "action_ms" -> ms(t1, t2),
        "jvm.gc_ms" -> (gcMs() - g0).toDouble, "jvm.jit_ms" -> (jitMs() - j0).toDouble)
      if (traced) {
        org.apache.spark.GraftBenchBus.drain(sc)
        val (cc1, cms1) = compileStats()
        rec ++= Seq("catalyst.codegen_compiles" -> (cc1 - cc0),
          "catalyst.codegen_compile_ms" -> math.max(0.0, cms1 - cms0))
        if (df != null) rec ++= Seq(
          "graft.plan_nodes" ->
            scala.util.Try(df.queryExecution.analyzed.collect { case p => p }.size).getOrElse(0),
          // the analyzer pass over the finished plan, run inside construction
          "graft.final_analysis_ms" -> df.queryExecution.tracker.phases.get("analysis")
            .map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0))
        rec ++= traceOp(opId, t0, t1, t2, cpus, execL, qeL, span)
      }
      ops.println(obj(rec))
      i += 1
    }
    attach(false)
    val timedEnd = now()
    val cpu1 = processCpuNs()
    org.apache.spark.GraftBenchBus.drain(sc)
    stampLoad()
    ops.close()
    if (trace) Files.write(Paths.get(workDir, "spans.jsonl"), spans.asJava)

    val stamp = Seq(
      "workload" -> workload, "cores" -> cpus, "heap_max_mb" ->
        (Runtime.getRuntime.maxMemory / 1048576.0),
      "posture" -> posture(cpus).map { case (k, v) => q(k) + ":" + q(v) }.mkString("{", ",", "}"),
      "spark_version" -> spark.version,
      "setup_s" -> setupS,
      "setup_phases_s" -> obj(Seq("main" -> mainS, "spark" -> sparkS,
        "session" -> sessionS, "checked" -> checkedS)),
      "check_entries" -> checkEntries.size,
      "check_errors" -> checkErrors.map { case (k, v) => q(k) + ":" + q(v) }.mkString("{", ",", "}"),
      "timed_s" -> (timedEnd - timedStart) / 1e9, "ops" -> opsDone, "failed" -> failed,
      "process_cpu_s" -> (cpu1 - cpu0) / 1e9,
      "jvm_gc_ms" -> (gcMs() - gc0), "jvm_jit_ms" -> (jitMs() - jit0),
      "peak_rss_mb" -> vmHwmMb(),
      "loadavg" -> obj(Seq("start" -> loadStart, "end" -> loadavg(), "max" -> loadMax)))
    Files.write(Paths.get(workDir, "stamp.json"), java.util.List.of(
      stamp.map { case (k, v) =>
        q(k) + ":" + (v match {
          case s: String if s.startsWith("{") || s.startsWith("[") => s
          case s: String => q(s)
          case o => o.toString
        })
      }.mkString("{", ",", "}")))
    spark.stop()
  }

  /** Per-op layer split from the listener records of one op. */
  def traceOp(opId: String, t0: Long, t1: Long, t2: Long, cpus: Int, execL: ExecListener,
              qeL: QeListener,
              span: (String, String, String, Long, Long) => Unit): Seq[(String, Any)] = {
    // wall-clock <-> nanoTime bridge for listener timestamps (ms epoch)
    val offNs = System.currentTimeMillis() * 1000000L - now()
    def toNano(msEpoch: Long): Long = msEpoch * 1000000L - offNs
    val jobs = execL.jobs.values.asScala.filter(_.op == opId).toSeq
    jobs.foreach(j => execL.jobs.remove(j.jobId))
    val eager = jobs.filter(_.phase == "construct")
    val actionJobs = jobs.filter(_.phase == "action")
    def jobMs(js: Seq[JobRec]): Double = {
      // union of job intervals (broadcast jobs overlap the main job)
      val iv = js.map(j => (j.start, if (j.end < 0) j.start else j.end)).sortBy(_._1)
      var total = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) total += curE - curS
      total.toDouble
    }
    val eagerMs = jobMs(eager)
    val execMs = jobMs(actionJobs)
    val recs = Iterator.continually(qeL.recs.poll()).takeWhile(_ != null).toSeq
    val t1ms = (t1 + offNs) / 1000000L
    val actionQe = recs.filter(_.startMs >= t1ms - 1)
    val anal = actionQe.map(_.analysis).sum
    val opt = actionQe.map(_.optimization).sum
    val plan = actionQe.map(_.planning).sum
    val catalystMs = anal + opt + plan
    val a = Option(execL.agg.remove((opId, "action"))).getOrElse(TaskAgg())
    val ea = Option(execL.agg.remove((opId, "construct"))).getOrElse(TaskAgg())
    val stages = Option(execL.stagesDone.remove((opId, "action"))).getOrElse(0) +
      Option(execL.stagesDone.remove((opId, "construct"))).getOrElse(0)
    val constructMs = ms(t0, t1)
    val actionMs = ms(t1, t2)
    val unattributed = actionMs - catalystMs - execMs
    span("op", opId, "", t0, t2)
    span("graft.construct", opId, opId, t0, t1)
    eager.foreach(j => span("graft.eager_job", opId, "graft.construct", toNano(j.start), toNano(j.end)))
    span("action", opId, opId, t1, t2)
    actionQe.foreach { r =>
      span("catalyst", opId, "action", toNano(r.startMs), toNano(r.endMs))
    }
    actionJobs.foreach(j => span("exec.job", opId, "action", toNano(j.start), toNano(j.end)))
    Seq(
      "graft.construct_ms" -> constructMs,
      "graft.eager_jobs" -> eager.size,
      "graft.eager_ms" -> eagerMs,
      "catalyst.analysis_ms" -> anal, "catalyst.optimization_ms" -> opt,
      "catalyst.planning_ms" -> plan,
      "catalyst.exchanges" -> actionQe.map(_.exchanges).sum,
      "catalyst.codegen_stages" -> actionQe.map(_.codegenStages).sum,
      "catalyst.fallback_exprs" -> actionQe.map(_.fallbackExprs).sum,
      "exec.wall_ms" -> execMs, "exec.jobs" -> actionJobs.size, "exec.stages" -> stages,
      "exec.tasks" -> (a.tasks + ea.tasks), "exec.task_run_ms" -> (a.runMs + ea.runMs).toDouble,
      "exec.task_cpu_ms" -> (a.cpuNs + ea.cpuNs) / 1e6, "exec.gc_ms" -> (a.gcMs + ea.gcMs).toDouble,
      "exec.scheduler_delay_ms" -> (a.schedMs + ea.schedMs).toDouble,
      "exec.busy_frac" -> (if (execMs > 0) a.runMs / (execMs * cpus) else 0.0),
      "exec.shuffle_read_bytes" -> (a.shRead + ea.shRead),
      "exec.shuffle_write_bytes" -> (a.shWrite + ea.shWrite),
      "exec.input_bytes" -> (a.input + ea.input), "exec.spill_bytes" -> (a.spill + ea.spill),
      "unattributed_ms" -> unattributed)
  }
}
