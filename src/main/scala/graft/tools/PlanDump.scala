package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.{Bench, SparkEntry}

/** Writes each named SparkEntry query's physical plan — formatted
  * explain, then the executed-plan tree — to <outDir>/<name>_<tag>.txt
  * (the plans/rNN format), under the bench posture so the dump is the
  * plan Bench times. It then builds and runs the entry once more as
  * Bench does (noop sink) and writes what that ran, eager jobs during
  * construction included, to <outDir>/<name>_<tag>.counts.json: Spark
  * actions (query executions plus RDD jobs outside any), jobs, stages,
  * shuffles (shuffle-map stages run) and broadcasts (broadcast
  * exchanges in the executed plans).
  * Usage: PlanDump <sfDir> <outDir> <tag> [query...] — with no query
  * names, every SparkEntry.queries entry in sorted order.
  */
object PlanDump {
  /** What ran while it was attached. */
  final class Counts extends SparkListener {
    private val n = Seq("actions", "jobs", "stages", "shuffles", "broadcasts")
      .map(_ -> new AtomicInteger).toMap
    private def bump(k: String): Unit = n(k).incrementAndGet()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      bump("jobs")
      if (Option(e.properties).forall(_.getProperty(SQLExecution.EXECUTION_ID_KEY) == null))
        bump("actions")
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      bump("stages")
      if (GraftBus.writesShuffle(e.stageInfo)) bump("shuffles")
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart
          if s.rootExecutionId.forall(_ == s.executionId) =>
        bump("actions")
        def walk(p: SparkPlanInfo): Unit = {
          if (p.nodeName == "BroadcastExchange") bump("broadcasts")
          p.children.foreach(walk)
        }
        walk(s.sparkPlanInfo)
      case _ =>
    }
    def json: String = n.keys.toSeq.sorted
      .map(k => s""""$k": ${n(k).get}""").mkString("{", ", ", "}")
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag) = args.take(3)
    val spark = Bench.session(Bench.cpus)
    val sc = spark.sparkContext
    Files.createDirectories(Paths.get(outDir))
    val names = if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
      val out = Paths.get(outDir, s"${n}_$tag.txt")
      Files.writeString(out,
        qe.explainString(FormattedMode) + "\n" + qe.executedPlan.toString)
      println(s"[plandump] wrote $out")
      // built again with the listener on: the entry's table reads are
      // memoized by now, as in Bench's timed rounds, so no schema
      // inference job is counted
      val counts = new Counts
      GraftBus.drain(sc)
      sc.addSparkListener(counts)
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      GraftBus.drain(sc)
      sc.removeSparkListener(counts)
      Files.writeString(Paths.get(outDir, s"${n}_$tag.counts.json"), counts.json + "\n")
      println(s"[plandump] $n ${counts.json}")
    }
    spark.stop()
  }
}
