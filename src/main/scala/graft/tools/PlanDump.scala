package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode
import graft.{Bench, SparkEntry}

/** Writes each named SparkEntry query's physical plan — formatted
  * explain, then the executed-plan tree — to <outDir>/<name>_<tag>.txt
  * (the plans/rNN format), under the bench posture so the dump is the
  * plan Bench times.
  * Usage: PlanDump <sfDir> <outDir> <tag> <query...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag) = args.take(3)
    val spark = Bench.session(Bench.cpus)
    Files.createDirectories(Paths.get(outDir))
    args.drop(3).foreach { n =>
      val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
      val out = Paths.get(outDir, s"${n}_$tag.txt")
      Files.writeString(out,
        qe.explainString(FormattedMode) + "\n" + qe.executedPlan.toString)
      println(s"[plandump] wrote $out")
    }
    spark.stop()
  }
}
