package graft
import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for named declared queries to files —
  * the before/after plan evidence for optimization rounds
  * (plans/r<N>/<query>_<tag>.txt). Usage:
  *   runMain graft.PlanDump <sfDir> <outDir> <tag> [q1,q2,...]
  * Uses the same session conf as Bench so the captured plan is the plan
  * the bench actually executes. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val only: Option[Set[String]] = args.drop(3).headOption.map(_.split(",").toSet)
    val spark = GraftSession.builder(GraftSession.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.filter(kv => only.forall(_.contains(kv._1))).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(s"$outDir/${name}_$tag.txt"), txt.getBytes("UTF-8"))
        println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
