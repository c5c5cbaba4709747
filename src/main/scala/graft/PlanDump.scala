package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump `.explain("formatted")` for named registry queries to
  * files — the plan evidence committed under plans/<round>/. Usage:
  * `runMain graft.PlanDump <dataDir> <outDir> <query> [query...]`.
  * Bench's session ([[graft.core.LocalSession]]), so the dumped plan is
  * the benched plan. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dataDir = args(0)
    val outDir = args(1)
    val names = args.drop(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.LocalSession(cpus.toInt, "graft-plandump")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val txt =
        try {
          val df = SparkEntry.queries(n)(spark, dataDir)
          df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        } catch {
          case e: Throwable => s"PLAN FAILED: ${e.getMessage}"
        } finally graft.core.Release.storage(spark)
      Files.write(Paths.get(outDir, s"$n.txt"), txt.getBytes("UTF-8"))
      System.err.println(s"[plandump] wrote $n")
    }
    spark.stop()
  }
}
