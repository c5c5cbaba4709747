package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump `.explain("formatted")` for named registry queries to
  * files — the plan evidence committed under plans/<round>/. Usage:
  * `runMain graft.PlanDump <dataDir> <outDir> <query> [query...]`.
  * Bench's session ([[graft.core.LocalSession]]), so the dumped plan is
  * the benched plan. Each plan is written [[normalise]]d, so two dumps of
  * the same code compare with a plain `diff -r`. */
object PlanDump {

  /** The run-specific tokens of a formatted plan, each with the
    * replacement (a `Matcher` replacement string) it becomes: numbers
    * drawn from JVM-wide counters (which shift with everything the JVM
    * planned before), object identities and random Spark ML column
    * uids. */
  private val RunSpecific = Seq(
    """\$\$Lambda[^@\s]*@[0-9a-f]+""".r -> """\$\$Lambda@<id>""", // lambda identity
    """(lambda \w+)_\d+""".r -> "$1_<n>",           // lambda variable number
    """RDD\[\d+\]""".r -> "RDD[<n>]",               // RDD id
    """inputCol_[0-9a-f]{12}""".r -> "inputCol_<uid>", // Identifiable.randomUID
    """plan_id=\d+""".r -> "plan_id=<n>",           // exchange plan id
    """#\d+""".r -> "#<n>")                         // expression id

  /** `plan` with the fixture root and the run-specific tokens replaced by
    * placeholders. */
  def normalise(plan: String, fixtureRoot: String = graft.core.Fixtures.dir): String =
    RunSpecific.foldLeft(plan.replace(fixtureRoot, "<fixtures>")) {
      case (txt, (re, replacement)) => re.replaceAllIn(txt, replacement)
    }

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
          normalise(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
        } catch {
          case e: Throwable => s"PLAN FAILED: ${e.getMessage}"
        } finally graft.core.Release.storage(spark)
      Files.write(Paths.get(outDir, s"$n.txt"), txt.getBytes("UTF-8"))
      System.err.println(s"[plandump] wrote $n")
    }
    spark.stop()
  }
}
