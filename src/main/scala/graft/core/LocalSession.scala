package graft.core

import org.apache.spark.sql.SparkSession

/** The one local-mode session the graft mains and the test suites build:
  * `local[cpus]` with as many shuffle partitions, UTC, AQE on, UI off,
  * the engine functions registered ([[graft.functions.GraftExtensions]])
  * and log level WARN. The generated-code cache holds 1000 classes: the
  * registry's queries generate far more than Spark's default 100, and at
  * 100 the cache evicts and the JIT recompiles some classes every round,
  * splitting CPU figures in two. Artifact isolation is off
  * ([[SharedClassLoader]]), so this session and every stream clone of it
  * share one executor classloader and one generated-code cache. Mains
  * that must honour a `spark-submit` master (ConverterMain,
  * MetricTickMain) build their own session. */
object LocalSession {

  /** `spark.sql.artifact.isolation.enabled = false`: one executor
    * classloader for every session of the JVM. With Spark's default
    * (on), an executor builds a new classloader for each session UUID,
    * and every streaming query runs in a cloned session with a new UUID.
    * The generated-code cache is keyed on the task thread's classloader
    * and the code, so each stream query start compiled again, with
    * Janino and then the JIT, classes identical to ones already compiled
    * (about 38 per round of the benchmark's `lake_stream`). The isolation
    * guards per-session artifacts (`addArtifact`, `ADD JAR`), and graft
    * adds none. Set by [[apply]] and by
    * [[graft.streaming.MetricPipeline.ensureRocksDbStateStore]]. */
  val SharedClassLoader: (String, String) =
    "spark.sql.artifact.isolation.enabled" -> "false"

  def apply(cpus: Int, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config(Map(SharedClassLoader))
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
