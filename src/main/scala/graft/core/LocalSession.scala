package graft.core

import org.apache.spark.sql.SparkSession

/** The one local-mode session the graft mains and the test suites build:
  * `local[cpus]` with as many shuffle partitions, UTC, AQE on, UI off,
  * the engine functions registered ([[graft.functions.GraftExtensions]])
  * and log level WARN. The generated-code cache holds 1000 classes: the
  * registry's queries generate far more than Spark's default 100, and at
  * 100 the cache evicts and the JIT recompiles some classes every round,
  * splitting CPU figures in two. Mains that must honour a `spark-submit`
  * master (ConverterMain, MetricTickMain) build their own session. */
object LocalSession {
  def apply(cpus: Int, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
