package graft.core

import graft.SparkSuite

/** Pins the [[LocalSession]] contract that Bench, Verify, PlanDump and
  * the suites share. */
class LocalSessionSpec extends SparkSuite {
  test("shared session: partitions, UTC, AQE, codegen cache, engine functions") {
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
    assert(spark.sparkContext.master == "local[4]")
    // dot_product is registered by GraftExtensions, not by Spark
    val v = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS v")
      .collect().head.getDouble(0)
    assert(v == 11.0)
  }

  test("shared session: artifact isolation off, one executor classloader") {
    val (key, value) = LocalSession.SharedClassLoader
    assert(key == "spark.sql.artifact.isolation.enabled" && value == "false")
    assert(spark.conf.get(key) == "false")
  }
}
