package graft.operators

import java.nio.file.Files

import graft.SparkSuite
import graft.core.{Tables => T}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-path utilities: two-phase top-k equivalence, salted-join
  * equivalence, partitioned-write pruning, bucketed-join shuffle
  * elimination (SURVEY.md §4.2 / §7.4 item 6). */
class ScaleUtilsSpec extends SparkSuite {

  test("TopK.perKey equals the window row_number form") {
    val orders = T.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    val viaUtil = TopK.perKey(orders, Seq("o_custkey"), "o_totalprice", 3)
      .select("o_custkey", "o_orderkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("o_totalprice").desc)
    val viaWindow = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaUtil == viaWindow)
  }

  test("TopK.perKey global (no keys) equals orderBy + limit") {
    val orders = T.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val viaUtil = TopK.perKey(orders, Nil, "o_totalprice", 5)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val direct = orders.orderBy(col("o_totalprice").desc).limit(5)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(viaUtil == direct)
  }

  test("salted join returns exactly the plain join's rows") {
    val orders = T.orders(spark, sfDir)
    val customer = T.customer(spark, sfDir)
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(customer, Seq("o_custkey"))
      .select("o_orderkey", "c_name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val salted = Salting.saltedJoin(orders, customer, Seq("o_custkey"), n = 4)
      .select("o_orderkey", "c_name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(salted == plain)
  }

  test("partitioned write -> filtered scan prunes partitions") {
    val out = Files.createTempDirectory("graft_part").toString + "/events"
    T.events(spark, sfDir).write.mode("overwrite")
      .partitionBy("event_type").parquet(out)
    val scan = spark.read.parquet(out).filter(col("event_type") === "click")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan)
    assert(scan.count() > 0)
    // pruned scan reads 1 of 5 type-partitions
    val files = scan.select(input_file_name()).distinct().collect()
      .map(_.getString(0))
    assert(files.forall(_.contains("event_type=click")), files.mkString(","))
  }

  test("bucketed tables join without a shuffle exchange") {
    val warehouse = Files.createTempDirectory("graft_buck").toString
    val o = T.orders(spark, sfDir).select("o_orderkey", "o_custkey", "o_totalprice")
    def bucketed(df: DataFrame, table: String): Unit =
      df.write.mode("overwrite").bucketBy(4, "o_custkey").sortBy("o_custkey")
        .option("path", s"$warehouse/$table").format("parquet")
        .saveAsTable(table)
    bucketed(o, "orders_b")
    val c = T.customer(spark, sfDir).select("c_custkey", "c_name")
      .withColumnRenamed("c_custkey", "o_custkey")
    bucketed(c, "customer_b")
    // disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("orders_b").join(spark.table("customer_b"), "o_custkey")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
  }
}
