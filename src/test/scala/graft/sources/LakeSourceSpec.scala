package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSuite
import graft.core.{Tables => T}
import graft.lake.StreamLake

/** LakeSource's incremental-read contracts: a fresh read sees exactly
  * the committed rows, a checkpointed read resumes with only the new
  * batches, uncommitted batch dirs are invisible, and compaction makes
  * a below-floor checkpoint fail loudly while a fresh read starts at
  * the compacted snapshot. */
class LakeSourceSpec extends SparkSuite {

  private val sf001 = "/root/testdata/sf0.01"

  /** Drain all available batches into a row buffer via foreachBatch (the
    * memory sink cannot recover from a checkpoint; foreachBatch can). */
  private def drain(table: String, ckpt: String): Seq[(Long, Long)] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = spark.readStream.format("graft.sources.LakeSource")
      .option("path", table).option("maxBatchesPerTrigger", "1").load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select(col("o_orderkey"), col("batch")).collect()
          .foreach(r => got.add((r.getLong(0), r.getLong(1))))
        ()
      }.start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    got.asScala.toSeq
  }

  test("fresh read sees exactly the committed rows; resume sees only new ones") {
    val table = freshDir("lakesource_t")
    val ckpt = freshDir("lakesource_ck")
    val orders = T.orders(spark, sf001)
    def ts(c: String) = lit(c).cast("timestamp")
    StreamLake.applyBatch(spark, table,
      orders.filter(col("o_orderdate") < ts("1997-01-01")), 0L)
    StreamLake.applyBatch(spark, table,
      orders.filter(col("o_orderdate") >= ts("1997-01-01") &&
        col("o_orderdate") < ts("1999-01-01")), 1L)
    // an uncommitted crash leftover beyond the pointer must be invisible
    graft.lake.ZLayout.ordersProjection(orders.limit(3))
      .write.partitionBy("fid").parquet(s"$table/batch=7")
    val got1 = drain(table, ckpt)
    val want1 = orders.filter(col("o_orderdate") < ts("1999-01-01"))
      .select(col("o_orderkey")).collect().map(_.getLong(0)).sorted.toSeq
    assert(got1.map(_._1).sorted == want1, "fresh read != committed rows")
    assert(got1.map(_._2).max == 1L, "uncommitted batch dir leaked")
    // new commits; resume from the SAME checkpoint reads only batch 2
    StreamLake.applyBatch(spark, table,
      orders.filter(col("o_orderdate") >= ts("1999-01-01")), 2L)
    val got2 = drain(table, ckpt)
    assert(got2.map(_._1).sorted ==
      orders.filter(col("o_orderdate") >= ts("1999-01-01"))
        .select(col("o_orderkey")).collect().map(_.getLong(0)).sorted.toSeq)
    assert(got2.forall(_._2 == 2L))
  }

  test("compaction: below-floor checkpoint fails loudly, fresh read gets the snapshot") {
    val table = freshDir("lakesource_c")
    val ckpt = freshDir("lakesource_c_ck")
    val orders = T.orders(spark, sf001).limit(100)
    StreamLake.applyBatch(spark, table, orders.filter(col("o_orderkey") % 2 === 0), 0L)
    drain(table, ckpt) // checkpoint now sits at offset 1
    StreamLake.applyBatch(spark, table, orders.filter(col("o_orderkey") % 2 === 1), 1L)
    StreamLake.compact(spark, table) // floor = 1... latest is 1 → floor 1
    // the old checkpoint consumed batch 0, whose rows are now folded into
    // the compacted batch — resuming must fail, not duplicate
    val err = intercept[Exception] {
      drain(table, ckpt)
    }
    def causes(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.toString +: causes(x.getCause))
    assert(causes(err).exists(_.contains("compaction floor")),
      s"expected the loud floor failure, got: ${causes(err).mkString(" | ")}")
    // a fresh reader starts AT the floor and sees the whole table once
    val ckpt2 = freshDir("lakesource_c_ck2")
    assert(drain(table, ckpt2).length == orders.count())
  }

  test("an all-empty-batch table streams zero rows without erroring") {
    val table = freshDir("lakesource_e")
    StreamLake.applyBatch(spark, table, T.orders(spark, sf001).limit(0), 0L)
    val ckpt = freshDir("lakesource_e_ck")
    assert(drain(table, ckpt).isEmpty)
  }
}
