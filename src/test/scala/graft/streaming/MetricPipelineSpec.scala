package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import graft.core.LocalSession
import graft.streaming.MetricPipeline._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Streaming golden tests (SURVEY.md §5.2 item 4): MemoryStream-scripted
  * epochs through window-avg → threshold → stateful cooldown, deterministic
  * because event-time windows + explicit epoch boundaries. */
class MetricPipelineSpec extends SparkSuite {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000)

  test("R7-R9: RM payload parse + bc-style percent; zero-core tick skipped") {
    val payloads = Seq(
      (ts(0), """{"clusterMetrics": {"availableVirtualCores": 13, "totalVirtualCores": 16}}"""),
      (ts(30), """{"clusterMetrics": {"availableVirtualCores": 1, "totalVirtualCores": 3}}"""),
      (ts(60), """{"clusterMetrics": {"availableVirtualCores": 4, "totalVirtualCores": 0}}""")
    ).toDF("ts", "payload")
    val pts = parseRmPayload(payloads, "j-ABC123XYZ").collect().sortBy(_.ts.getTime)
    assert(pts.map(_.value).toSeq == Seq(81.25, 33.33)) // third tick skipped
    assert(pts.forall(_.metric == "YARNCoreAvailablePercentage"))
    assert(pts.forall(_.clusterId == "j-ABC123XYZ"))
  }

  test("R14: tumbling window average over a scripted metric stream") {
    val input = MemoryStream[MetricPoint](spark)
    val q = windowAvg(input.toDS(), window_ = "5 minutes", slide = "5 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append).start()
    try {
      // window [0,300): avgs 10,20 -> 15; window [300,600): 80 -> 80
      input.addData(
        MetricPoint(ts(10), "j-1", "m", 10.0),
        MetricPoint(ts(200), "j-1", "m", 20.0),
        MetricPoint(ts(310), "j-1", "m", 80.0))
      q.processAllAvailable()
      // advance watermark far enough to close both windows
      input.addData(MetricPoint(ts(5000), "j-1", "m", 50.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select("win_start", "avg_value", "n_obs").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getDouble(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      assert(rows.contains((0L, 15.0, 2L)))
      assert(rows.contains((300L, 80.0, 1L)))
    } finally q.stop()
  }

  test("R15: classify applies the data-driven comparison operators") {
    val avgs = Seq(
      (ts(300), ts(600), "j-1", "m", 10.0, 5L),
      (ts(600), ts(900), "j-1", "m", 25.0, 5L),
      (ts(900), ts(1200), "j-1", "m", 50.0, 5L),
      (ts(1200), ts(1500), "j-1", "m", 80.0, 5L)
    ).toDF("win_start", "win_end", "clusterId", "metric", "avg_value", "n_obs")
    val out = classify(avgs).select("avg_value", "decision").collect()
      .map(r => (r.getDouble(0), r.getString(1))).toMap
    assert(out == Map(10.0 -> "scale-out", 25.0 -> "scale-out",
      50.0 -> "hold", 80.0 -> "scale-in"))
    intercept[IllegalArgumentException](
      classify(avgs, Seq(graft.state.Scaling.Rule("x", "BOGUS", 1.0, 0, 0L))))
  }

  /** Drives the scripted low-usage epochs through `decide` on `session`,
    * from a fresh checkpoint, and returns the emitted action tuples in
    * order. */
  private def cooldownRun(session: SparkSession): Seq[(String, Long, Int, Int)] = {
    val input = MemoryStream[MetricPoint](session)
    val actions = decide(
      windowAvg(input.toDS(), window_ = "5 minutes", slide = "5 minutes"),
      initialCapacity = 0)
    val out = new ConcurrentLinkedQueue[(String, Long, Int, Int)]
    val sink: (DataFrame, Long) => Unit = (df, _) =>
      df.collect().foreach(r => out.add((r.getAs[String]("rule"),
        r.getAs[Long]("atSec"), r.getAs[Int]("from"), r.getAs[Int]("to"))))
    val q = actions.toDF().writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation",
        Files.createTempDirectory("graft_cooldown").toString)
      .foreachBatch(sink).start()
    try {
      // epoch 1: low usage in windows [0,300) and [300,600)
      input.addData(
        MetricPoint(ts(10), "j-1", "m", 5.0),
        MetricPoint(ts(310), "j-1", "m", 5.0))
      q.processAllAvailable()
      // epoch 2: close the windows (watermark) + a later low window that
      // re-fires after cooldown
      input.addData(MetricPoint(ts(910), "j-1", "m", 5.0))
      q.processAllAvailable()
      input.addData(MetricPoint(ts(5000), "j-1", "m", 50.0))
      q.processAllAvailable()
      out.asScala.toSeq.sortBy(_._2)
    } finally q.stop()
  }

  private val cooldownExpected = Seq(
    ("scale-out", 300L, 0, 5),   // window [0,300) fires
    // window [300,600) fires too: the cooldown holds while less than
    // 300 s have passed since the last action, and 600 - 300 = 300
    ("scale-out", 600L, 5, 10),
    ("scale-out", 1200L, 10, 15))

  test("R16/R17: transformWithState cooldown emits the expected action sequence") {
    ensureRocksDbStateStore(spark)
    assert(cooldownRun(spark) == cooldownExpected)
  }

  /** Generated classes a restarted [[cooldownRun]] may still compile: one
    * per micro-batch, of which it runs at most six. Spark inlines each
    * batch's watermark as a literal in the window operator's predicates,
    * so a batch whose watermark no earlier query had compiles its
    * predicate anew. A restart whose tasks got a new executor classloader
    * compiled 34 classes. */
  private val RestartCompileBound = 6

  test("a restarted stream query reuses the last query's generated classes") {
    // Spark's default, set explicitly: the hook must turn it off
    val session = spark.newSession()
    session.conf.set(LocalSession.SharedClassLoader._1, "true")
    ensureRocksDbStateStore(session)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val first = cooldownRun(session)
    val before = compiles.getCount
    val second = cooldownRun(session)
    val compiled = compiles.getCount - before
    assert(first == cooldownExpected)
    assert(second == first)
    assert(compiled <= RestartCompileBound,
      s"the restarted query compiled $compiled generated classes")
  }

  test("watermark drops late rows beyond the delay") {
    val input = MemoryStream[MetricPoint](spark)
    val q = windowAvg(input.toDS(), window_ = "5 minutes", slide = "5 minutes",
        watermark = "1 minutes")
      .writeStream.format("memory").queryName("late_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(MetricPoint(ts(10), "j-1", "m", 10.0))
      q.processAllAvailable()
      input.addData(MetricPoint(ts(2000), "j-1", "m", 30.0)) // advances watermark
      q.processAllAvailable()
      input.addData(MetricPoint(ts(20), "j-1", "m", 99.0))   // too late — dropped
      q.processAllAvailable()
      input.addData(MetricPoint(ts(9000), "j-1", "m", 1.0))  // close all
      q.processAllAvailable()
      val w0 = spark.table("late_out")
        .filter(col("win_start") === ts(0)).select("avg_value", "n_obs")
        .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
      assert(w0 == Seq((10.0, 1L))) // late 99.0 not merged
    } finally q.stop()
  }

  test("session windows: gap-based grouping (capability matrix)") {
    val pts = Seq(
      MetricPoint(ts(0), "j-1", "m", 1.0),
      MetricPoint(ts(100), "j-1", "m", 2.0),  // same session (gap < 5 min)
      MetricPoint(ts(1000), "j-1", "m", 3.0)  // new session
    ).toDS()
    val sess = pts.groupBy(session_window(col("ts"), "5 minutes"), col("clusterId"))
      .agg(count(lit(1)).as("n"))
      .select(col("n")).as[Long].collect().sorted.toSeq
    assert(sess == Seq(1L, 2L))
  }

  test("stream-static join: per-metric thresholds joined onto the stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rules = Seq(("m1", 50.0), ("m2", 10.0)).toDF("metric", "threshold")
    val input = MemoryStream[MetricPoint](spark)
    val joined = input.toDS().toDF()
      .join(broadcast(rules), Seq("metric"))
      .withColumn("breach", col("value") > col("threshold"))
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        MetricPoint(ts(10), "j-1", "m1", 60.0),
        MetricPoint(ts(20), "j-1", "m1", 40.0),
        MetricPoint(ts(30), "j-1", "m2", 20.0),
        MetricPoint(ts(40), "j-1", "m3", 99.0)) // no rule -> dropped (inner)
      q.processAllAvailable()
      val rows = spark.table("ss_join")
        .select("metric", "value", "breach").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2))).toSet
      assert(rows == Set(("m1", 60.0, true), ("m1", 40.0, false),
        ("m2", 20.0, true)))
    } finally q.stop()
  }

  test("end-to-end 30s-trigger query runs through foreachBatch sink") {
    val input = MemoryStream[(Timestamp, String)](spark)
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val q = MetricPipeline.start(
      input.toDF().toDF("ts", "payload"), "j-E2E",
      (batch, _) => { seen.addAndGet(batch.count()); () },
      dir, Trigger.AvailableNow()) // AvailableNow: drain synchronously in test
    try {
      input.addData(
        (ts(10), """{"clusterMetrics": {"availableVirtualCores": 1, "totalVirtualCores": 16}}"""),
        (ts(5000), """{"clusterMetrics": {"availableVirtualCores": 16, "totalVirtualCores": 16}}"""))
      q.awaitTermination(60000)
      assert(seen.get() >= 1) // the low-usage window produced a scale-out
    } finally q.stop()
  }
}
