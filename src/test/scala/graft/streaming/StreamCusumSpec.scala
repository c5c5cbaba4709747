package graft.streaming

import graft.SparkSuite
import graft.streaming.StreamAnomaly.MetricEvent
import graft.streaming.StreamCusum._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Golden epochs for the streaming CUSUM: the running statistic
  * accumulates ACROSS micro-batches (the state store carries it), alarms
  * land exactly where a driver-side fold of the recurrence says, reset-
  * on-alarm re-arms the chart, and series are independent. */
class StreamCusumSpec extends SparkSuite {
  import spark.implicits._

  // target 10, slack 1: a value of 13 adds +2 to S, a 9 drains 2
  private val Target = 10.0
  private val Slack = 1.0
  private val H = 5.0

  private def ev(series: String, i: Int, v: Double) =
    MetricEvent(series, i.toLong * 1000, i.toLong, v)

  private def drain(name: String): Seq[CusumAlarm] =
    spark.table(name).as[CusumAlarm].collect().toSeq
      .sortBy(a => (a.series, a.eventId))

  /** Driver-side fold of the same recurrence — the spec's ground truth. */
  private def fold(vals: Seq[(Int, Double)], reset: Boolean = true)
      : Seq[(Long, Double)] = {
    var s = 0.0
    val out = Seq.newBuilder[(Long, Double)]
    vals.foreach { case (i, v) =>
      s = math.max(0.0, s + (v - Target - Slack))
      if (s > H) { out += ((i.toLong, s)); if (reset) s = 0.0 }
    }
    out.result()
  }

  test("drift accumulates across epochs and alarms match the fold exactly") {
    MetricPipeline.ensureRocksDbStateStore(spark)
    val input = MemoryStream[MetricEvent](spark)
    val q = alarms(input.toDS(), Target, Slack, H).toDF()
      .writeStream.format("memory").queryName("cusum_out")
      .outputMode(OutputMode.Append).start()
    try {
      // epoch 1: +2 drift per row, three rows → S = 6 > 5 alarms at id 2
      val e1 = (0 until 3).map(i => (i, 13.0))
      input.addData(e1.map { case (i, v) => ev("cpu", i, v) }: _*)
      q.processAllAvailable()
      // epoch 2: S restarted after the alarm; two more drift rows stay
      // under h (S = 4), the third crosses — PROVING S survived the epoch
      val e2 = (3 until 6).map(i => (i, 13.0))
      input.addData(e2.map { case (i, v) => ev("cpu", i, v) }: _*)
      q.processAllAvailable()
      val want = fold(e1 ++ e2)
      val got = drain("cusum_out").map(a => (a.eventId, a.s))
      assert(want.nonEmpty && want.exists(_._1 >= 3),
        s"fold bug: no cross-epoch alarm in $want")
      assert(got == want, s"got $got want $want")
    } finally q.stop()
  }

  test("a one-off spike below h never alarms; back-at-target drains S") {
    MetricPipeline.ensureRocksDbStateStore(spark)
    val input = MemoryStream[MetricEvent](spark)
    val q = alarms(input.toDS(), Target, Slack, H).toDF()
      .writeStream.format("memory").queryName("cusum_out2")
      .outputMode(OutputMode.Append).start()
    try {
      // +4 spike (S=4 < 5), then on-target rows drain S to 0, then another
      // +4: without the drain the second spike would cross — it must not
      input.addData(ev("cpu", 0, 15.0), ev("cpu", 1, 10.0), ev("cpu", 2, 10.0),
        ev("cpu", 3, 10.0), ev("cpu", 4, 10.0))
      q.processAllAvailable()
      input.addData(ev("cpu", 5, 15.0))
      q.processAllAvailable()
      assert(drain("cusum_out2").isEmpty)
    } finally q.stop()
  }

  test("checkpointed restart carries the running statistic across queries") {
    MetricPipeline.ensureRocksDbStateStore(spark)
    val srcDir = freshDir("cusum_src")
    val outDir = freshDir("cusum_out_pq")
    val ckpt = freshDir("cusum_ckpt")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val all = (0 until 6).map(i => ev("cpu", i, 13.0)) // fold: alarms at 2, 5
    def addChunk(i: Int, rows: Seq[MetricEvent]): Unit = {
      val tmp = freshDir(s"cusum_stage$i")
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir, f"c$i%02d.parquet"))
    }
    def run(): Unit = {
      val in = spark.readStream.schema(all.toDF().schema).parquet(srcDir)
        .as[MetricEvent]
      val q = alarms(in, Target, Slack, H).toDF()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
      try q.processAllAvailable() finally q.stop()
    }
    addChunk(0, all.take(3)); run() // epoch: S reaches 6 → alarm at id 2
    addChunk(1, all.drop(3)); run() // RESTARTED query: S must resume at 0
    val got = spark.read.parquet(outDir).as[CusumAlarm].collect().toSeq
      .sortBy(_.eventId).map(a => (a.eventId, a.s))
    val want = fold(all.map(e => (e.eventId.toInt, e.value)))
    assert(want.map(_._1) == Seq(2L, 5L), s"fold shape drifted: $want")
    assert(got == want, s"got $got want $want")
  }

  test("series are independent: one series' drift never alarms another") {
    MetricPipeline.ensureRocksDbStateStore(spark)
    val input = MemoryStream[MetricEvent](spark)
    val q = alarms(input.toDS(), Target, Slack, H).toDF()
      .writeStream.format("memory").queryName("cusum_out3")
      .outputMode(OutputMode.Append).start()
    try {
      val cpu = (0 until 4).map(i => ev("cpu", i, 13.0))   // S reaches 8
      val mem = (0 until 4).map(i => ev("mem", 100 + i, 10.0))
      input.addData(cpu ++ mem: _*)
      q.processAllAvailable()
      val rows = drain("cusum_out3")
      assert(rows.nonEmpty && rows.forall(_.series == "cpu"),
        rows.mkString("\n"))
    } finally q.stop()
  }
}
