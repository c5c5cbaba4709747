package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Runnable demo of the streaming metric pipeline — the engine's
  * re-expression of the reference's cron→curl→jq→bc→CloudWatch loop
  * (SURVEY.md §3.2): a directory of RM-metrics JSON payloads plays the
  * poll source; the query windows, classifies and applies the stateful
  * cooldown/clamp, printing scaling actions.
  *
  * Usage: `sbt "runMain graft.streaming.MetricDemo"` — writes a simulated
  * load trace (100%→low→recover) and prints the resulting actions.
  */
object MetricDemo {

  /** The README demo story (/root/reference/README.md:174-188) at the
    * reference's 30 s cadence, t0 aligned to the 30 s window grid: the
    * submitted job pins the cores (12.5% ≤ 25 → scale-out, repeated
    * fires separated by the 300 s cooldown with suppressed windows in
    * between), then the load drains (93.75% > 75 → scale-in). The trace
    * starts AT submission — an idle prefix would fire the scale-in rule
    * immediately (100% free > 75), which is correct rule behavior but
    * not the README's narrative. `AutoscaleReplaySpec` replays exactly
    * this trace with a mid-stream crash/restart. */
  val demoT0: Long = 1700000010L // multiple of 30: ticks sit on the grid

  def demoTrace: Seq[String] = (0 until 90).map { i =>
    val (avail, total) = i match {
      case j if j < 50 => (2, 16)    // busy: 12.5% → scale-out territory
      case _           => (15, 16)   // drained: 93.75% → scale-in
    }
    val ts = demoT0 + i * 30
    s"""{"ts": $ts, "payload": "{\\"clusterMetrics\\": {\\"availableVirtualCores\\": $avail, \\"totalVirtualCores\\": $total}}"}"""
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.LocalSession(4, "graft-metric-demo")

    val base = Files.createTempDirectory("graft_demo")
    val srcDir = base.resolve("payloads"); Files.createDirectories(srcDir)
    val ckpt = base.resolve("ckpt").toString

    Files.writeString(srcDir.resolve("trace.jsonl"), demoTrace.mkString("\n"))

    // the custom DSv2 replay source stands in for the reference's
    // cron+curl poll loop, rate-limited to one "tick" batch per trigger
    val payloads = spark.readStream
      .format("graft.sources.ReplaySource")
      .option("path", srcDir.resolve("trace.jsonl").toString)
      .option("maxRowsPerBatch", "20")
      .load()

    val q = MetricPipeline.start(
      payloads, "j-DEMO",
      (batch, epoch) => {
        val acts = batch.orderBy("atSec").collect()
        acts.foreach { r =>
          println(f"[demo] epoch=$epoch action=${r.getAs[String]("rule")}%-10s " +
            f"at=${r.getAs[Long]("atSec")} capacity ${r.getAs[Int]("from")}%2d -> ${r.getAs[Int]("to")}%2d")
        }
      },
      ckpt, Trigger.AvailableNow())
    q.awaitTermination(120000)
    spark.stop()
  }
}
