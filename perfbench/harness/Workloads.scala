package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.core.{Release, Tables}
import graft.lake.CowTable
import graft.streaming.MetricPipeline

object Plan {
  def lines(path: String): IndexedSeq[String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(_.nonEmpty).toIndexedSeq
  def write(path: String, lines: Iterable[String]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), lines.asJava)
  }
}

/** olap_mix: registry queries run to the noop sink, storage released after
  * each (as graft.Bench does). The plan's first line lists the queries;
  * each further line is one round's seeded order. */
final class QueryMix(ctx: Ctx, plan: String) extends Workload {
  import ctx._
  private val lines = Plan.lines(s"$plan/queries.txt")
  private val queries = lines.head.split(" ").toSeq
  private val rounds = lines.tail.map(_.split(" ").toSeq)
  private val defs = graft.SparkEntry.registry.toMap

  private def run(name: String)(sink: DataFrame => Unit): Unit = {
    val df = phase("build")(defs(name).fn(spark, dataDir))
    try phase("action")(sink(df))
    finally phase("release") {
      if (tracer.isDefined) {
        val used = spark.sparkContext.getExecutorMemoryStatus.values
          .map { case (max, free) => max - free }.sum / 1048576.0
        extra("cached_mb_peak") = math.max(extra("cached_mb_peak"), used)
      }
      Release.storage(spark)
    }
  }

  private def toNoop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Every query's output for the check, under `out/<query><suffix>`. A
    * failed query leaves no output, which fails the check. */
  private def toParquet(suffix: String): Unit = queries.foreach(n => attempt(n)(run(n)(
    _.coalesce(1).write.mode("overwrite").parquet(path(s"out/$n$suffix")))))

  /** The first untimed pass writes every query's output, and its oracle
    * SQL, for the check. Short queries are still being compiled by the JIT
    * after one pass, so [[QueryMix.WarmPasses]] more passes run to the noop
    * sink. */
  def setup(): Unit = {
    toParquet("")
    for (_ <- 1 to QueryMix.WarmPasses; n <- queries) attempt(n)(run(n)(toNoop))
    val sql = queries.flatMap(n => defs(n).oracle.map(q => Json.str(n) + ":" + Json.str(q)))
    Plan.write(path("out/oracle_sql.json"), Seq(sql.mkString("{", ",", "}")))
  }

  def round(): Boolean = rounds.lift(ctx.round) match {
    case None => false
    case Some(order) =>
      order.foreach(n => attempt(n)(op("query", n)(run(n)(toNoop))))
      true
  }

  /** The outputs again, once the timed rounds have run each query many
    * times: a query that goes wrong only on a later call fails the check. */
  override def finish(): Unit = toParquet("_after")
}

object QueryMix {
  val WarmPasses = 3
}

/** lake_stream: each round runs a [[LakeRw]] round, then a [[MetricStream]]
  * round, in one session. */
final class Rounds(parts: Workload*) extends Workload {
  def setup(): Unit = parts.foreach(_.setup())
  def round(): Boolean = parts.map(_.round()).forall(identity)
  override def finish(): Unit = parts.foreach(_.finish())
}

/** lake_stream, lake part: CowTable commits, snapshot reads and maintenance
  * on a table built from orders. Plan line 0 is the untimed warm-up round; each
  * further line is one timed round of `;`-separated steps. */
final class LakeRw(ctx: Ctx, plan: String) extends Workload {
  import ctx._
  private val root = path("lake")
  private val lines = Plan.lines(s"$plan/lake.txt")
  private var version = 0L
  /** The change batches committed so far, in commit order. */
  private val committed = mutable.ArrayBuffer.empty[String]
  private val reads = mutable.ArrayBuffer.empty[String]

  private def agg(df: DataFrame): Row =
    df.agg(count(lit(1)), sum(col("o_orderkey")),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("string"))
      .collect().head

  private def paths(v: Long): Set[String] =
    CowTable.filelist(spark.newSession(), root, v).select("path").collect()
      .map(_.getString(0)).toSet

  private def read(kind: String, step: String, df: => DataFrame): Unit = {
    var snap: DataFrame = null
    val r = op(kind, kind)(phase("action") { snap = df; agg(snap) })
    reads += Seq(step, committed.size, r.getLong(0), r.getLong(1), r.getString(2)).mkString("\t")
    if (tracer.isDefined && timing) probe {
      extra("reads") += 1
      extra("files_per_snapshot") += paths(version).size
      extra("files_read") += snap.inputFiles.length
    }
  }

  private def step(s: String): Unit = s.split(" ") match {
    case Array("commit", i) =>
      val up = spark.read.parquet(s"$plan/up_$i.parquet")
      val del = spark.read.parquet(s"$plan/del_$i.parquet")
      val before = if (tracer.isDefined) probe(paths(version)) else Set.empty[String]
      version = op("commit", "commit")(phase("action")(CowTable.applyChanges(spark, root, up, del)))
      committed += i
      if (tracer.isDefined && timing) probe {
        extra("commits") += 1
        extra("files_rewritten") += (paths(version) -- before).size
      }
    case Array("read") => read("read", s, CowTable.readVersion(spark, root, version))
    case Array("pruned", lo, hi) =>
      read("pruned", s, CowTable.prunedRead(spark, root, version, Seq(("ck", lo.toLong, hi.toLong))))
    case Array("optimize") =>
      version = op("optimize", "optimize")(phase("action")(CowTable.optimize(spark, root)))
    case Array("vacuum", keep) =>
      op("vacuum", "vacuum")(phase("action")(CowTable.vacuum(spark, root, keep.toInt)))
    case other => throw new IllegalArgumentException(s"bad lake step ${other.mkString(" ")}")
  }

  /** A failed step is counted as a failed op and the round goes on; the
    * check replays only the batches that were committed. */
  private def steps(line: String): Unit =
    line.split(";").map(_.trim).foreach(s => attempt(s)(step(s)))

  def setup(): Unit = {
    version = CowTable.init(spark, Tables.orders(spark, dataDir), root)
    steps(lines.head)
  }

  def round(): Boolean = lines.lift(ctx.round + 1) match {
    case None => false
    case Some(l) => steps(l); true
  }

  override def finish(): Unit = {
    CowTable.readVersion(spark, root, version)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .coalesce(1).write.mode("overwrite").parquet(path("out/lake_final"))
    Plan.write(path("out/lake_reads.tsv"), reads)
    Plan.write(path("out/lake_commits.txt"), committed)
  }
}

/** lake_stream, stream part: per-cluster RM-metrics traces replayed through
  * ReplaySource, parsed, unioned, windowed and decided on RocksDB state,
  * into a sink that collects the resize actions. One round is one query
  * over the whole trace, from a fresh checkpoint; each micro-batch is an
  * op, timed by the stream's own progress report. */
final class MetricStream(ctx: Ctx, plan: String) extends Workload {
  import ctx._
  private val conf = Plan.lines(s"$plan/stream.txt").map { l =>
    val i = l.indexOf(' '); l.take(i) -> l.drop(i + 1) }.toMap
  private val clusters = conf("clusters").split(" ").toSeq
  private val batchRows = conf("batch")
  private val rounds = conf("rounds").toInt
  private val sinkMs = mutable.ArrayBuffer.empty[Double]

  private def runQuery(traceDir: String, tag: String, timed: Boolean): Unit = {
    MetricPipeline.ensureRocksDbStateStore(spark)
    val points = clusters.map { c =>
      MetricPipeline.parseRmPayload(
        spark.readStream.format("graft.sources.ReplaySource")
          .option("path", s"$traceDir/$c.jsonl")
          .option("maxRowsPerBatch", batchRows).load(), c)
    }.reduce(_ union _)
    val actions = mutable.ArrayBuffer.empty[String]
    val sink: (DataFrame, Long) => Unit = (df, _) => {
      val t0 = System.nanoTime()
      df.collect().foreach { r =>
        actions += Seq(r.getAs[String]("clusterId"), r.getAs[String]("rule"),
          r.getAs[Long]("atSec"), r.getAs[Int]("from"), r.getAs[Int]("to")).mkString("\t")
      }
      if (timed) sinkMs += (System.nanoTime() - t0) / 1e6
    }
    val q = MetricPipeline.decide(MetricPipeline.windowAvg(points)).toDF()
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", path(s"ckpt/$tag"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch(sink)
      .start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    val progress = q.recentProgress
    Plan.write(path(s"out/actions_$tag.tsv"), actions)
    Plan.write(path(s"out/rows_$tag.txt"), Seq(progress.map(_.numInputRows).sum.toString))
    if (timed) progress.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val total = d.getOrElse("triggerExecution", 0L)
      ops += Op("batch", "batch", ctx.round, start, total.toDouble)
      tracer.foreach { t =>
        val id = t.addSpan("op", 0L, start, start + total * 1000L)
        t.batchSpanIs(p.runId.toString, p.batchId, id)
        // the phases in the order a micro-batch runs them
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
          .foldLeft(start) { (at, k) =>
            val ms = d.getOrElse(k, 0L)
            t.addSpan("phase", id, at, at + ms * 1000L); at + ms * 1000L
          }
      }
    }
  }

  def setup(): Unit = runQuery(s"$plan/warm", "warm", timed = false)

  /** A round whose query fails counts as one failed op; its missing
    * outputs fail the check. */
  def round(): Boolean =
    if (ctx.round >= rounds) false
    else {
      probeDue()
      val t0 = Clock.nowUs
      if (!attempt(s"stream round ${ctx.round}")(runQuery(s"$plan/trace", s"r${ctx.round}", timed = true)))
        ops += Op("batch", "batch", ctx.round, t0, (Clock.nowUs - t0) / 1000.0, failed = true)
      true
    }

  override def finish(): Unit = {
    val s = sinkMs.sorted
    if (s.nonEmpty) extra("sink_ms_median") = s(s.size / 2)
  }
}
